package graft.core

import graft.sources.SeqCatalog
import org.apache.spark.sql.SparkSession

/** The one session profile of the engine. Every entry point (the driver
  * mains, the dev mains, the pipeline CLI and the test fixture) builds its
  * session here, so tests, the gate and the bench run the same settings and
  * the same storage plane.
  */
object EngineSession {

  /** Settings every engine session carries: UTC, no UI, the engine's SQL
    * extensions (native asof strategy, function registrations, MV rewrite)
    * and the FILE-BACKED storage plane for a propertyless `CREATE TABLE`
    * (executor-written parquet + durable metadata + path-shipping scans);
    * a statement naming `'graft.storage'` still wins.
    */
  val settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    SeqCatalog.DefaultStorageConf -> "parquet")

  /** Local task slots: `SPARK_GRAFT_CPUS` (the driver contract sets it),
    * else every core this JVM sees.
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The profile on a builder whose master the launcher provides. */
  def builder(): SparkSession.Builder = SparkSession.builder().config(settings)

  /** The profile on a local master with `cores` task slots and as many
    * shuffle partitions.
    */
  def builder(cores: Int): SparkSession.Builder = builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)

  /** Runs `body` with the session's storage default unset, so a
    * propertyless `CREATE TABLE` inside it is DRIVER-RESIDENT; the conf is
    * restored as it was found (set or unset) on the way out.
    */
  def driverResident[A](spark: SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(SeqCatalog.DefaultStorageConf)
    spark.conf.unset(SeqCatalog.DefaultStorageConf)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(SeqCatalog.DefaultStorageConf, v)
      case None => spark.conf.unset(SeqCatalog.DefaultStorageConf)
    }
  }
}
