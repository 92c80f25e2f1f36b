package graft.core

import org.apache.spark.sql.SparkSession

/** The one session profile of the engine. Every entry point (the driver
  * mains, the dev mains, the pipeline CLI and the test fixture) builds its
  * session here, so tests, the gate and the bench run the same settings.
  */
object EngineSession {

  /** Settings every engine session carries: UTC, no UI and the engine's
    * SQL extensions (native asof strategy, function registrations, MV
    * rewrite).
    */
  val settings: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

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
}
