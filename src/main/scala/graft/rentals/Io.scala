package graft.rentals

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink layer, re-designed from `jobs/io_utils.py`.
  *
  * Config is a plain case class (the reference's `config/pipeline.yaml:1-22`
  * values; this offline build has no YAML dependency and none is needed — the
  * contract is the values, not the format).
  */
final case class PipelineConfig(
    nullPctThreshold: Double = 0.1, // config/pipeline.yaml:19
    minRows: Long = 100, // config/pipeline.yaml:20
    rentMin: Double = 0.0, // config/pipeline.yaml:21
    rentMax: Double = 50000.0, // config/pipeline.yaml:21
    uniqueKeys: Seq[String] = Seq("RegionID", "month"), // config/pipeline.yaml:22
    partitionKeys: Seq[String] = Seq("StateName", "year")) // config/pipeline.yaml:13

object PipelineConfig {

  /** Load thresholds from a config file (closes S8: the reference is
    * config-driven via `load_config`, `jobs/io_utils.py:56-66`, over
    * `config/pipeline.yaml`). This offline build has no YAML dependency, so
    * the loader parses the *subset* the reference file actually uses —
    * two-level `section:` / `  key: value` scalars, inline `[a, b]` lists,
    * and block `- item` lists, with `#` comments — which keeps a threshold
    * change an edit + rerun, not a recompile. Unknown keys are ignored;
    * missing keys keep the case-class defaults (the reference values).
    */
  def fromFile(path: String): PipelineConfig =
    fromString(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def fromString(text: String): PipelineConfig = {
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && ((t.head == '"' && t.last == '"') || (t.head == '\'' && t.last == '\'')))
        t.substring(1, t.length - 1)
      else t
    }
    def splitList(s: String): Seq[String] =
      s.trim.stripPrefix("[").stripSuffix("]").split(",").map(unquote).filter(_.nonEmpty).toSeq

    // strip a trailing comment, but never inside a quoted span — a '#'
    // inside "..."/'...' is value content
    def stripComment(line: String): String = {
      var quote: Char = 0
      val out = new StringBuilder
      var done = false
      line.foreach { c =>
        if (!done) {
          if (quote != 0) { if (c == quote) quote = 0; out += c }
          else if (c == '"' || c == '\'') { quote = c; out += c }
          else if (c == '#') done = true
          else out += c
        }
      }
      out.toString
    }

    // section -> key -> either scalar (Left) or list (Right)
    val sections = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, Either[String, Seq[String]]]]
    var section = ""
    var listKey: Option[String] = None
    text.linesIterator.foreach { raw =>
      val line = stripComment(raw)
      val trimmed = line.trim
      if (trimmed.nonEmpty) {
        val indented = line.head == ' ' || line.head == '\t'
        if (!indented && trimmed.endsWith(":")) {
          section = trimmed.dropRight(1)
          listKey = None
        } else if (trimmed.startsWith("- ") || trimmed == "-") {
          listKey.foreach { k =>
            val item = unquote(trimmed.stripPrefix("-"))
            if (item.nonEmpty) { // a bare '-' carries no value
              val m = sections.getOrElseUpdate(section, scala.collection.mutable.Map.empty)
              val prev = m.get(k).collect { case Right(xs) => xs }.getOrElse(Seq.empty)
              m(k) = Right(prev :+ item)
            }
          }
        } else if (trimmed.contains(":")) {
          // a non-indented key:value line is TOP-LEVEL — it must not be
          // attributed to whatever section happened to precede it
          if (!indented) { section = ""; listKey = None }
          val (k, v) = trimmed.splitAt(trimmed.indexOf(':'))
          val value = v.drop(1).trim
          val m = sections.getOrElseUpdate(section, scala.collection.mutable.Map.empty)
          if (value.isEmpty) { // block list follows
            listKey = Some(k.trim)
            m(k.trim) = Right(Seq.empty)
          } else {
            listKey = None
            if (value.startsWith("[")) m(k.trim) = Right(splitList(value))
            else m(k.trim) = Left(unquote(value))
          }
        }
      }
    }

    def scalar(sec: String, key: String): Option[String] =
      sections.get(sec).flatMap(_.get(key)).collect { case Left(v) => v }
    def list(sec: String, key: String): Option[Seq[String]] =
      sections.get(sec).flatMap(_.get(key)).collect { case Right(v) => v }

    val d = PipelineConfig()
    val range = list("dq_thresholds", "rent_range").filter(_.length == 2)
    PipelineConfig(
      nullPctThreshold = scalar("dq_thresholds", "null_pct").map(_.toDouble).getOrElse(d.nullPctThreshold),
      minRows = scalar("dq_thresholds", "min_rows").map(_.toLong).getOrElse(d.minRows),
      rentMin = range.map(_.head.toDouble).getOrElse(d.rentMin),
      rentMax = range.map(_.last.toDouble).getOrElse(d.rentMax),
      uniqueKeys = list("dq_thresholds", "uniqueness_keys").getOrElse(d.uniqueKeys),
      partitionKeys = list("partitioning", "partition_keys").getOrElse(d.partitionKeys))
  }
}

object Io {

  /** Two-pass CSV read (`read_raw_csv`, `jobs/io_utils.py:69-85`):
    * pass 1 reads only the header to discover column names (a single tiny
    * task — never a data scan), pass 2 reads with the synthesized explicit
    * schema. `inferSchema` is deliberately never used: on a 100 TB input it
    * would cost a full extra pass; this costs one file-open.
    */
  def readRawCsv(spark: SparkSession, path: String): DataFrame = {
    val header = spark.read.option("header", "true").csv(path).columns
    val schema = Schemas.buildWideSchema(header.toSeq)
    spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** Partitioned parquet sink (`write_processed`, `jobs/io_utils.py:88-107`):
    * derive `year` from `month`, write snappy parquet hive-partitioned by
    * `(StateName, year)` so downstream geo/time queries get partition pruning
    * for free. Replaces the whole dataset (static overwrite), whatever the
    * session's `spark.sql.sources.partitionOverwriteMode`.
    *
    * Scale note: the reference `coalesce(1)`s to one file per partition —
    * correct for its ≲1M-row data, catastrophic at 100 TB (single write task).
    * Here rows are hash-clustered by the partition keys, so each partition
    * is written by one task as one file, split at [[maxRecordsPerFile]] rows.
    */
  def writeProcessed(df: DataFrame, path: String, config: PipelineConfig = PipelineConfig()): Unit =
    writePartitioned(df, path, config, overwriteMode = "static")

  /** Incremental refresh: overwrite only the hive partitions present in
    * `df`, leaving all other partitions untouched (dynamic partition
    * overwrite). This is the production form of the reference's weekly
    * batch (`dags/rental_pipeline_dag.py:52` `@weekly`): a new period
    * replaces its own `(StateName, year)` directories instead of rewriting
    * the whole dataset.
    */
  def overwritePartitions(df: DataFrame, path: String, config: PipelineConfig = PipelineConfig()): Unit =
    writePartitioned(df, path, config, overwriteMode = "dynamic")

  /** Row cap per output file: splits genuinely large partitions. */
  private val maxRecordsPerFile = 5000000L

  /** The one partitioned writer. `overwriteMode` is the per-write
    * `partitionOverwriteMode` option, which the file sink reads before the
    * session conf — so the session conf is neither consulted nor touched.
    *
    * Local `file:` output goes through [[graft.core.LocalFs]], selected by
    * its per-write options (the file sink builds its Hadoop conf from the
    * write's options). It leaves the same files, `.crc` siblings and
    * permissions as Hadoop's stock local file system, but without libhadoop
    * the stock one forks a `chmod` process per file, `.crc` and directory:
    * about 500 per 150-directory write.
    */
  private def writePartitioned(
      df: DataFrame,
      path: String,
      config: PipelineConfig,
      overwriteMode: String): Unit =
    // Cluster rows by the hive partition keys before the partitioned write:
    // otherwise every upstream task writes a file into every partition dir
    // (tasks x partitions tiny files — the small-files problem). The
    // explicit partition count keeps AQE's input-byte coalescing from
    // squeezing this exchange to 1-2 tasks that then write ~90 hive
    // directories SEQUENTIALLY; each hash group still lands whole in
    // exactly one task.
    graft.core.Par.fanOutBy(df.withColumn("year", year(col("month"))), config.partitionKeys.map(col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("compression", "snappy")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("partitionOverwriteMode", overwriteMode)
      .options(graft.core.LocalFs.settings(checksummed = true))
      .partitionBy(config.partitionKeys: _*)
      .parquet(path)

  /** Processed-parquet scan (`dags/rental_pipeline_dag.py:136`). */
  def readProcessed(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
