package graft.rentals

import graft.core.EngineSession

/** CLI entry for the full rental pipeline run — the reference's
  * `spark-submit jobs/transform.py` stage (`jobs/transform.py:184-211` +
  * DQ stage `dags/rental_pipeline_dag.py:105-147`): read raw CSV, run the
  * six-transform chain, write partitioned parquet, then run the DQ gate over
  * the written output (each stage boundary is a path, per the reference's
  * XCom-passes-paths contract).
  *
  * Usage: runMain graft.rentals.PipelineMain <rawCsvPath> <outPath>
  *          [--local] [--config=<path>]
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.length == 2,
      "usage: PipelineMain <rawCsvPath> <outPath> [--local] [--config=<path>]")
    val Array(rawPath, outPath) = positional
    val local = args.contains("--local") || sys.env.get("ENV").contains("local")
    val configPath = args.collectFirst { case a if a.startsWith("--config=") => a.stripPrefix("--config=") }

    // with a LAUNCHER-PROVIDED master (spark-submit sets the spark.master
    // property) defer to it, and to its shuffle parallelism — a local
    // master there would silently force single-JVM mode on a cluster
    // submit; --local, or a bare `runMain` with neither, runs locally
    val launched = !local && sys.props.contains("spark.master")
    val spark = (if (launched) EngineSession.builder()
      else EngineSession.builder(EngineSession.cores))
      .appName("rental-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val config = configPath.map(PipelineConfig.fromFile).getOrElse(PipelineConfig())
      // the reference DAG's execution policy: each stage retried once after
      // a delay, failures logged via callback, stage boundaries are paths —
      // a retried stage re-reads from storage and overwrites idempotently
      val runner = new Orchestration.StageRunner("rental_market_etl")
      val processedPath = runner.run("run_transforms") {
        val processed = Io.readRawCsv(spark, rawPath).transform(Transforms.runPipeline)
        Io.writeProcessed(processed, outPath, config)
        outPath
      }
      // DQ gate over the *written* output (fresh scan, like the DAG's DQ task)
      val summary = runner.run("run_dq_checks") {
        DataQuality.runQualityChecks(
          Io.readProcessed(spark, processedPath),
          DataQuality.standardChecks(config))
      }
      println(s"[pipeline] DQ: ${summary.passed}/${summary.total} passed, " +
        s"${summary.warnings} warning(s); output at $processedPath")
    } finally {
      spark.stop()
    }
  }
}
