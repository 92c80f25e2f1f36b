package graft

import graft.core.EngineSession

/** Dev smoke driver: runs `SparkEntry.entry` (the t1 contract) and, given
  * query names as args (or `all`), each registered query with a count —
  * printing full stack traces on failure. Usage:
  *   sbt "runMain graft.Smoke [sfDir] [queryName ...]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val spark = EngineSession.builder(EngineSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SMOKE_LOG", "ERROR"))
    val entry = SparkEntry.entry(spark)
    println(s"[smoke] entry rows = ${entry.count()}")
    entry.show(5, truncate = false)
    if (names.contains("streaming")) {
      val streamed = streaming.Streams.hourlyCounts(
        streaming.Streams.readEventsStream(spark, sfDir))
      val out = streaming.Streams.runAvailableNowToMemory(
        spark, streamed, "smoke_hourly",
        org.apache.spark.sql.streaming.OutputMode.Append())
      println(s"[smoke] streaming hourly rows = ${out.count()}")
      out.show(5, truncate = false)
    }
    val targets =
      if (names == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
      else names.filterNot(_ == "streaming")
    targets.foreach { n =>
      try {
        val t0 = System.nanoTime()
        val c = SparkEntry.queries(n)(spark, sfDir).count()
        println(f"[smoke] $n rows=$c (${(System.nanoTime() - t0) / 1e9}%.2fs)")
      } catch {
        case e: Throwable =>
          println(s"[smoke] $n FAILED: ${e.getClass.getName} ${e.getMessage}")
          e.printStackTrace()
      }
    }
    spark.stop()
  }
}
