package graft

import graft.core.EngineSession

/** Ad-hoc profiling main: time the named queries (args) on
  * `SPARK_GRAFT_SF_DIR`, printing per-run wall times and optionally the
  * formatted plan (`SPARK_GRAFT_EXPLAIN=1`, or `SPARK_GRAFT_PLAN_DIR=<dir>`
  * to write one `<query>.txt` per name). `SPARK_GRAFT_SQL_TIMES=1` registers
  * a QueryExecutionListener that prints per-SQL-statement durations — the
  * statement-level breakdown for multi-statement lifecycle queries.
  * Complements [[Bench]] (which times the whole registry): this is the
  * iterate-on-one-query loop. Both build their session from
  * [[graft.core.EngineSession]] on the same `SPARK_GRAFT_CPUS`, so numbers
  * and plans here are the bench's.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val sqlTimes = sys.env.get("SPARK_GRAFT_SQL_TIMES").contains("1")
    val spark = EngineSession.builder(EngineSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sqlTimes) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(
            funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val head = qe.logical.toString.linesIterator.take(1).mkString.take(140)
          println(f"[sql] ${durationNs / 1e9}%7.3f s  $funcName%-18s $head")
        }
        override def onFailure(
            funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    // SPARK_GRAFT_STAGES=1: per-stage breakdown (task time, shuffle bytes,
    // callsite) printed after each rep — pinpoints WHICH job inside a
    // multi-job query owns the wall clock.
    val stages = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (stages) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
          stageRows.add(f"[stage] ${si.stageId}%4d wall=${wall.getOrElse(0L) / 1e3}%7.3f " +
            f"taskSum=${m.executorRunTime / 1e3}%8.3f tasks=${si.numTasks}%4d " +
            f"shRead=${m.shuffleReadMetrics.totalBytesRead}%10d shWrite=${m.shuffleWriteMetrics.bytesWritten}%10d " +
            f"in=${m.inputMetrics.bytesRead}%10d  ${si.name.take(110)}")
        }
      })

    val names = if (args.nonEmpty) args.toSeq else Seq("rentals_pipeline")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      if (explain) fn(spark, sfDir).explain("formatted")
      planDir.foreach { d =>
        val dir = new java.io.File(d); dir.mkdirs()
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"))
        try w.println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        finally w.close()
      }
      val times = (1 to reps).map { i =>
        stageRows.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (stages && i == reps) {
          println(s"=== stages of $name (rep $i, ${f"$dt%.2f"} s)")
          org.apache.spark.sql.graftbridge.Bridge.waitForListeners(spark.sparkContext)
          stageRows.forEach(r => println(r))
        }
        dt
      }
      println(f"[profile] $name%-35s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
