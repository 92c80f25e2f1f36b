package graft
import graft.core.EngineSession
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.001"
    val spark = EngineSession.builder(EngineSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_EXPLAIN_EXEC=1: run the query first so AQE finalizes the plan —
    // runtime effects (ReusedExchange, coalesced partitions, skew splits)
    // only appear in the executed adaptive plan, not the initial one.
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    args.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // collect() (not a noop write) so the action drives THIS
      // QueryExecution's AdaptiveSparkPlanExec — a write wraps the plan in
      // its own QueryExecution and the one printed below would stay initial
      if (exec) { df.collect(): Unit }
      val p = df.queryExecution.executedPlan.toString
      val nEx = "Exchange".r.findAllIn(p).size
      val nSort = "Sort ".r.findAllIn(p).size
      val nCodegen = "\\*\\(".r.findAllIn(p).size
      println(s"=== $n exchanges=$nEx sorts=$nSort codegenOps=$nCodegen")
      println(p.linesIterator.filter(l => l.contains("Exchange") || l.contains("Window") || l.contains("Join") || l.contains("Scan parquet") && l.length < 400).map(_.take(200)).mkString("\n"))
    }
    spark.stop()
  }
}
