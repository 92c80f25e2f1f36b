package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{Attribute, IsNotNull}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed call into the program: `parent` is the enclosing span's id
  * (-1 at an op's root) and `op` the op it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark ran while one span was open (jobs, stages and tasks are tagged
  * with the span's id through a local property; planning and write
  * statistics come from the finished query execution).
  */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var serialStages = 0L
  var maxStageTasks = 0L
  var tasks = 0L
  var executorMs = 0L
  var fetchWaitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var planMs = 0L
  var writeFiles = 0L
  var writeBytes = 0L
  var writeParts = 0L
  var writeRows = 0L
  // rows out of the unpivot, the null filter and the dedup filter
  var unpivotRows = 0L
  var cleanRows = 0L
  var dedupRows = 0L

  def +=(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; serialStages += o.serialStages
    maxStageTasks = math.max(maxStageTasks, o.maxStageTasks); tasks += o.tasks
    executorMs += o.executorMs; fetchWaitMs += o.fetchWaitMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; planMs += o.planMs
    writeFiles += o.writeFiles; writeBytes += o.writeBytes; writeParts += o.writeParts
    writeRows += o.writeRows; unpivotRows += o.unpivotRows; cleanRows += o.cleanRows
    dedupRows += o.dedupRows
  }
}

/** Records spans around the benchmark's calls into the program. With
  * `enabled` false, [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession) {
  var enabled = false
  private var op = -1
  private var open: List[Span] = Nil
  private val recorded = mutable.ArrayBuffer.empty[Span]

  def spans: Seq[Span] = recorded.toSeq

  /** Starts a new op; spans opened from now on carry its id. */
  def nextOp(): Int = { op += 1; op }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(recorded.size, open.headOption.fold(-1)(_.id), name, op,
        System.nanoTime(), System.currentTimeMillis())
      recorded += s
      open = s :: open
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, outer)
      }
    }

  /** A span's own time: its duration minus the time its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - recorded.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark listener plus query-execution listener that charge Spark's work to
  * the span open when it was submitted. Registered by the benchmark only on
  * traced runs.
  */
final class SparkTap(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val counts = mutable.Map.empty[Int, SparkCounts]
  // (time the execution's planning began, counts it carries) — charged to
  // the innermost span open at that time, because an execution that runs no
  // job carries no local property
  private val executions = mutable.ArrayBuffer.empty[(Long, SparkCounts)]

  private def of(span: Int): SparkCounts = counts.getOrElseUpdate(span, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { v =>
      val span = v.toInt
      of(span).jobs += 1
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { span =>
      val c = of(span)
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.serialStages += 1
      c.maxStageTasks = math.max(c.maxStageTasks, e.stageInfo.numTasks.toLong)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = of(span)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.executorMs += m.executorRunTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val c = new SparkCounts
      c.planMs = phases.map(_.durationMs).sum
      SparkTap.nodes(qe.executedPlan).foreach {
        case w: DataWritingCommandExec =>
          def m(k: String) = w.cmd.metrics.get(k).fold(0L)(_.value)
          c.writeFiles += m("numFiles"); c.writeBytes += m("numOutputBytes")
          c.writeParts += m("numParts"); c.writeRows += m("numOutputRows")
        case g: org.apache.spark.sql.execution.GenerateExec if g.generator.prettyName == "stack" =>
          c.unpivotRows += g.metrics("numOutputRows").value
        case f: org.apache.spark.sql.execution.FilterExec =>
          val refs = f.condition.references.map(_.name).toSet
          val notNullRent = f.condition.exists {
            case IsNotNull(a: Attribute) => a.name == "median_rent"
            case _ => false
          }
          if (refs.contains("__rn")) c.dedupRows += f.metrics("numOutputRows").value
          else if (notNullRent) c.cleanRows += f.metrics("numOutputRows").value
        case _ =>
      }
      synchronized { executions += (phases.map(_.startTimeMs).min -> c) }
    }
  }

  /** Per-span counts, with every finished execution charged to its span. */
  def bySpan(): Map[Int, SparkCounts] = synchronized {
    val out = mutable.Map.empty[Int, SparkCounts]
    counts.foreach { case (k, v) => out.getOrElseUpdate(k, new SparkCounts) += v }
    val spans = tracer.spans
    executions.foreach { case (t, c) =>
      val inner = spans.filter(s => s.startMs <= t && t <= s.endMs)
      if (inner.nonEmpty) out.getOrElseUpdate(inner.maxBy(_.startNs).id, new SparkCounts) += c
    }
    out.toMap
  }
}

object SparkTap {

  /** Every node of an executed plan, through adaptive wrappers and stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** Attaches a tap to `spark` for the rest of the session. */
  def attach(spark: SparkSession, tracer: Tracer): SparkTap = {
    val tap = new SparkTap(tracer)
    spark.sparkContext.addSparkListener(tap)
    spark.listenerManager.register(tap)
    tap
  }
}
