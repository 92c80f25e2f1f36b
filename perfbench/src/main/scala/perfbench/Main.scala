package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <etl_full|query_suite> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  * Main --record <file> --work <dir> --data <dir>
  * }}}
  *
  * A run builds the workload's inputs (not timed), starts a session, runs
  * one cold first op and the workload's warm-up rounds, then issues ops
  * back to back until `--seconds` of op time have passed, finishing the
  * current round of distinct inputs. Set-up time is the program's share of
  * everything before the first timed op: JVM start to `main`, the session,
  * the first op and the warm-up ops. The last stdout line is the result
  * object; the line before it records the run's environment. `--record`
  * runs every registered query on the tables of `--data`, once cold and
  * once traced, and writes each one's answer and costs.
  */
object Main {
  /** `startedS` is the JVM's uptime when `main` began (0 when a test calls [[run]]). */
  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: File,
      data: File,
      startedS: Double = 0.0)
  // stop issuing ops past this much wall time, so a run ends well inside
  // the 180 s a run is allowed
  private val WallLimitS = 140.0

  private val etlShape = EtlShape(regions = 8000, months = 36)

  def main(argv: Array[String]): Unit = {
    val startedS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(opts.getOrElse("work", sys.error("--work is required"))).getAbsoluteFile
    val data = new File(opts.getOrElse("data", sys.error("--data is required"))).getAbsoluteFile
    opts.get("record") match {
      case Some(outFile) => record(work, data, new File(outFile))
      case None =>
        val a = Args(
          workload = opts.getOrElse("workload", sys.error("--workload is required")),
          seed = opts.getOrElse("seed", sys.error("--seed is required")).toLong,
          seconds = opts.getOrElse("seconds", "10").toInt,
          trace = opts.getOrElse("trace", "0") == "1",
          work = work,
          data = data,
          startedS = startedS)
        val r = run(a, workload(a))
        println(Json.obj(Seq("env" -> Json.obj(r.env.map { case (k, v) => k -> Json.str(v) }))))
        println(Json.obj(Seq(
          "correct" -> r.correct.toString,
          "attempted" -> r.attempted.toString,
          "failed" -> r.failed.toString,
          "metrics" -> Json.obj(r.metrics.map { case (n, v, u) =>
            n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
          }))))
        System.out.flush()
    }
    // streaming and pool threads of the program may outlive the session
    System.exit(0)
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      // the storage plane the program's own bench and gate run
      .config(graft.sources.SeqCatalog.DefaultStorageConf, "parquet")
      .withExtensions(new graft.core.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(a: Args): Workload = a.workload match {
    case "etl_full" => new EtlWorkload(a.seed, a.work, etlShape)
    case "query_suite" => new QuerySuite(a.seed, a.work, a.data)
    case other => sys.error(s"unknown workload $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** (steal, all) jiffies of every CPU so far: time the host gave to others. */
  private def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  /** The program's own bench calibration job (a fixed CPU-bound hash sweep). */
  private def calibrate(spark: SparkSession): Double =
    Workload.time(spark.range(0L, 200000000L, 1L, 32).selectExpr("bit_xor(xxhash64(id)) AS s").collect())._2

  final case class Done(i: Int, o: OpOutcome, traced: Boolean, round: Int)

  /** One run's outcome: metrics are (name, value, unit). */
  final case class Result(
      correct: Boolean,
      attempted: Int,
      failed: Int,
      metrics: Seq[(String, Double, String)],
      env: Seq[(String, String)])

  def run(a: Args, w: Workload): Result = {
    val wallStart = System.nanoTime()
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= w.preflight()
    w.setUp()
    val (spark, sessionS) = Workload.time(session(a.work))

    val tracer = new Tracer(spark)
    val tap = if (a.trace) Some(SparkTap.attach(spark, tracer)) else None
    var attempted = 0
    var failed = 0
    def runOp(i: Int, traced: Boolean): Option[OpOutcome] = {
      attempted += 1
      tracer.nextOp()
      tracer.enabled = traced
      val out =
        try Some(w.op(spark, tracer, i))
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e")
            None
        }
      tracer.enabled = false
      out.foreach(o => System.err.println(f"[perfbench] op $i ${o.label} ${o.seconds}%.3f s ok=${o.ok} traced=$traced"))
      if (!out.exists(_.ok)) failed += 1
      out
    }

    val first = runOp(0, traced = false)
    var warmUpS = 0.0
    // At least one round of distinct queries, or three ops, however fast
    // they run; twice that on a traced run, where measured rounds alternate
    // untraced and traced.
    val minRounds = w.warmUpRounds + (if (w.round > 1) 1 else 3) * (if (a.trace) 2 else 1)
    val done = mutable.ArrayBuffer.empty[Done]
    var opTime = 0.0
    var i = 1
    def roundsDone = (i - 1) / w.round
    def wall = (System.nanoTime() - wallStart) / 1e9
    var gc0 = gcSeconds()
    var jiffies0 = cpuJiffies()
    while ((opTime < a.seconds || roundsDone < minRounds || (i - 1) % w.round != 0) && wall < WallLimitS) {
      val round = (i - 1) / w.round - w.warmUpRounds
      if (round == 0 && (i - 1) % w.round == 0) {
        heapPools.foreach(_.resetPeakUsage())
        gc0 = gcSeconds()
        jiffies0 = cpuJiffies()
      }
      val traced = a.trace && round >= 0 && round % 2 == 1
      runOp(i, traced).foreach { o =>
        if (round >= 0) { done += Done(i, o, traced, round); opTime += o.seconds }
        else warmUpS += o.seconds
      }
      i += 1
    }
    val setupS = a.startedS + sessionS + first.fold(0.0)(_.seconds) + warmUpS
    val gcS = gcSeconds() - gc0
    val stealShare = {
      val (steal, all) = cpuJiffies()
      (steal - jiffies0._1).toDouble / math.max(all - jiffies0._2, 1L)
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val plain = done.filterNot(_.traced).map(_.o)
    val (storedBytes, storedRows) = w.stored(spark)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val lat = plain.map(_.seconds)
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", median(lat.toSeq), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("stored_bytes_per_row", storedBytes.toDouble / math.max(storedRows, 1L), "B/row"))
      } else {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val layers = Layers(tracer, tap.get.bySpan(), done.filter(_.traced).map(d => d.i -> d.o).toSeq)
        val byRound = done.groupBy(_.round).toSeq.sortBy(_._1).map { case (r, ds) => (ds.head.traced, r, ds.map(_.o.seconds).sum) }
        val tracedRounds = byRound.filter(_._1).map(_._3)
        val plainRounds = byRound.filter(!_._1).map(_._3)
        val overhead = (median(tracedRounds) - median(plainRounds)) / w.round
        val nOps = math.max(done.size, 1)
        layers.metrics ++ Seq(
          ("jvm.first_op_s", first.fold(0.0)(_.seconds), "s"),
          ("jvm.gc_s", gcS / nOps, "s"),
          ("jvm.heap_peak_mb", heapPeakMb, "MB"),
          ("host.calib_s", calibrate(spark), "s"),
          ("trace.overhead_s", overhead, "s"),
          ("trace.ops", done.count(_.traced).toDouble, "count"))
      }
    spark.stop()

    val env = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> a.trace.toString, "cpus" -> Runtime.getRuntime.availableProcessors().toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "setup_parts_s" -> f"jvm ${a.startedS}%.3f session $sessionS%.3f first_op ${first.fold(0.0)(_.seconds)}%.3f warm_up $warmUpS%.3f",
      "ops" -> done.size.toString,
      "host_steal_share" -> f"$stealShare%.3f",
      "wall_s" -> f"${(System.nanoTime() - wallStart) / 1e9}%.1f",
      "source" -> sys.props.getOrElse("perfbench.source", ""),
      "commit" -> sys.props.getOrElse("perfbench.commit", ""),
      "pinned_caches" -> "cold at the first op; later rounds reuse what earlier ones derived",
      "problems" -> problems.mkString("; ")) ++ w.inputs
    Result(problems.isEmpty && failed == 0, attempted, failed, metrics, env)
  }

  /** Runs every registered query on the tables of `data`, once cold and
    * once traced, and writes one tab-separated line per query: name,
    * package, rows, hash, whether the two answers agreed, the cold and warm
    * seconds, and the warm run's build and sink seconds, jobs, jobs during
    * build, stages, single-task stages and tasks.
    */
  def record(work: File, data: File, out: File): Unit = {
    val dir = new File(work, "star")
    QuerySuite.stage(data, dir)
    val spark = session(work)
    val tracer = new Tracer(spark)
    val tap = SparkTap.attach(spark, tracer)
    val runs = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
      def once(traced: Boolean) = {
        val op = tracer.nextOp()
        tracer.enabled = traced
        try {
          val (rows, s) = QuerySuite.execute(spark, tracer, dir.getPath, q)
          (Fingerprint.of(rows), s, op)
        } finally tracer.enabled = false
      }
      val res = try {
        val (a, cold, _) = once(traced = false)
        val (b, warm, op) = once(traced = true)
        Right((a, a == b, cold, warm, op))
      } catch { case e: Exception => Left(e.toString.replace('\t', ' ').take(200)) }
      System.err.println(s"[record] $q $res")
      q -> res
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val counts = tap.bySpan()
    val header = "# query\tpackage\trows\thash\tstable\tcold_s\twarm_s\tbuild_s\texec_s\tjobs\tbuild_jobs\tstages" +
      "\tserial_stages\ttasks"
    val lines = runs.map { case (q, res) =>
      val pkg = Registry.packageOf.getOrElse(q, "?")
      val fields = res match {
        case Left(err) => Seq("error", err)
        case Right(((rows, hash), stable, cold, warm, op)) =>
          val spans = tracer.spans.filter(_.op == op)
          def part(suffix: String) = spans.filter(_.name.endsWith(suffix))
          def sum(ss: Seq[Span])(f: SparkCounts => Long) = ss.map(s => counts.get(s.id).fold(0L)(f)).sum
          val both = part(".build") ++ part(".exec")
          Seq(rows, hash, stable, f"$cold%.3f", f"$warm%.3f", f"${part(".build").map(_.seconds).sum}%.3f",
            f"${part(".exec").map(_.seconds).sum}%.3f", sum(both)(_.jobs), sum(part(".build"))(_.jobs),
            sum(both)(_.stages), sum(both)(_.serialStages), sum(both)(_.tasks))
      }
      (Seq(q, pkg) ++ fields).mkString("\t")
    }
    java.nio.file.Files.write(out.toPath, (header +: lines).asJava)
    spark.stop()
  }
}

/** Per-layer metrics from the spans of the traced ops: each is a mean per
  * op that opened the span (per op of the package, for package metrics),
  * and 0 where no op did.
  */
final case class Layers(tracer: Tracer, counts: Map[Int, SparkCounts], ops: Seq[(Int, OpOutcome)]) {
  private val none = new SparkCounts

  private def perOp(names: String*)(f: Span => Double): Double = {
    val spans = tracer.spans.filter(s => names.contains(s.name))
    if (spans.isEmpty) 0.0 else spans.map(f).sum / spans.map(_.op).distinct.size
  }
  private def secs(names: String*): Double = perOp(names: _*)(_.seconds)
  private def count(names: String*)(f: SparkCounts => Long): Double =
    perOp(names: _*)(s => f(counts.getOrElse(s.id, none)).toDouble)

  def metrics: Seq[(String, Double, String)] = {
    val orch = Seq("orch.run_transforms", "orch.run_dq_checks")
    val orchOps = tracer.spans.filter(s => orch.contains(s.name)).map(_.op).toSet
    val etlOps = ops.collect { case (i, o) if orchOps(i) => o }
    def perEtlOp(f: OpOutcome => Int) = if (etlOps.isEmpty) 0.0 else etlOps.map(f).sum.toDouble / etlOps.size
    val w = "io.write"
    Seq(
      ("io.read_csv.s", secs("io.read_csv"), "s"),
      ("io.read_csv.jobs", count("io.read_csv")(_.jobs), "count"),
      ("transforms.plan.s", secs("transforms.plan"), "s"),
      ("write.s", secs(w), "s"),
      ("write.jobs", count(w)(_.jobs), "count"),
      ("write.tasks", count(w)(_.tasks), "count"),
      ("write.files", count(w)(_.writeFiles), "count"),
      ("write.partition_dirs", count(w)(_.writeParts), "count"),
      ("write.bytes", count(w)(_.writeBytes), "bytes"),
      ("write.executor_s", count(w)(_.executorMs) / 1e3, "s"),
      ("write.fetch_wait_s", count(w)(_.fetchWaitMs) / 1e3, "s"),
      ("write.shuffle_bytes", count(w)(_.shuffleBytes), "bytes"),
      ("write.spill_bytes", count(w)(_.spillBytes), "bytes"),
      ("write.max_stage_tasks", count(w)(_.maxStageTasks), "count"),
      ("io.read_processed.s", secs("io.read_processed"), "s"),
      ("io.read_processed.jobs", count("io.read_processed")(_.jobs), "count"),
      ("dq.s", secs("dq.run"), "s"),
      ("dq.jobs", count("dq.run")(_.jobs), "count"),
      ("dq.executor_s", count("dq.run")(_.executorMs) / 1e3, "s"),
      ("dq.input_bytes", count("dq.run")(_.inputBytes), "bytes"),
      ("dq.shuffle_bytes", count("dq.run")(_.shuffleBytes), "bytes"),
      ("orch.attempts", perEtlOp(_.attempts), "count"),
      ("orch.retries", perEtlOp(_.retries), "count"),
      ("orch.self_s", perOp(orch: _*)(tracer.selfSeconds), "s"),
      ("etl.rows_in", count(w)(_.unpivotRows), "rows"),
      ("etl.rows_out", count(w)(_.writeRows), "rows"),
      ("etl.rows_dropped_null", count(w)(c => c.unpivotRows - c.cleanRows), "rows"),
      ("etl.rows_dropped_dup", count(w)(c => c.cleanRows - c.dedupRows), "rows")) ++
      Registry.Packages.flatMap { p =>
        val (build, exec) = (s"$p.build", s"$p.exec")
        Seq(
          (s"$p.build_s", secs(build), "s"),
          (s"$p.exec_s", secs(exec), "s"),
          (s"$p.plan_s", count(build, exec)(_.planMs) / 1e3, "s"),
          (s"$p.jobs", count(build, exec)(_.jobs), "count"),
          (s"$p.build_jobs", count(build)(_.jobs), "count"),
          (s"$p.tasks", count(build, exec)(_.tasks), "count"),
          (s"$p.serial_stages", count(build, exec)(_.serialStages), "count"),
          (s"$p.shuffle_bytes", count(build, exec)(_.shuffleBytes), "bytes"),
          (s"$p.spill_bytes", count(build, exec)(_.spillBytes), "bytes"))
      }
  }
}

/** The little JSON the result lines need. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
