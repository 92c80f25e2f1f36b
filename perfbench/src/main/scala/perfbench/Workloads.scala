package perfbench

import graft.rentals.{DataQuality, DataQualityError, DataQualitySummary, Io, Orchestration, PipelineConfig, Transforms}
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.duration.Duration
import scala.util.hashing.MurmurHash3

/** One op as the harness sees it: what ran (`label`), the seconds spent in
  * calls into the program, and whether its output matched the expectation
  * (checked after the clock stopped); `attempts` and `retries` are the
  * stage runner's, where one ran.
  */
final case class OpOutcome(label: String, seconds: Double, ok: Boolean, attempts: Int, retries: Int)

/** A closed-loop workload: one client issuing ops back to back. */
trait Workload {
  def name: String

  /** Builds the inputs the program will receive. This is the benchmark's
    * own work: it runs before the session starts and is not timed.
    */
  def setUp(): Unit

  /** Runs op `i` and checks its output. */
  def op(spark: SparkSession, tracer: Tracer, i: Int): OpOutcome

  /** How many ops make one round of distinct inputs. */
  def round: Int = 1

  /** Rounds after the first op that warm the process up and are checked
    * but not timed as ops; their op time counts in set-up time.
    */
  def warmUpRounds: Int = 0

  /** (bytes on disk, rows) of what the ops left behind. */
  def stored(spark: SparkSession): (Long, Long)

  /** Input sizes, for the record of the run. */
  def inputs: Seq[(String, String)]

  /** Problems found before any op ran; a non-empty list fails the run. */
  def preflight(): Seq[String] = Nil
}

object Workload {
  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).fold(0L)(_.map(bytesUnder).sum)

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** The reference ETL run: wide CSV -> runPipeline -> partitioned parquet
  * (full overwrite) -> DQ gate over the table read back, each stage under
  * the program's `StageRunner`. Like a weekly full reload, op `i` reads a
  * new file holding a snapshot of the same regions; the snapshots
  * alternate between [[EtlWorkload.Versions]] seeded versions, generated
  * once so the run's wall time goes to ops.
  */
final class EtlWorkload(seed: Long, work: File, shape: EtlShape) extends Workload {
  import Workload._

  val name = "etl_full"
  private val config = PipelineConfig()
  private val inputDir = new File(work, "input")
  private val out = new File(work, "out/processed").getAbsolutePath
  // a failed stage is retried once, at once: the program's default 5-minute
  // delay would outlast any run
  private val policy = Orchestration.RetryPolicy(retries = 1, retryDelay = Duration.Zero)

  private var versions: IndexedSeq[EtlBatch] = IndexedSeq.empty
  // expected per-year sums of the table after the latest op
  private var table: Map[Int, YearSums] = Map.empty

  def inputs: Seq[(String, String)] = Seq(
    "regions" -> shape.regions.toString,
    "months" -> shape.months.toString,
    "states" -> shape.states.toString,
    "null_share" -> shape.nullShare.toString,
    "dup_share" -> shape.dupShare.toString,
    "long_rows_per_op" -> versions.map(_.expected.rowsIn).mkString(" "),
    "csv_bytes" -> versions.map(_.rawBytes).mkString(" "))

  def setUp(): Unit = {
    delete(inputDir)
    delete(new File(out))
    inputDir.mkdirs()
    versions = (0 until EtlWorkload.Versions).map(v => EtlInput.generate(seed, v, shape, config))
  }

  def op(spark: SparkSession, tracer: Tracer, i: Int): OpOutcome = {
    // the op's input, written before its clock starts
    val batch = versions(i % versions.size)
    val input = new File(inputDir, s"snapshot_$i.csv")
    Files.write(input.toPath, batch.csv.getBytes(StandardCharsets.UTF_8))
    val runner = new Orchestration.StageRunner(name, policy)
    // a failing gate raises; whether it should have is checked below
    val (summary, seconds) = time {
      try Right(tracer.span("op") {
        tracer.span("orch.run_transforms") {
          runner.run("run_transforms") {
            val raw = tracer.span("io.read_csv")(Io.readRawCsv(spark, input.getAbsolutePath))
            val processed = tracer.span("transforms.plan")(Transforms.runPipeline(raw))
            tracer.span("io.write")(Io.writeProcessed(processed, out, config))
          }
        }
        tracer.span("orch.run_dq_checks") {
          runner.run("run_dq_checks") {
            val written = tracer.span("io.read_processed")(Io.readProcessed(spark, out))
            tracer.span("dq.run")(DataQuality.runQualityChecks(written, DataQuality.standardChecks(config)))
          }
        }
      })
      catch { case e: DataQualityError => Left(e) }
    }
    table = batch.expected.byYear
    val attempts = runner.reports.map(_.attempts).sum
    OpOutcome(s"snapshot_$i", seconds, check(spark, summary), attempts, attempts - runner.reports.size)
  }

  /** Compares the whole table and the gate's verdicts with the calculator:
    * a passing gate must report exactly the expected verdicts, and a gate
    * expected to fail must raise naming exactly the failing checks.
    */
  private def check(spark: SparkSession, summary: Either[DataQualityError, DataQualitySummary]): Boolean = {
    val actual = EtlWorkload.yearSums(Io.readProcessed(spark, out), config)
    val verdicts = Calculator.verdicts(table, config)
    val failing = verdicts.collect { case (n, false) => n }.toSet
    val gateOk = summary match {
      case Right(s) => failing.isEmpty && s.details.map(d => d.name -> d.passed).toMap == verdicts
      case Left(e) => failing.nonEmpty && e.getMessage.split(": ", 2).last.split(", ").toSet == failing
    }
    val ok = actual == table && gateOk
    if (!ok) System.err.println(
      s"[perfbench] $name: output differs from the calculator: got $actual / $summary, want $table / $verdicts")
    ok
  }

  def stored(spark: SparkSession): (Long, Long) =
    (bytesUnder(new File(out)), table.values.map(_.rows).sum)
}

object EtlWorkload {
  val Versions = 2

  /** The table's per-year sums, computed by Spark from the written rows. */
  def yearSums(df: DataFrame, config: PipelineConfig): Map[Int, YearSums] = {
    val mom = round(col("rent_change_mom") * 100).cast("long")
    val rank = col("state_rent_rank").cast("long")
    val rent = col("median_rent")
    df.groupBy(col("year").cast("int"))
      .agg(
        count(lit(1)), sum(rank), sum(rank * (pmod(col("RegionID"), lit(97)) + 1)),
        count(mom), coalesce(sum(mom), lit(0L)), coalesce(sum(mom * (month(col("month")) + 1)), lit(0L)),
        sum(round(rent * 100).cast("long")),
        count(when(rent < config.rentMin || rent > config.rentMax, 1)))
      .collect()
      .map(r => r.getInt(0) -> YearSums(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8)))
      .toMap
  }
}

/** Registered queries on the star-schema tables of `data` (copied into the
  * run's directory first), each op one query forced by collecting its
  * rows, and checked afterwards against the answer recorded for it.
  */
final class QuerySuite(seed: Long, work: File, data: File, subset: IndexedSeq[String] = QuerySuite.Subset)
    extends Workload {
  import Workload._

  val name = "query_suite"
  private val dataDir = new File(work, "star")
  private lazy val expected: Map[String, (Long, Long)] = Fingerprint.recorded()
  // every round runs the subset in seed order
  val order: IndexedSeq[String] = new scala.util.Random(seed).shuffle(subset)
  override def round: Int = subset.size
  // the first round pays each query's one-time costs (classes, codegen,
  // pinned derivations); it counts in set-up time
  override def warmUpRounds: Int = 1

  def inputs: Seq[(String, String)] = Seq(
    "queries" -> order.size.toString,
    "tables" -> data.getName,
    "table_bytes" -> bytesUnder(data).toString)

  override def preflight(): Seq[String] =
    Registry.mismatches() ++
      order.filterNot(expected.contains).map(n => s"no recorded answer: $n")

  def setUp(): Unit = QuerySuite.stage(data, dataDir)

  /** Ops cycle through the subset in seed order; the first query of the
    * order is the cold first op and ends each round after it.
    */
  def op(spark: SparkSession, tracer: Tracer, i: Int): OpOutcome = {
    val q = order(i % order.size)
    val (rows, seconds) = QuerySuite.execute(spark, tracer, dataDir.getPath, q)
    val got = Fingerprint.of(rows)
    val ok = expected.get(q).contains(got)
    if (!ok) System.err.println(s"[perfbench] $q: fingerprint $got, recorded ${expected.get(q)}")
    OpOutcome(q, seconds, ok, 1, 0)
  }

  def stored(spark: SparkSession): (Long, Long) = {
    val written = sys.props.get("graft.tables.root").map(new File(_)).toSeq ++
      Seq(new File(work, "warehouse"), new File(work, "target"))
    (written.map(bytesUnder).sum, subset.map(n => expected.get(n).fold(0L)(_._1)).sum)
  }
}

object QuerySuite {
  /** The queries a round runs, as `pick_subset.py` chose them from the
    * full-pass record `queries.tsv`.
    */
  lazy val Subset: IndexedSeq[String] = Resource.lines("/subset.txt").toIndexedSeq

  /** Copies the tables of `from` into `to`, so no query can write next to
    * the benchmark's own copy.
    */
  def stage(from: File, to: File): Unit = {
    Workload.delete(to)
    to.mkdirs()
    Option(from.listFiles()).getOrElse(sys.error(s"no tables in $from")).filter(_.isFile).foreach { f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath)
    }
  }

  /** Builds query `q` and forces it by collecting its rows (a sink that
    * reads every column), with spans charged to its package. Returns the
    * rows, so checking them runs no Spark job, and the seconds it took.
    */
  def execute(spark: SparkSession, tracer: Tracer, dir: String, q: String): (Array[Row], Double) = {
    val pkg = Registry.packageOf(q)
    val fn = graft.SparkEntry.queries(q)
    Workload.time {
      tracer.span("op") {
        val df = tracer.span(s"$pkg.build")(fn(spark, dir))
        tracer.span(s"$pkg.exec")(df.collect())
      }
    }
  }
}

/** Non-empty, non-comment lines of a classpath resource. */
object Resource {
  def lines(name: String): Seq[String] = {
    val in = Option(getClass.getResourceAsStream(name)).getOrElse(sys.error(s"missing resource $name"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally in.close()
  }
}

/** Order-independent fingerprint of a query's answer, computed without
  * Spark: its row count and the wrapping sum of a 64-bit hash of each
  * row's canonical text.
  */
object Fingerprint {
  def of(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r => hash64(canonical(r))).sum)

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL)

  /** A value as text that depends neither on map order nor on array
    * identity; dates and timestamps print in the JVM's time zone, which
    * the runner fixes to UTC.
    */
  def canonical(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case x => x.toString
  }

  /** name -> (rows, hash) of every query with a stable answer in the
    * `queries.tsv` record.
    */
  def recorded(): Map[String, (Long, Long)] =
    Resource.lines("/queries.tsv").map(_.split('\t')).collect {
      case f if f.length > 4 && f(4) == "true" => f(0) -> (f(2).toLong, f(3).toLong)
    }.toMap
}
