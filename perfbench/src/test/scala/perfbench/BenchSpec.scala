package perfbench

import graft.rentals.PipelineConfig
import java.io.File
import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private val shape = EtlShape(regions = 200, months = 24, states = 10, nullShare = 0.05, dupShare = 0.05)

  test("the same seed gives the same CSV and expectation; another seed does not") {
    val a = EtlInput.generate(7L, 0, shape)
    val b = EtlInput.generate(7L, 0, shape)
    val c = EtlInput.generate(8L, 0, shape)
    assert(a.csv == b.csv)
    assert(a.expected == b.expected)
    assert(a.csv != c.csv)
  }

  test("a later version re-draws rents but keeps every region's state") {
    val base = EtlInput.generate(7L, 0, shape)
    val restated = EtlInput.generate(7L, 3, shape)
    def states(csv: String) = csv.linesIterator.drop(1).map(_.split(",", -1)).map(f => f(0) -> f(4)).toMap
    assert(states(base.csv) == states(restated.csv))
    assert(base.csv.linesIterator.drop(1).next() != restated.csv.linesIterator.drop(1).next())
  }

  test("the generated shares of null cells and duplicate rows follow the shape") {
    val e = EtlInput.generate(7L, 0, shape).expected
    val dupRows = e.rowsIn / shape.months - shape.regions
    assert(dupRows > 0 && dupRows < shape.regions * 0.1)
    val nullShare = e.droppedNull.toDouble / e.rowsIn
    assert(nullShare > 0.02 && nullShare < 0.08)
    assert(e.rowsOut == e.rowsIn - e.droppedNull - e.droppedDup)
  }
}

class CalculatorSpec extends AnyFunSuite {
  import Calculator._

  private def m(month: Int) = LocalDate.of(2024, month, 1)

  // FIXTURES.md layout 2: 3 regions x 6 months, 2 null rents, 1 exact duplicate
  private val long19: Seq[LongRow] = {
    val regions = Seq((102001, "NY"), (394913, "CA"), (394514, "TX"))
    val rows = for {
      (id, st) <- regions
      month <- 1 to 6
    } yield {
      val isNull = (id == 102001 && month == 1) || (id == 394514 && month == 3)
      LongRow(id, st, m(month), if (isNull) None else Some(1000.0 + month))
    }
    rows :+ rows.find(r => r.regionId == 394913 && r.month == m(2)).get
  }

  test("clean drops the two null rents (19 -> 17) and dedup the one copy (19 -> 18)") {
    assert(long19.size == 19)
    assert(clean(long19).size == 17)
    assert(dedup(long19).size == 18)
  }

  test("MoM change is null, 5.0, -1.0 for rents 2000, 2100, 2079") {
    val rows = Seq(2000.0, 2100.0, 2079.0).zipWithIndex.map { case (r, k) => LongRow(1, "NY", m(k + 1), Some(r)) }
    assert(momAndRank(rows).sortBy(_.row.month.toEpochDay).map(_.mom) == Seq(None, Some(5.0), Some(-1.0)))
  }

  test("state rank orders rents descending: New York 1, Albany 2, Buffalo 3") {
    val rows = Seq(1 -> 1500.0, 2 -> 3500.0, 3 -> 1800.0).map { case (id, r) => LongRow(id, "NY", m(1), Some(r)) }
    assert(momAndRank(rows).map(o => o.row.regionId -> o.rank).toMap == Map(1 -> 3L, 2 -> 1L, 3 -> 2L))
  }

  test("the gate's verdicts follow the config: an out-of-range rent or too few rows fail") {
    val config = PipelineConfig()
    val ok = expected(long19.map(r => r.copy(rent = r.rent.map(_ * 10))), config.copy(minRows = 10)).byYear
    assert(verdicts(ok, config.copy(minRows = 10)).values.forall(identity))
    assert(!verdicts(ok, config)("row_count"))
    val high = long19 :+ LongRow(1, "NY", m(1), Some(config.rentMax + 0.01))
    assert(!verdicts(expected(high, config).byYear, config)("range_median_rent"))
    val wider = config.copy(rentMax = 1e6)
    assert(verdicts(expected(high, wider).byYear, wider)("range_median_rent"))
  }

  test("ties share a rank and leave a gap") {
    val rows = Seq(1 -> 10.0, 2 -> 10.0, 3 -> 5.0).map { case (id, r) => LongRow(id, "NY", m(1), Some(r)) }
    assert(momAndRank(rows).map(o => o.row.regionId -> o.rank).toMap == Map(1 -> 1L, 2 -> 1L, 3 -> 3L))
  }
}

/** A traced run of each workload, cut to a few ops on small inputs, must
  * emit exactly the per-layer metrics BENCHMARK.json names, and an untraced
  * run exactly its end-to-end metrics.
  */
class TracedRunSpec extends AnyFunSuite {
  private val manifest = scala.io.Source.fromFile("../BENCHMARK.json").mkString

  private def names(section: String): Seq[String] = {
    val start = manifest.indexOf("\"" + section + "\"")
    val body = manifest.substring(start, manifest.indexOf(']', start))
    "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  private def work(name: String): File = {
    val d = new File(s"target/test-work/$name").getAbsoluteFile
    Workload.delete(d)
    d.mkdirs()
    d
  }

  private val data = new File("testdata/sf0.01").getAbsoluteFile

  private def run(w: File => Workload, trace: Boolean): Main.Result = {
    val dir = work(if (trace) "traced" else "plain")
    Main.run(Main.Args("test", 3L, seconds = 0, trace = trace, work = dir, data = data), w(dir))
  }

  private val smallEtl = EtlShape(regions = 60, months = 24, states = 5)

  test("etl runs emit every end-to-end and per-layer metric, with the ETL layers filled in") {
    val plain = run(d => new EtlWorkload(3L, d, smallEtl), trace = false)
    assert(plain.correct, plain.env)
    assert(plain.metrics.map(_._1) == names("end_to_end"))
    assert(plain.metrics.forall(_._2 > 0), plain.metrics)

    val traced = run(d => new EtlWorkload(3L, d, smallEtl), trace = true)
    assert(traced.correct, traced.env)
    assert(traced.metrics.map(_._1) == names("per_layer"))
    val m = traced.metrics.map(x => x._1 -> x._2).toMap
    Seq("io.read_csv.s", "io.read_csv.jobs", "transforms.plan.s", "write.s", "write.jobs", "write.files",
      "write.partition_dirs", "write.bytes", "write.executor_s", "write.shuffle_bytes", "dq.s", "dq.jobs",
      "orch.attempts", "etl.rows_in", "etl.rows_out", "etl.rows_dropped_null", "host.calib_s")
      .foreach(k => assert(m(k) > 0, k))
    assert(m("etl.rows_in") == m("etl.rows_out") + m("etl.rows_dropped_null") + m("etl.rows_dropped_dup"))
    assert(m("rentals.build_s") == 0.0)
  }

  test("a gate the calculator expects to fail must fail, naming the out-of-range check") {
    val shape = smallEtl.copy(rentScale = 15.0)
    val table = EtlInput.generate(3L, 0, shape).expected.byYear
    assert(Calculator.verdicts(table, PipelineConfig()) == Map(
      "null_percentage_median_rent" -> true, "row_count" -> true, "range_median_rent" -> false,
      "uniqueness_RegionID_month" -> true))
    val plain = run(d => new EtlWorkload(3L, d, shape), trace = false)
    assert(plain.correct && plain.failed == 0, plain.env)
  }

  test("a query run charges its work to the package of each query") {
    val subset = IndexedSeq("scan_filter_project", "dsv2_ctas")
    val traced = run(d => new QuerySuite(3L, d, data, subset), trace = true)
    assert(traced.correct, traced.env)
    assert(traced.metrics.map(_._1) == names("per_layer"))
    val m = traced.metrics.map(x => x._1 -> x._2).toMap
    Seq("ops.exec_s", "ops.jobs", "ops.tasks", "ops.plan_s", "sources.build_s", "sources.build_jobs")
      .foreach(k => assert(m(k) > 0, k))
    assert(m("write.s") == 0.0 && m("streaming.jobs") == 0.0)
  }
}
