package graft.rentals

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** 1:1 port of the reference DQ tests (`tests/test_data_quality.py`). */
class DataQualitySpec extends SparkSpec {

  private def rent(rents: Seq[java.lang.Double]) =
    mkDf(Fixtures.dqSchema, Fixtures.dqRows(rents))

  private val D: Double => java.lang.Double = java.lang.Double.valueOf

  /** A check's verdict when it is the whole gate. */
  private def passes(check: DataQualityCheck, df: DataFrame): Boolean =
    DataQuality.summarize(df, Seq(check)).details.head.passed

  test("null pct: 1/20 nulls (5%) passes at threshold 0.10 (test_data_quality.py:39-48)") {
    val df = rent(Seq[java.lang.Double](null) ++ (1 to 19).map(i => D(1000.0 + i)))
    assert(passes(DataQuality.nullPercentageCheck("rent", 0.10), df))
  }

  test("null pct: 3/20 nulls (15%) fails at threshold 0.10 (test_data_quality.py:50-58)") {
    val df = rent(Seq[java.lang.Double](null, null, null) ++ (1 to 17).map(i => D(1000.0 + i)))
    assert(!passes(DataQuality.nullPercentageCheck("rent", 0.10), df))
  }

  test("null pct: empty DataFrame passes (data_quality.py:53-54)") {
    assert(passes(DataQuality.nullPercentageCheck("rent", 0.10), rent(Nil)))
  }

  test("row count: 20 rows passes at min 10 (test_data_quality.py:64-70)") {
    assert(passes(DataQuality.rowCountCheck(10), rent((1 to 20).map(i => D(i)))))
  }

  test("row count: 5 rows fails at min 10 (test_data_quality.py:72-77)") {
    assert(!passes(DataQuality.rowCountCheck(10), rent((1 to 5).map(i => D(i)))))
  }

  test("range: bounds are inclusive — 0 and 50000 pass (test_data_quality.py:83-93)") {
    val df = rent(Seq(D(0.0), D(50000.0), D(1234.5)))
    assert(passes(DataQuality.rangeCheck("rent", 0.0, 50000.0), df))
  }

  test("range: -100 and 50001 fail (test_data_quality.py:95-105)") {
    assert(!passes(DataQuality.rangeCheck("rent", 0.0, 50000.0), rent(Seq(D(-100.0), D(1000.0)))))
    assert(!passes(DataQuality.rangeCheck("rent", 0.0, 50000.0), rent(Seq(D(50001.0), D(1000.0)))))
  }

  test("range: nulls pass vacuously (data_quality.py:111)") {
    assert(passes(DataQuality.rangeCheck("rent", 0.0, 50000.0), rent(Seq(null, D(1000.0)))))
  }

  test("uniqueness: duplicate ids fail, severity warn (test_data_quality.py:111-124)") {
    val dup = mkDf(Fixtures.dqSchema,
      Seq(Row(1, "a", D(1.0)), Row(1, "a", D(1.0)), Row(2, "b", D(2.0))))
    val check = DataQuality.uniquenessCheck(Seq("id"))
    assert(!passes(check, dup))
    assert(check.severity === Warn)
    val ok = mkDf(Fixtures.dqSchema, Seq(Row(1, "a", D(1.0)), Row(2, "b", D(2.0))))
    assert(passes(check, ok))
  }

  test("runner: fail-severity raises DataQualityError naming '1 DQ check' (test_data_quality.py:130-137)") {
    val df = rent((1 to 5).map(i => D(i)))
    val failing = Seq(DataQuality.rowCountCheck(10)) // 5 < 10 -> fail
    val e = intercept[DataQualityError] {
      DataQuality.runQualityChecks(df, failing)
    }
    assert(e.getMessage.contains("1 DQ check"))
    assert(e.getMessage.contains("row_count"))
  }

  test("runner: warn-severity tallies but does not raise (test_data_quality.py:140-153)") {
    val dup = mkDf(Fixtures.dqSchema, Seq(Row(1, "a", D(1.0)), Row(1, "a", D(1.0))))
    val summary = DataQuality.runQualityChecks(dup, Seq(DataQuality.uniquenessCheck(Seq("id"))))
    assert(summary.total === 1)
    assert(summary.passed === 0)
    assert(summary.warnings === 1)
    assert(summary.failed === 0)
  }

  test("runner: all checks run even when an early one fails (deferred raise, data_quality.py:218-223)") {
    val df = rent((1 to 5).map(i => D(i)))
    val checks = Seq(
      DataQuality.rowCountCheck(10), // fails
      DataQuality.rangeCheck("rent", 0.0, 50000.0)) // passes, must still run
    val e = intercept[DataQualityError] { DataQuality.runQualityChecks(df, checks) }
    assert(e.getMessage.contains("1 DQ check"))
    val summary = DataQuality.summarize(df, checks)
    assert(summary.total === 2 && summary.passed === 1 && summary.failed === 1)
  }

  test("checks sharing a column or a name keep their own verdicts in one gate") {
    // two range checks on one column with different bounds, and uniqueness
    // over the column `a_b` next to uniqueness over (a, b): same check
    // names, so nothing keyed by name may be shared between them
    val schema = StructType(Seq(
      StructField("r", DoubleType), StructField("a", IntegerType),
      StructField("b", IntegerType), StructField("a_b", IntegerType)))
    val df = mkDf(schema, Seq(
      Row(5.0, 1, 1, 7), Row(50.0, 1, 2, 7), Row(null, 2, 1, 8)))
    val gate = Seq(
      DataQuality.rangeCheck("r", 0.0, 10.0), // 50 is out: fails
      DataQuality.rangeCheck("r", 0.0, 100.0), // passes
      DataQuality.uniquenessCheck(Seq("a_b")), // 7 repeats: fails
      DataQuality.uniquenessCheck(Seq("a", "b"))) // passes
    val verdicts = DataQuality.summarize(df, gate).details.map(_.passed)
    assert(verdicts === gate.map(passes(_, df)))
    assert(verdicts === Seq(false, true, false, true))
  }

  test("a throwing check is recorded as failed; the rest of the gate still runs") {
    val df = rent((1 to 5).map(i => D(1000.0 + i)))
    import spark.implicits._
    val stringRange = Seq(("a", "1000"), ("b", "n/a"), ("c", "2000")).toDF("id", "rent")
    // an unknown column fails analysis; a non-numeric string compared with
    // a double bound fails at run time under ANSI
    Seq(
      df -> DataQuality.rangeCheck("no_such_column", 0.0, 50000.0),
      stringRange -> DataQuality.rangeCheck("rent", 0.0, 50000.0)).foreach { case (input, bad) =>
      val gate = Seq(DataQuality.rowCountCheck(3), bad, DataQuality.nullPercentageCheck("rent", 0.5))
      val summary = DataQuality.summarize(input, gate)
      assert(summary.details.map(r => r.name -> r.passed) ===
        Seq("row_count" -> true, bad.name -> false, "null_percentage_rent" -> true))
      val e = intercept[DataQualityError] { DataQuality.runQualityChecks(input, gate) }
      assert(e.getMessage === s"1 DQ check(s) failed: ${bad.name}")
    }
  }

  test("standard gate passes on the healthy pipeline output") {
    val healthy = mkDf(Fixtures.longSchema, Fixtures.longRows)
      .transform(Transforms.cleanNulls)
      .transform(Transforms.deduplicate)
    val summary = DataQuality.runQualityChecks(
      healthy, DataQuality.standardChecks(PipelineConfig(minRows = 10)))
    assert(summary.failed === 0)
  }
}
