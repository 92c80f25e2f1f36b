package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[BigSum]]'s contract: identical to `sum(CAST(x AS DECIMAL(38,0)))`
  * on every input — the long fast path, the spill branch, the merge path,
  * negatives, addends at the long range's ends, NULLs and empty input.
  */
class BigSumSpec extends SparkSpec {

  private def decSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
    df.agg(sum(col("x").cast("decimal(38,0)")).as("s"))
      .head().getDecimal(0)

  private def bigSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
    df.agg(BigSum.of(col("x")).as("s")).head().getDecimal(0)

  test("matches decimal sum on values that stay inside the long buffer") {
    import spark.implicits._
    val df = (1L to 10000L).map(i => i * 1000003L).toDF("x").repartition(4)
    assert(bigSum(df).compareTo(decSum(df)) == 0)
  }

  test("spill branch: per-row addends near 2^53 force rollovers to decimal") {
    import spark.implicits._
    // ~4.6e18 threshold / 9.0e15 addend: spills about once per 512 rows,
    // and the true sum (~9e19) overflows a plain long sum
    val df = (1L to 10000L).map(i => (1L << 53) + i).toDF("x").repartition(8)
    val expected = new java.math.BigDecimal(
      (1L to 10000L).map(i => BigInt((1L << 53) + i)).sum.bigInteger)
    assert(bigSum(df).compareTo(expected) == 0)
  }

  test("negatives and cancellation match the decimal sum") {
    import spark.implicits._
    val df = (1L to 5000L)
      .flatMap(i => Seq(-(1L << 52) - i, (1L << 52) + 2 * i))
      .toDF("x").repartition(8)
    assert(bigSum(df).compareTo(decSum(df)) == 0)
  }

  test("NULLs are skipped; empty and all-NULL input sum to NULL, as SUM does") {
    import spark.implicits._
    val withNulls = Seq[Option[Long]](Some(7L), None, Some(-3L), None)
      .toDF("x")
    assert(bigSum(withNulls).longValueExact() == 4L)
    val empty = Seq.empty[Long].toDF("x")
    assert(bigSum(empty) == null)
    val allNull = Seq[Option[Long]](None, None).toDF("x").repartition(2)
    assert(bigSum(allNull) == null)
  }

  test("addends beyond 2^62 and at Long.MaxValue/MinValue do not wrap") {
    import spark.implicits._
    val xs = Seq(Long.MaxValue, Long.MaxValue, (1L << 62) + 5, -(1L << 62),
      Long.MinValue, 3L, Long.MaxValue - 1)
    val df = xs.toDF("x").repartition(1)
    val want = new java.math.BigDecimal(xs.map(BigInt(_)).sum.bigInteger)
    assert(bigSum(df).compareTo(want) == 0)
    assert(decSum(df).compareTo(want) == 0)
  }

  test("matches sum(CAST(x AS DECIMAL(38,0))) per group (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edge = Gen.oneOf(Long.MaxValue, Long.MinValue, Long.MaxValue - 1,
      Long.MinValue + 1, 1L << 62, -(1L << 62), (1L << 62) - 1, 1 - (1L << 62),
      (1L << 62) + 1, -(1L << 62) - 1)
    val value: Gen[Option[Long]] = Gen.frequency(
      2 -> Gen.const(None),
      3 -> Gen.chooseNum(-1000L, 1000L).map(Some(_)),
      3 -> edge.map(Some(_)),
      2 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(Some(_)))
    // group 2 only ever holds NULLs: its SUM is NULL
    val row = Gen.zip(Gen.chooseNum(0, 1), value).map {
      case (g, v) => if (v.isEmpty && g == 0) (2, v) else (g, v)
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("g", "int").add("x", "long")
    def sums(df: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.Column) =
      df.groupBy("g").agg(s.as("s")).collect()
        .map(r => r.getInt(0) -> Option(r.getDecimal(1)).map(_.stripTrailingZeros)).toMap
    val rowsGen = Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, row))
    val prop = Prop.forAll(rowsGen) { rows =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (g, x) => org.apache.spark.sql.Row(g, x.orNull) }, 3), schema)
      val dec = col("x").cast("decimal(38,0)")
      sums(df, BigSum.of(col("x"))) == sums(df, sum(dec)) &&
        Option(bigSum(df)).map(_.stripTrailingZeros) ==
          Option(decSum(df)).map(_.stripTrailingZeros)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("grouped aggregation (hash path with keys) matches decimal sum") {
    import spark.implicits._
    val df = (1L to 20000L).map(i => (i % 7, (1L << 50) + i)).toDF("g", "x")
      .repartition(8)
    val got = df.groupBy("g").agg(BigSum.of(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val want = df.groupBy("g").agg(sum(col("x").cast("decimal(38,0)")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v.compareTo(want(k)) == 0, s"group $k") }
  }
}
