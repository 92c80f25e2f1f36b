package graft.rentals

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties for the pipeline algebra (SURVEY.md §5). */
class PropertiesSpec extends SparkSpec {

  def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("unpivot arity: rows == regions x month-columns for any wide frame") {
    val genMonths = Gen.chooseNum(1, 8)
    val genRegions = Gen.chooseNum(1, 6)
    checkProp(Prop.forAll(genMonths, genRegions) { (nMonths, nRegions) =>
      val months = (1 to nMonths).map(m => f"2024-$m%02d")
      val schema = org.apache.spark.sql.types.StructType(
        (Seq("RegionID", "RegionName", "StateName") ++ months).map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)))
      val rows = (1 to nRegions).map { r =>
        Row.fromSeq(Seq(r.toString, s"R$r", "ST") ++ months.map(m => "100.0"))
      }
      val out = mkDf(schema, rows).transform(Transforms.enforceSchema).transform(Transforms.unpivotMonthly)
      out.count() == nMonths.toLong * nRegions
    })
  }

  test("MoM algebra: round(((b - a) / a) * 100, 2) for any positive rent pair") {
    val genRent = Gen.chooseNum(1, 500000).map(_ / 100.0)
    checkProp(Prop.forAll(genRent, genRent) { (a, b) =>
      val rows = Seq(
        Row(1, "R", "ST", java.sql.Date.valueOf("2024-01-01"), a),
        Row(1, "R", "ST", java.sql.Date.valueOf("2024-02-01"), b))
      val out = Transforms.addMomChange(mkDf(Fixtures.longSchema, rows))
        .orderBy("month").select("rent_change_mom").collect()
      val expected = BigDecimal(((b - a) / a) * 100)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      out(0).isNullAt(0) && out(1).getDouble(0) == expected
    })
  }

  test("cents quantization matches BigDecimal HALF_UP for 2-decimal money (property)") {
    import org.apache.spark.sql.functions._
    val gen = Gen.chooseNum(0L, 5000000L) // cents
    checkProp(Prop.forAll(Gen.listOfN(20, gen)) { cs =>
      val doubles = cs.map(c => c.toDouble / 100.0)
      import spark.implicits._
      val out = doubles.toDF("x").select(graft.core.Num.cents(col("x"))).collect().map(_.getLong(0))
      out.toList == cs
    })
  }

  test("poly_hash equals a pure-Scala reference fold for random ASCII strings (property)") {
    import org.apache.spark.sql.functions._
    val genStr = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    checkProp(Prop.forAll(Gen.listOfN(10, genStr)) { ss =>
      import spark.implicits._
      val out = ss.toDF("text")
        .select(graft.functions.PolyHash.polyHash(col("text"))).collect().map(_.getLong(0))
      val ref = ss.map(_.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L))
      out.toList == ref
    })
  }

  test("splitHash: in [0, 2^32), negative-key safe, equals the pure-Scala reference (property)") {
    import spark.implicits._
    def reference(key: Long, sub: Long): Long =
      ((key & 2147483647L) * 2654435761L + sub) % 4294967296L
    val genKey = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    val genSub = Gen.chooseNum(0L, 7L)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(Gen.zip(genKey, genSub))) { pairs =>
      val out = pairs.toDF("k", "s")
        .select(graft.core.Num.splitHash(col("k"), col("s")).as("h"),
          graft.core.Num.splitHash(col("k")).as("h0"), col("k"), col("s"))
        .collect()
      out.forall { r =>
        val (h, h0, k, s) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        h == reference(k, s) && h0 == reference(k, 0L) &&
          h >= 0L && h < 4294967296L && h0 >= 0L && h0 < 4294967296L
      }
    })
  }

  test("DQ gate: every verdict of a random check list equals a plain-Scala count (property)") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    type R = (Option[Int], Option[Int], Option[Int], Option[Double])
    val schema = StructType(Seq(
      StructField("k1", IntegerType), StructField("k2", IntegerType),
      StructField("k1_k2", IntegerType), StructField("v", DoubleType)))
    // few distinct keys (duplicates), nulls in a key and the value, values on
    // the same integer grid as the range bounds (both sides of each bound,
    // and exactly on it); `k1_k2` makes uniqueness over it share a check
    // name with uniqueness over (k1, k2)
    val genRow: Gen[R] = for {
      k1 <- Gen.chooseNum(0, 3)
      k2 <- Gen.frequency(4 -> Gen.chooseNum(0, 2).map(Option(_)), 1 -> Gen.const(None))
      k12 <- Gen.chooseNum(0, 5)
      v <- Gen.frequency(4 -> Gen.chooseNum(-3, 13).map(x => Option(x.toDouble)), 1 -> Gen.const(None))
    } yield (Some(k1), k2, Some(k12), v)
    val keyOf: Map[String, R => Any] = Map("k1" -> (_._1), "k2" -> (_._2), "k1_k2" -> (_._3))
    // each generated check paired with its plain-Scala verdict
    val genCheck: Gen[(DataQualityCheck, Seq[R] => Boolean)] = Gen.oneOf(
      Gen.oneOf(0.0, 0.1, 0.25, 0.5, 1.0).map { t =>
        DataQuality.nullPercentageCheck("v", t) -> ((rs: Seq[R]) =>
          rs.isEmpty || rs.count(_._4.isEmpty).toDouble / rs.size <= t)
      },
      Gen.chooseNum(0L, 12L).map { n =>
        DataQuality.rowCountCheck(n) -> ((rs: Seq[R]) => rs.size >= n)
      },
      (for { lo <- Gen.chooseNum(-3, 6); hi <- Gen.chooseNum(lo, 13) } yield (lo, hi)).map { case (lo, hi) =>
        DataQuality.rangeCheck("v", lo.toDouble, hi.toDouble) -> ((rs: Seq[R]) =>
          !rs.exists(_._4.exists(x => x < lo || x > hi)))
      },
      Gen.oneOf(Seq("k1"), Seq("k2"), Seq("k1", "k2"), Seq("k1_k2")).map { keys =>
        DataQuality.uniquenessCheck(keys) -> ((rs: Seq[R]) =>
          rs.map(r => keys.map(k => keyOf(k)(r))).distinct.size == rs.size)
      })
    // small frames, so checks of one kind often disagree within a gate
    val genRows = Gen.choose(0, 10).flatMap(Gen.listOfN(_, genRow))
    checkProp(Prop.forAll(genRows, Gen.choose(1, 8).flatMap(Gen.listOfN(_, genCheck))) {
      (rows, gate) =>
        val df = mkDf(schema, rows.map(r =>
          Row.fromSeq(r.productIterator.map { case o: Option[_] => o.getOrElse(null) }.toSeq)))
        val verdicts = DataQuality.summarize(df, gate.map(_._1)).details.map(_.passed)
        verdicts == gate.map(_._2(rows))
    })
  }

  test("empty wide frame flows through the full pipeline to an empty output") {
    val out = mkDf(Fixtures.wideSchema, Nil).transform(Transforms.runPipeline)
    assert(out.count() === 0)
    assert(out.columns.toSet === Set(
      "RegionID", "RegionName", "StateName", "month", "median_rent",
      "rent_change_mom", "state_rent_rank"))
  }

  test("clean ∘ dedup is idempotent and order-insensitive on the fixture") {
    val df = mkDf(Fixtures.longSchema, Fixtures.longRows)
    val once = Transforms.deduplicate(Transforms.cleanNulls(df))
    val twice = Transforms.deduplicate(Transforms.cleanNulls(once))
    assert(once.count() === twice.count())
    val swapped = Transforms.cleanNulls(Transforms.deduplicate(df))
    // dedup-then-clean can only differ if a null-rent survivor displaced a
    // non-null duplicate — fixture dupes are identical rows, so counts match
    assert(swapped.count() === once.count())
  }
}
