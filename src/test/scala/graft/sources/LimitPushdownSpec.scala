package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LIMIT / TOP-N pushdown on the mem-table scan ([[MemScanBuilder
  * .pushLimit]] / [[MemScanBuilder.pushTopN]]) — both PARTIAL pushes
  * (Spark keeps the global limit), so every test pins two things: the
  * result is EXACTLY what SQL says, and the scan planned/emitted less
  * than the table.
  */
class LimitPushdownSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def scans(pl: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = pl match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans)
  }

  private def memScan(df: org.apache.spark.sql.DataFrame) =
    scans(df.queryExecution.executedPlan)
      .filter(_.toString.contains("GraftMemScan")).head

  test("LIMIT plans a prefix of batches, each trimmed to the cap") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_plain")
    spark.sql("CREATE TABLE graft.lim_plain (k BIGINT)")
    import spark.implicits._
    for (lo <- Seq(0L, 10L, 20L))
      (lo until lo + 10L).toDF("k").coalesce(1).writeTo("graft.lim_plain").append()

    val df = spark.table("graft.lim_plain").limit(12)
    assert(df.collect().length === 12)
    val scan = memScan(df)
    assert(scan.toString.contains("limit=12"), scan.toString)
    // 12 > one batch's 10 live rows: exactly two batches planned (the
    // third never leaves the driver), none past the cap
    assert(scan.inputRDD.getNumPartitions === 2)
    assert(scan.metrics("numOutputRows").value <= 20L)

    val one = spark.table("graft.lim_plain").limit(5)
    assert(one.collect().length === 5)
    val oneScan = memScan(one)
    assert(oneScan.inputRDD.getNumPartitions === 1)
    assert(oneScan.metrics("numOutputRows").value === 5L)
    spark.sql("DROP TABLE graft.lim_plain")
  }

  test("LIMIT counts LIVE rows: delete-vector kills never starve the head") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_mor")
    spark.sql("CREATE TABLE graft.lim_mor (k BIGINT) " +
      "TBLPROPERTIES ('graft.delete-mode'='merge-on-read')")
    import spark.implicits._
    (0L until 10L).toDF("k").coalesce(1).writeTo("graft.lim_mor").append()
    (10L until 20L).toDF("k").coalesce(1).writeTo("graft.lim_mor").append()
    spark.sql("DELETE FROM graft.lim_mor WHERE k < 5") // batch 1: 5 live left
    // the cap must count live positions, not array slots — a slot count
    // would plan batch 1 alone (10 slots ≥ 8) and return only 5 rows
    val df = spark.table("graft.lim_mor").limit(8)
    assert(df.collect().length === 8)
    // a limit past the live total returns everything that exists
    assert(spark.table("graft.lim_mor").limit(100).collect().length === 15)
    spark.sql("DROP TABLE graft.lim_mor")
  }

  test("ORDER BY + LIMIT trims every batch under a sorted-rewrite claim") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_topn")
    spark.sql("CREATE TABLE graft.lim_topn (k BIGINT, v BIGINT)")
    import spark.implicits._
    // two appends, interleaved keys, then a sorted rewrite (the claim)
    (0L until 50L).map(k => (k * 2, k)).toDF("k", "v").coalesce(1)
      .writeTo("graft.lim_topn").append()
    (0L until 50L).map(k => (k * 2 + 1, k)).toDF("k", "v").coalesce(1)
      .writeTo("graft.lim_topn").append()
    spark.sql("CALL graft.rewrite_data_files('lim_topn', 'k')")

    val q = spark.sql("SELECT k FROM graft.lim_topn ORDER BY k LIMIT 5")
    assert(q.collect().map(_.getLong(0)).toSeq === (0L until 5L))
    val scan = memScan(q)
    assert(scan.toString.contains("topN=5(k)"), scan.toString)
    // every batch contributes at most 5 rows (none may be dropped whole —
    // a later batch can hold the global minimum)
    val parts = scan.inputRDD.getNumPartitions
    assert(scan.metrics("numOutputRows").value <= 5L * parts)
    assert(scan.metrics("numOutputRows").value < 100L)

    // DESC does not match the ascending claim: no trim, result still exact
    val desc = spark.sql("SELECT k FROM graft.lim_topn ORDER BY k DESC LIMIT 3")
    assert(desc.collect().map(_.getLong(0)).toSeq === Seq(99L, 98L, 97L))
    assert(!memScan(desc).toString.contains("topN="), memScan(desc).toString)

    // a mutation retires the claim; the next ORDER BY LIMIT reads whole
    // batches again and stays exact
    Seq((-1L, 0L)).toDF("k", "v").coalesce(1).writeTo("graft.lim_topn").append()
    val after = spark.sql("SELECT k FROM graft.lim_topn ORDER BY k LIMIT 2")
    assert(after.collect().map(_.getLong(0)).toSeq === Seq(-1L, 0L))
    assert(!memScan(after).toString.contains("topN="), memScan(after).toString)
    spark.sql("DROP TABLE graft.lim_topn")
  }

  test("ORDER BY + LIMIT without a claim reads whole batches and stays exact") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_unsorted")
    spark.sql("CREATE TABLE graft.lim_unsorted (k BIGINT)")
    import spark.implicits._
    Seq(5L, 3L, 9L, 1L, 7L).toDF("k").coalesce(1).writeTo("graft.lim_unsorted").append()
    val q = spark.sql("SELECT k FROM graft.lim_unsorted ORDER BY k LIMIT 2")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    assert(!memScan(q).toString.contains("topN="), memScan(q).toString)
    spark.sql("DROP TABLE graft.lim_unsorted")
  }

  test("OFFSET pushes completely: exactly the first live rows are dropped") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.off_plain")
    spark.sql("CREATE TABLE graft.off_plain (k BIGINT) " +
      "TBLPROPERTIES ('graft.delete-mode'='merge-on-read')")
    import spark.implicits._
    (0L until 10L).toDF("k").coalesce(1).writeTo("graft.off_plain").append()
    (10L until 20L).toDF("k").coalesce(1).writeTo("graft.off_plain").append()
    spark.sql("DELETE FROM graft.off_plain WHERE k IN (0, 1)") // 8 live in batch 1

    // OFFSET alone: a complete push — Spark plans no Offset operator, the
    // scan must drop exactly 12 LIVE rows (spanning the batch boundary)
    val off = spark.sql("SELECT k FROM graft.off_plain OFFSET 12")
    assert(off.collect().length === 6)
    val offScan = memScan(off)
    assert(offScan.toString.contains("offset=12"), offScan.toString)
    assert(offScan.metrics("numOutputRows").value === 6L)

    // LIMIT + OFFSET paginate together; cardinality is exact
    val page = spark.sql("SELECT k FROM graft.off_plain LIMIT 4 OFFSET 5")
    assert(page.collect().length === 4)
    assert(memScan(page).toString.contains("offset=5"), memScan(page).toString)
    // an offset past the live total returns nothing
    assert(spark.sql("SELECT k FROM graft.off_plain OFFSET 99").collect().isEmpty)
    spark.sql("DROP TABLE graft.off_plain")
  }

  test("TABLESAMPLE pushes completely: deterministic planning-time Bernoulli") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.sample_push")
    spark.sql("CREATE TABLE graft.sample_push (k BIGINT)")
    import spark.implicits._
    (0L until 10000L).toDF("k").coalesce(4).writeTo("graft.sample_push").append()

    val s = spark.table("graft.sample_push").sample(withReplacement = false, 0.3, seed = 42L)
    val first = s.collect().map(_.getLong(0)).sorted.toSeq
    // pushed: the Sample operator is gone, membership decided at planning
    val scan = memScan(s)
    assert(scan.toString.contains("sample=[0.0,0.3)@42"), scan.toString)
    assert(!s.queryExecution.executedPlan.toString.contains("Sample"),
      s.queryExecution.executedPlan.toString)
    assert(scan.metrics("numOutputRows").value === first.length.toLong)
    // Bernoulli(0.3) over 10k rows: tolerance ±5 sigma ≈ ±230
    assert(first.length > 2700 && first.length < 3300, first.length.toString)
    // deterministic per seed: a rerun draws the identical set
    val again = spark.table("graft.sample_push")
      .sample(withReplacement = false, 0.3, seed = 42L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(again === first)
    // a different seed draws a different set
    val other = spark.table("graft.sample_push")
      .sample(withReplacement = false, 0.3, seed = 43L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(other !== first)
    // with-replacement declines: the Sample operator stays in the plan
    val wr = spark.table("graft.sample_push").sample(withReplacement = true, 0.3, 42L)
    wr.collect()
    assert(!memScan(wr).toString.contains("sample="), memScan(wr).toString)
    spark.sql("DROP TABLE graft.sample_push")
  }

  test("AQE limit elision: reported rowCount is the EXACT planned output") {
    // regression: AQE surfaces the V2 relation's rowCount as maxRows and
    // EliminateLimits deletes a GlobalLimit once maxRows <= limit — with
    // an under-estimating rowCount (or an over-emitting trim) a pushed
    // LIMIT 50 returned 51 rows with no operator left to cut them. The
    // union-of-aggregates shape below is the one that shuffles the limit
    // into an AQE query stage and triggers the elision.
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_aqe")
    spark.sql("CREATE TABLE graft.lim_aqe (k BIGINT, v BIGINT)")
    graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey").as("k"),
        graft.core.Num.cents(col("o_totalprice")).as("v"))
      .writeTo("graft.lim_aqe").append()
    spark.sql("CALL graft.rewrite_data_files('lim_aqe', 'k')")
    val rows = spark.sql(
      """SELECT 'top' AS part, k FROM
        |  (SELECT k FROM graft.lim_aqe ORDER BY k LIMIT 100)
        |UNION ALL
        |SELECT 'head', count(*) FROM (SELECT k FROM graft.lim_aqe LIMIT 50)
        |UNION ALL
        |SELECT 'page', count(*)
        |FROM (SELECT k FROM graft.lim_aqe LIMIT 40 OFFSET 20)""".stripMargin)
      .collect()
    assert(rows.count(_.getString(0) == "top") === 100)
    assert(rows.filter(_.getString(0) == "head").map(_.getLong(1)).toSeq === Seq(50L))
    assert(rows.filter(_.getString(0) == "page").map(_.getLong(1)).toSeq === Seq(40L))
    // the scan itself never emits past the cap, so even an eliminated
    // GlobalLimit cannot surface extra rows
    val head = spark.sql("SELECT k FROM graft.lim_aqe LIMIT 50")
    head.collect()
    assert(memScan(head).metrics("numOutputRows").value === 50L)
    spark.sql("DROP TABLE graft.lim_aqe")
  }

  test("sampled aggregates are never answered from full-table stats") {
    // regression: a completely-pushed TABLESAMPLE deletes the Sample
    // operator from the plan, so the later aggregate-pushdown probe sees
    // a bare Aggregate — answering it from batch statistics silently
    // returned FULL-TABLE aggregates for sampled queries. The builder now
    // declines aggregation whenever a sample was accepted, and Spark runs
    // the ordinary sampled row scan + aggregate.
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.sample_agg")
    spark.sql("CREATE TABLE graft.sample_agg (k BIGINT)")
    import spark.implicits._
    (0L until 10000L).toDF("k").coalesce(4).writeTo("graft.sample_agg").append()
    // the unsampled aggregate still answers from stats (zero-row scan)
    assert(spark.sql("SELECT count(*) FROM graft.sample_agg")
      .collect()(0).getLong(0) === 10000L)
    val n = spark.table("graft.sample_agg")
      .sample(withReplacement = false, 0.3, seed = 7L)
      .count()
    assert(n > 2700L && n < 3300L, n.toString)
    val sqlN = spark.sql("SELECT count(*) FROM graft.sample_agg " +
      "TABLESAMPLE (30 PERCENT) REPEATABLE (7)").collect()(0).getLong(0)
    assert(sqlN > 2700L && sqlN < 3300L, sqlN.toString)
    spark.sql("DROP TABLE graft.sample_agg")
  }

  test("LIMIT/OFFSET never push onto a completely-pushed aggregate") {
    // regression: pushLimit/pushTopN/pushOffset were not guarded against
    // a decided aggregate pushdown — build() returns MemAggScan, which
    // has no head/offset accounting, and OFFSET's COMPLETE contract means
    // a silently-dropped push emits the skipped row
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.agg_lim")
    spark.sql("CREATE TABLE graft.agg_lim (k BIGINT, nk BIGINT) PARTITIONED BY (nk)")
    import spark.implicits._
    (0L until 40L).map(k => (k, k % 4)).toDF("k", "nk").coalesce(1)
      .writeTo("graft.agg_lim").append()
    val rows = spark.sql("SELECT nk, count(*) AS c FROM graft.agg_lim " +
      "GROUP BY nk ORDER BY nk LIMIT 2 OFFSET 1").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 10L)))
    // a bare OFFSET over the pushed-aggregate result drops exactly one row
    assert(spark.sql("SELECT count(*) FROM (SELECT nk, count(*) " +
      "FROM graft.agg_lim GROUP BY nk OFFSET 1)").collect()(0).getLong(0) === 3L)
    spark.sql("DROP TABLE graft.agg_lim")
  }

  test("statistics and partition planning bind to ONE state snapshot") {
    // regression: estimateStatistics and planInputPartitions each walked
    // live table state — for a pushed TOP-N, a mutation racing between
    // them retired the sorted-layout claim AFTER stats reported the
    // trimmed count, and AQE reads that count back as a hard maxRows
    // (EliminateLimits deletes the global limit against it), so the
    // degraded untrimmed plan emitted extra rows with no operator left to
    // cut them. The scan now memoizes its planned slices at first use.
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_memo")
    spark.sql("CREATE TABLE graft.lim_memo (k BIGINT)")
    import spark.implicits._
    (0L until 100L).toDF("k").coalesce(1).writeTo("graft.lim_memo").append()
    spark.sql("CALL graft.rewrite_data_files('lim_memo', 'k')")

    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val b = new MemScanBuilder("lim_memo", spark.table("graft.lim_memo").schema, None)
    assert(b.pushTopN(Array(Expressions.sort(
      Expressions.column("k"), SortDirection.ASCENDING)), 5))
    val scan = b.build().asInstanceOf[MemScan]
    // TOP-N trims EVERY batch to its first 5 live rows (the rewrite may
    // have produced several range-disjoint batches) — far below the 100
    // stored, and the exact number partition planning must reproduce
    val reported = scan.estimateStatistics().numRows().getAsLong
    assert(reported < 100L && reported % 5L === 0L, reported.toString)
    // a mutation between stats and planning retires the sorted claim;
    // the memoized snapshot must keep both views identical regardless.
    // Planned rows are counted by READING every planned partition through
    // the scan's own reader factory, so the check holds on either storage
    // plane (a file-backed partition ships a path, not rows)
    (100L until 200L).toDF("k").coalesce(1).writeTo("graft.lim_memo").append()
    val factory = scan.createReaderFactory()
    val planned = scan.planInputPartitions().map { p =>
      var n = 0L
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) n += r.get().numRows()
        finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) n += 1L
        finally r.close()
      }
      n
    }.sum
    assert(planned === reported)
    spark.sql("DROP TABLE graft.lim_memo")
  }

  test("LIMIT on a partitioned table keeps partition tuples intact") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.lim_part")
    spark.sql("CREATE TABLE graft.lim_part (k BIGINT, nk BIGINT) PARTITIONED BY (nk)")
    import spark.implicits._
    (0L until 30L).map(k => (k, k % 3)).toDF("k", "nk").coalesce(1)
      .writeTo("graft.lim_part").append()
    val df = spark.table("graft.lim_part").limit(7)
    assert(df.collect().length === 7)
    assert(memScan(df).toString.contains("limit=7"), memScan(df).toString)
    spark.sql("DROP TABLE graft.lim_part")
  }
}
