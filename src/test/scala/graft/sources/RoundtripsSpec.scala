package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Roundtrips.schemaDriftMerge]] — the mergeSchema read really unions the
  * two generations' schemas and null-fills only the old generation's rows.
  */
class RoundtripsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("schema_drift_merge: v1 rows null-fill the added column, v2 rows carry it") {
    val got = Roundtrips.schemaDriftMerge.fn(spark, dir).cache()
    // even suppkeys were written with the v1 schema (no n_items): every row
    // is a v1 row and the new column aggregates to NULL; odd suppkeys are
    // all v2: zero v1 rows and a real n_items total
    val bad = got.filter(
      (col("l_suppkey") % 2 === 0 &&
        (col("n_items_v2").isNotNull || col("n_rows_v1") =!= col("n_rows"))) ||
        (col("l_suppkey") % 2 === 1 &&
          (col("n_items_v2").isNull || col("n_rows_v1") =!= 0)))
      .count()
    assert(bad === 0L)
    // v2 n_items totals equal the base-table lineitem counts
    val expected = graft.core.Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") % 2 === 1)
      .groupBy("l_suppkey").agg(count(lit(1)).as("expected"))
    val mismatch = got.join(expected, "l_suppkey")
      .filter(col("n_items_v2") =!= col("expected")).count()
    assert(mismatch === 0L)
    got.unpersist()
  }

  private def seq(rows: Long, slices: Int = 8) =
    spark.read.format("graft.sources.SeqSource")
      .option("rows", rows.toString).option("slices", slices.toString).load()

  test("DSv2 SeqSource: id-range pushdown narrows the scan at planning time") {
    val df = seq(1000L).filter(col("id") >= 300L && col("id") < 500L)
    val plan = df.queryExecution.executedPlan.toString
    // the source absorbed the range: the scan declares [300,500), and the
    // id predicates appear as pushed
    assert(plan.contains("range=[300,500)"), plan)
    assert(plan.contains("pushed=[") && plan.contains("GreaterThanOrEqual(id,300)"), plan)
    assert(df.count() === 200L)
    // residual predicates are NOT absorbed: bucket filter stays in the plan
    val res = seq(1000L).filter(col("bucket") === 3)
    val rplan = res.queryExecution.executedPlan.toString
    assert(rplan.contains("range=[0,1000)"), rplan)
    assert(res.count() === seq(1000L).collect().count(_.getAs[Int]("bucket") == 3).toLong)
  }

  test("DSv2 SeqSource: column pruning reaches the reader; derivation is exact") {
    val df = seq(64L).select("value")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=value"), plan)
    // values equal the shared derivation (reader and spec call the same fn)
    val got = seq(64L).select("id", "bucket", "value").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    got.foreach { case (id, b, v) =>
      assert(b === graft.sources.SeqSource.bucketOf(id))
      assert(v === graft.sources.SeqSource.valueOf(id))
    }
    assert(got.map(_._1).toSeq === (0L until 64L))
  }

  test("DSv2 SeqSource: complete aggregate pushdown answers count/min/max in closed form") {
    val df = seq(100000L)
      .filter(col("id") >= 1000L && col("id") < 60000L)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AGG-PUSHED"), plan)
    assert(!plan.contains("HashAggregate"), plan) // no aggregate exec at all
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((59000L, 1000L, 59999L)))
    // residual filters block the pushdown; the plain aggregate still agrees
    val blocked = seq(1000L).filter(col("bucket") === 3)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(!blocked.queryExecution.executedPlan.toString.contains("AGG-PUSHED"))
    val b = blocked.head()
    assert((b.getLong(0), b.getLong(1), b.getLong(2)) === ((32L, 3L, 995L)))
  }

  test("DSv2 SeqSource: streaming read emits exactly the batch relation") {
    val streamed = spark.readStream.format("graft.sources.SeqSource")
      .option("rows", "5000").option("slices", "4").load()
    val table = s"seq_stream_spec_${System.nanoTime()}"
    val got = graft.streaming.Streams.runAvailableNowToMemory(
      spark, streamed, table, org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val want = seq(5000L).collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.sorted.toSeq === want.sorted.toSeq)
    assert(got.length === 5000)
  }

  test("DSv2 SeqCatalog: SQL identifiers resolve to the connector with pushdown intact") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val df = spark.sql(
      "SELECT bucket, count(*) AS n FROM graft.seq_10000 WHERE id >= 2000 AND id < 6000 GROUP BY bucket")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("range=[2000,6000)"), plan) // pushdown through the SQL path
    assert(df.collect().map(_.getLong(1)).sum === 4000L)
    // unknown identifiers are a clean analysis error, not a crash
    val err = intercept[Exception](spark.sql("SELECT * FROM graft.nope").collect())
    assert(err.getMessage.toLowerCase.contains("nope"))
  }

  test("DSv2 SeqSource: runtime filtering narrows the scan from the join's build side") {
    // a tiny FILTERED build side whose keys span [100000, 100009] — DPP
    // only fires when the build side carries a selective predicate; the
    // probe scan should receive the id set at runtime and generate only
    // that bracket
    val dim = spark.range(0, 1000000)
      .filter(col("id") >= 100000L && col("id") < 100010L)
    val probe = seq(10000000L, slices = 4)
    val joined = probe.join(dim.hint("broadcast"), Seq("id"))
    val rows = joined.collect()
    assert(rows.length === 10)
    // the scan reports id as runtime-filterable; the executed plan carries
    // the dynamic filter on the BatchScan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters") || plan.contains("dynamicpruning"), plan)
    // and it actually narrowed generation: the scan produced only the
    // bracket's rows, not the 10M-row table (AQE hides the final plan
    // behind AdaptiveSparkPlanExec — unwrap to read the scan's metric)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val scanRows = scans(joined.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows").map(_.value))
    assert(scanRows.nonEmpty && scanRows.forall(_ <= 20L),
      s"scan generated $scanRows rows; runtime narrowing did not engage")
  }

  test("DSv2 MemTable write path: create, append, overwrite, drop run the commit protocol") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_write_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING)")
    import spark.implicits._
    // two appends accumulate (each runs task-commit -> driver-commit)
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").writeTo(tbl).append()
    Seq((3L, "c")).toDF("k", "v").writeTo(tbl).append()
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // INSERT OVERWRITE truncates atomically in the same publish
    spark.sql(s"INSERT OVERWRITE $tbl VALUES (9, 'z')")
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((9L, "z")))
    // SQL INSERT INTO appends
    spark.sql(s"INSERT INTO $tbl VALUES (10, 'y')")
    assert(spark.table(tbl).count() === 2L)
    // read parallelism mirrors the committed write batches
    assert(spark.table(tbl).rdd.getNumPartitions >= 1)
    spark.sql(s"DROP TABLE $tbl")
    val err = intercept[Exception](spark.table(tbl).collect())
    assert(err.getMessage.toLowerCase.contains("mem_write_spec"))
  }

  test("DSv2 MemTable: ALTER TABLE evolves metadata only; old batches project by name") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_evolve_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING)")
    // IF NOT EXISTS over an existing table: no-op, NOT a crash — requires
    // the catalog to throw Spark's TableAlreadyExistsException
    spark.sql(s"CREATE TABLE IF NOT EXISTS $tbl (other INT)")
    assert(spark.table(tbl).schema.fieldNames.toSeq === Seq("k", "v"))
    // ... while a bare CREATE on the existing table still fails loudly
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      spark.sql(s"CREATE TABLE $tbl (other INT)")
    }
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo(tbl).append()
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (n BIGINT)")
    Seq((2L, "b", 20L)).toDF("k", "v", "n").writeTo(tbl).append()
    // pre-alter rows surface the added column as NULL (no rewrite happened:
    // batch 1 still carries its 2-field write schema)
    assert(spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted.toSeq === Seq((1L, "a", -1L), (2L, "b", 20L)))
    val batches = graft.sources.MemTables.get("mem_evolve_spec").get.batches
    assert(batches.map(_.schema.fieldNames.length).sorted.toSeq === Seq(2, 3),
      "alter must NOT retag committed batches")
    // DROP COLUMN removes it from every generation's projection
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    assert(spark.table(tbl).schema.fieldNames.toSeq === Seq("k", "n"))
    assert(spark.table(tbl).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq === Seq((1L, -1L), (2L, 20L)))
    // rename is era-tracked (own spec); NARROWING retype stays rejected —
    // decoding bigint bytes as int would read garbage
    intercept[Exception](spark.sql(s"ALTER TABLE $tbl ALTER COLUMN n TYPE INT"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: DROP then re-ADD of a name does not resurrect pre-drop values") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_tombstone_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 100L)).toDF("k", "v").writeTo(tbl).append()
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (v BIGINT)")
    Seq((2L, 200L)).toDF("k", "v").writeTo(tbl).append()
    // the re-added v is a NEW field: the pre-drop batch's same-name, same-
    // type values must read NULL, not surface stale 100L (Iceberg field-id
    // semantics via per-batch version tags + the tombstone map)
    assert(spark.table(tbl).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq === Seq((1L, -1L), (2L, 200L)))
    // re-add under a DIFFERENT type: the pre-drop batch's bytes must not be
    // decoded as the new type either — tombstoned fields skip the planning
    // type check and read NULL
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (v STRING)")
    Seq((3L, "s3")).toDF("k", "v").writeTo(tbl).append()
    assert(spark.table(tbl).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) "-" else r.getString(1)))
      .sorted.toSeq === Seq((1L, "-"), (2L, "-"), (3L, "s3")))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: VERSION AS OF pins snapshots across append, alter, and overwrite") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_tt_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING)") // v0
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo(tbl).append() // v1
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (n BIGINT)") // v2
    Seq((2L, "b", 20L)).toDF("k", "v", "n").writeTo(tbl).append() // v3
    Seq((9L, "z", 90L)).toDF("k", "v", "n")
      .createOrReplaceTempView("tt_spec_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM tt_spec_src") // v4

    // v0: the empty created table
    assert(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 0").count() === 0)
    // v1: pre-alter SCHEMA (no n column) and only the first append
    val v1 = spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(v1.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a")))
    // v3: both generations, gen-1 n is NULL; the later overwrite invisible
    val v3 = spark.sql(s"SELECT * FROM $tbl VERSION AS OF 3").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).sorted
    assert(v3.toSeq === Seq((1L, -1L), (2L, 20L)))
    // current: the overwrite only (soft-deleted batches stay invisible)
    assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq === Seq(9L))
    // snapshots are read-only; nonexistent / non-numeric versions fail loudly
    intercept[Exception] {
      spark.sql(s"INSERT INTO $tbl VERSION AS OF 1 VALUES (3, 'c', 1)")
    }
    intercept[Exception](spark.sql(s"SELECT * FROM $tbl VERSION AS OF 99").collect())
    intercept[Exception](spark.sql(s"SELECT * FROM $tbl VERSION AS OF 'x'").collect())
    // a DROPPED column is still readable at pre-drop versions (timeline
    // metadata, not current tombstones, binds the snapshot)
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN n") // v5
    assert(spark.sql(s"SELECT n FROM $tbl VERSION AS OF 3").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq === Seq(-1L, 20L))
    assert(!spark.table(tbl).schema.fieldNames.contains("n"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: change-feed windows emit exactly the commit/truncate events") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_cdc_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING)") // v0
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo(tbl).append() // v1
    Seq((2L, "b")).toDF("k", "v").writeTo(tbl).append() // v2
    Seq((9L, "z")).toDF("k", "v").createOrReplaceTempView("cdc_spec_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM cdc_spec_src") // v3

    def feed(from: Long, to: Long) =
      spark.read.format("graft.sources.MemChangesSource")
        .option("table", "mem_cdc_spec")
        .option("from", from.toString).option("to", to.toString)
        .load().collect()
        .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted.toSeq

    // half-open windows: (0,1] sees only the first append; (1,3] sees the
    // second append, its truncation, the first append's truncation, and
    // the overwrite's insert — never the v1 insert itself
    assert(feed(0, 1) === Seq((1L, "insert", 1L)))
    assert(feed(1, 3) === Seq(
      (1L, "delete", 3L), (2L, "delete", 3L), (2L, "insert", 2L), (9L, "insert", 3L)))
    // a batch committed AND truncated inside the window emits BOTH events
    assert(feed(0, 3).count(_ == ((2L, "insert", 2L))) === 1)
    assert(feed(0, 3).count(_ == ((2L, "delete", 3L))) === 1)
    // empty window at a version boundary: no events
    assert(feed(2, 2).isEmpty)
    // bad windows / missing options fail loudly
    intercept[Exception](feed(3, 1))
    intercept[Exception](feed(0, 99))
    // `to` is optional (defaults to the current version = 3): all five
    // events — inserts@1,@2, both deletes@3, the overwrite's insert@3
    assert(spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_cdc_spec").option("from", "0").load().count() === 5)
    intercept[Exception] {
      spark.read.format("graft.sources.MemChangesSource")
        .option("table", "mem_cdc_spec").option("to", "1").load().collect()
    }
    intercept[Exception] {
      spark.read.format("graft.sources.MemChangesSource")
        .option("table", "no_such_table")
        .option("from", "0").option("to", "1").load().collect()
    }
    // schema evolution mid-window: data columns bind to the schema AS OF
    // `to`, so a column added after an event's batch reads NULL on it
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (n BIGINT)") // v4
    Seq((10L, "y", 7L)).toDF("k", "v", "n").writeTo(tbl).append() // v5
    val evolved = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_cdc_spec")
      .option("from", "2").option("to", "5")
      .load()
    assert(evolved.schema.fieldNames.toSeq ===
      Seq("k", "v", "n", "_change_type", "_commit_version"))
    val byKey = evolved.collect()
      .map(r => (r.getLong(0), r.getString(3)) ->
        (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(byKey((9L, "insert")) === -1L) // pre-alter batch: n is NULL
    assert(byKey((10L, "insert")) === 7L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: streaming change feed consumes each version window exactly once across restarts") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_cdc_stream_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v STRING)") // v0
    import spark.implicits._
    withTempDir { dir =>
      def runFeed(): Seq[(Long, String, Long)] = {
        val q = spark.readStream.format("graft.sources.MemChangesSource")
          .option("table", "mem_cdc_stream_spec").option("from", "0")
          .load()
          .writeStream
          .option("checkpointLocation", s"$dir/cp")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              batch.write.mode("overwrite").parquet(s"$dir/out/batch_$batchId")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(s"$dir/out/batch_*")
          .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSeq.sorted
      }
      Seq((1L, "a")).toDF("k", "v").writeTo(tbl).append() // v1
      assert(runFeed() === Seq((1L, "insert", 1L)))
      // new commits between runs: the checkpointed version offset resumes
      // at v1, so run 2 emits ONLY the new window's events — v1's insert
      // is not re-delivered (exactly-once across restarts)
      Seq((2L, "b")).toDF("k", "v").writeTo(tbl).append() // v2
      Seq((9L, "z")).toDF("k", "v").createOrReplaceTempView("cdc_stream_spec_src")
      spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM cdc_stream_spec_src") // v3
      assert(runFeed() === Seq(
        (1L, "delete", 3L), (1L, "insert", 1L), // insert from run 1's files
        (2L, "delete", 3L), (2L, "insert", 2L), (9L, "insert", 3L)))
      // idle restart: nothing new, nothing re-emitted
      assert(runFeed() === Seq(
        (1L, "delete", 3L), (1L, "insert", 1L),
        (2L, "delete", 3L), (2L, "insert", 2L), (9L, "insert", 3L)))
    }
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: TIMESTAMP AS OF resolves to the newest version at or before the instant") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_ts_travel_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT)") // v0
    import spark.implicits._
    Seq(Tuple1(1L)).toDF("k").writeTo(tbl).append() // v1
    Thread.sleep(5) // stamps are millis-resolution; separate the instants
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    Seq(Tuple1(2L)).toDF("k").writeTo(tbl).append() // v2
    val afterV2 = System.currentTimeMillis()

    def asOf(ms: Long): Seq[Long] =
      spark.sql(s"SELECT k FROM $tbl TIMESTAMP AS OF timestamp_millis($ms)")
        .collect().map(_.getLong(0)).sorted.toSeq
    // between v1 and v2: only the first append is visible
    assert(asOf(afterV1) === Seq(1L))
    // at-or-after v2: both; far future: still the newest version
    assert(asOf(afterV2) === Seq(1L, 2L))
    assert(asOf(afterV2 + 3600L * 1000L) === Seq(1L, 2L))
    // before creation: no state existed — loud error, not an empty read
    intercept[Exception](asOf(afterV1 - 3600L * 1000L))
    // timestamp pins are read-only snapshots like version pins
    intercept[Exception] {
      spark.sql(
        s"INSERT INTO $tbl TIMESTAMP AS OF timestamp_millis($afterV2) VALUES (3)")
    }
    // CLOCK-SKEW BOUNDARY: two commits inside one clock tick. stamp()
    // forces strictly monotone micros (second commit = first + 1µs), so
    // the instant "between" them still resolves unambiguously to the
    // newest version at-or-before it. Pin the stamps directly to make the
    // same-tick collision deterministic rather than racing the clock.
    val st = graft.sources.MemTables.get("mem_ts_travel_spec").get
    val base = 1000000L // 1s in µs — an arbitrary pinned epoch
    st.versionTimes = Vector((0L, base), (1L, base + 1000L), (2L, base + 1001L))
    def asOfMicros(us: Long): Seq[Long] =
      spark.sql(s"SELECT k FROM $tbl TIMESTAMP AS OF timestamp_micros($us)")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(asOfMicros(base + 1000L) === Seq(1L)) // exactly v1's stamp: v1
    assert(asOfMicros(base + 1001L) === Seq(1L, 2L)) // the forced +1µs: v2
    assert(asOfMicros(base + 999L) === Seq.empty) // just before v1: v0 (empty table)
    intercept[Exception](asOfMicros(base - 1L)) // predates retained history
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: DELETE WHERE is a versioned group rewrite with SQL null semantics") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_delete_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)")
    import spark.implicits._
    // two committed batches (coalesce(1): one task batch per append, so
    // the rewrite granularity below is deterministic); v is NULL for k=3
    // (null never matches a comparison, so it must SURVIVE a v<25 delete)
    Seq((1L, java.lang.Long.valueOf(10L)), (2L, java.lang.Long.valueOf(30L)))
      .toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    Seq((3L, null.asInstanceOf[java.lang.Long]), (4L, java.lang.Long.valueOf(20L)))
      .toDF("k", "v").coalesce(1).writeTo(tbl).append() // v2
    Seq((5L, java.lang.Long.valueOf(99L)))
      .toDF("k", "v").coalesce(1).writeTo(tbl).append() // v3: no matches
    spark.sql(s"DELETE FROM $tbl WHERE v < 25") // v4: rewrites batches 1+2
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 5L))
    // pre-delete snapshot intact (copy-on-write, not in-place)
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 3").count() === 5)
    // the change feed reports the rewrite: matched batches removed and
    // their survivors re-inserted at the delete's version — while the
    // UNTOUCHED batch (k=5) is NOT rewritten (minimal copy-on-write:
    // delete cost tracks the batches containing matches, not the table)
    val events = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_delete_spec").option("from", "3").load()
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(events === Seq(
      (1L, "delete", 4L), (2L, "delete", 4L), (2L, "insert", 4L),
      (3L, "delete", 4L), (3L, "insert", 4L), (4L, "delete", 4L)))
    // delete-everything path: matched batches removed with no survivors
    spark.sql(s"DELETE FROM $tbl WHERE k IN (2, 3, 5)") // v5
    assert(spark.table(tbl).count() === 0)
    // a condition beyond translatable source filters (k % 2 = 0) falls
    // back to the ROW-LEVEL-OPERATION group rewrite instead of failing —
    // SupportsDelete serves the metadata-only fast path, the rewrite
    // serves everything else
    Seq((10L, java.lang.Long.valueOf(1L)), (11L, java.lang.Long.valueOf(1L)),
      (12L, java.lang.Long.valueOf(1L)))
      .toDF("k", "v").coalesce(1).writeTo(tbl).append()
    spark.sql(s"DELETE FROM $tbl WHERE k % 2 = 0")
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(11L))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: DELETE negation keeps NULL rows (three-valued logic)") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_delete_3vl_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]),
      (3L, java.lang.Long.valueOf(7L)))
      .toDF("k", "v").coalesce(1).writeTo(tbl).append()
    // v <> 5 is UNKNOWN on NULL, not true: the k=2 row must SURVIVE —
    // two-valued eval of Not(EqualTo) would wrongly delete it
    spark.sql(s"DELETE FROM $tbl WHERE v <> 5")
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // v NOT IN (5, 99) is likewise unknown on NULL: k=2 survives again
    spark.sql(s"DELETE FROM $tbl WHERE v NOT IN (5, 99)")
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // ... while IS NULL still targets it directly
    spark.sql(s"DELETE FROM $tbl WHERE v IS NULL")
    assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq === Seq(1L))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: DELETE on a non-comparable column type takes the rewrite path") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_delete_types_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, d DATE, m DECIMAL(10,2))")
    spark.sql(
      s"""INSERT INTO $tbl VALUES
         |(1, DATE'2024-01-01', 10.50), (2, DATE'2024-06-01', 20.00),
         |(3, DATE'2025-01-01', 30.25)""".stripMargin)
    // the metadata-only fast path must DECLINE date/decimal comparisons
    // (its evaluator cannot compare them — accepting would silently match
    // nothing); Spark then falls back to the group-based rewrite, which
    // evaluates the predicate with full Catalyst semantics
    val st = graft.sources.MemTables.get("mem_delete_types_spec").get
    assert(!graft.sources.MemTables.supportedDeleteFilter(
      org.apache.spark.sql.sources.LessThan("d", java.sql.Date.valueOf("2024-07-01")),
      st.schema))
    assert(!graft.sources.MemTables.supportedDeleteFilter(
      org.apache.spark.sql.sources.EqualTo("m", new java.math.BigDecimal("10.50")),
      st.schema))
    spark.sql(s"DELETE FROM $tbl WHERE d < DATE'2024-07-01'")
    assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq === Seq(3L))
    spark.sql(s"DELETE FROM $tbl WHERE m > 30")
    assert(spark.table(tbl).count() === 0L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: streaming-epoch commit is idempotent per (queryId, epochId)") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "long")
    graft.sources.MemTables.create("spec_epoch", schema)
    try {
      def row(v: Long) = org.apache.spark.sql.catalyst.InternalRow(v)
      def count() = graft.sources.MemTables.get("spec_epoch").get
        .batches.filter(_.removedAt == Long.MaxValue).map(_.rows.length).sum
      val w = new graft.sources.MemStreamingWrite(
        "spec_epoch", "query-1", truncate = false, schema)
      def msg(v: Long) = {
        val dw = new graft.sources.MemStreamingWriterFactory(
          graft.sources.MemWriterFactory.forTable("spec_epoch", schema)).createWriter(0, 0L, 0L)
        dw.write(row(v)); dw.commit()
      }
      w.commit(0L, Array(msg(1L)))
      assert(count() === 1)
      // post-restart re-delivery of the SAME epoch: a no-op, not a dup
      w.commit(0L, Array(msg(1L)))
      assert(count() === 1)
      // the next epoch appends
      w.commit(1L, Array(msg(2L)))
      assert(count() === 2)
      // a DIFFERENT query's epoch 0 is its own ledger entry
      new graft.sources.MemStreamingWrite("spec_epoch", "query-2", truncate = false, schema)
        .commit(0L, Array(msg(3L)))
      assert(count() === 3)
      // Complete mode: each epoch truncate-replaces atomically, same dedup
      val c = new graft.sources.MemStreamingWrite(
        "spec_epoch", "query-3", truncate = true, schema)
      c.commit(0L, Array(msg(9L)))
      assert(count() === 1)
      c.commit(0L, Array(msg(9L)))
      assert(count() === 1)
    } finally graft.sources.MemTables.drop("spec_epoch")
  }

  test("DSv2 MemTable: UPDATE and MERGE INTO run as group-based copy-on-write rewrites") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_rlo_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k >= 2") // v2
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 21L), (3L, 31L)))
    Seq((2L, 200L), (9L, 900L)).toDF("k", "v").createOrReplaceTempView("rlo_spec_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING rlo_spec_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin) // v3
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 200L), (3L, 31L), (9L, 900L)))
    // MERGE with a DELETE action
    Seq(Tuple1(3L)).toDF("k").createOrReplaceTempView("rlo_spec_del")
    spark.sql(
      s"""MERGE INTO $tbl t USING rlo_spec_del s ON t.k = s.k
         |WHEN MATCHED THEN DELETE""".stripMargin) // v4
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 9L))
    // copy-on-write: every pre-DML state is still an exact snapshot
    assert(spark.sql(s"SELECT v FROM $tbl VERSION AS OF 1 WHERE k = 2").head.getLong(0) === 20L)
    assert(spark.sql(s"SELECT v FROM $tbl VERSION AS OF 2 WHERE k = 2").head.getLong(0) === 21L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 3").head.getLong(0) === 4L)
    // the _batch_version metadata column is user-selectable and tracks the
    // rewrite: after the merge every current row belongs to the v3+ commits
    val vers = spark.sql(s"SELECT _batch_version FROM $tbl")
      .collect().map(_.getLong(0)).toSet
    assert(vers.forall(_ >= 4L), s"expected post-rewrite batch versions, got $vers")
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: UPDATE/MERGE rewrite only the batches containing matches") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_rlo_prop_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)") // v0
    import spark.implicits._
    Seq((11L, 10L), (12L, 20L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    Seq((21L, 30L), (22L, 40L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v2
    Seq((31L, 50L), (32L, 60L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v3
    val st = graft.sources.MemTables.get("mem_rlo_prop_spec").get
    val before = st.batches.map(b => b.version -> b).toMap
    assert(before.keySet === Set(1L, 2L, 3L))
    // UPDATE hits only batch v2's rows: the runtime group filter must
    // narrow the rewrite scan to that batch and the publish must replace
    // only it — proportional copy-on-write, not a table-sized rewrite
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 21") // v4
    val after = st.batches
    // untouched batches stay REFERENCE-IDENTICAL and live (never copied)
    assert(after.find(_.version == 1L).get eq before(1L))
    assert(after.find(_.version == 3L).get eq before(3L))
    assert(after.filter(b => b.version == 1L || b.version == 3L)
      .forall(_.removedAt == Long.MaxValue))
    // the matched batch was soft-removed at the DML version; its
    // replacement (updated + carried rows) committed at the same version
    assert(after.find(_.version == 2L).get.removedAt === 4L)
    val repl = after.filter(b => b.version == 4L && b.removedAt == Long.MaxValue)
    assert(repl.map(_.rows.length).sum === 2)
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((11L, 10L), (12L, 20L), (21L, 31L), (22L, 40L), (31L, 50L), (32L, 60L)))
    // the change feed for the DML window carries ONLY affected-batch events
    val events = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_rlo_prop_spec").option("from", "3").load()
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(events === Seq(
      (21L, "delete", 4L), (21L, "insert", 4L),
      (22L, "delete", 4L), (22L, "insert", 4L)))
    // MERGE narrows the same way: source keys land in batches v1 and v4
    // only, so batch v3 again survives by reference
    val preMerge = st.batches.find(_.version == 3L).get
    Seq((11L, 1000L), (99L, 9000L)).toDF("k", "v")
      .createOrReplaceTempView("rlo_prop_merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING rlo_prop_merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin) // v5
    assert(st.batches.find(_.version == 3L).get eq preMerge)
    assert(st.batches.find(_.version == 3L).get.removedAt == Long.MaxValue)
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((11L, 1000L), (12L, 20L), (21L, 31L), (22L, 40L),
        (31L, 50L), (32L, 60L), (99L, 9000L)))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: row-level publish validates its SCANNED batches (snapshot isolation)") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "long")
    graft.sources.MemTables.create("spec_rlo_conflict", schema)
    try {
      def rows(v: Long) = Array(org.apache.spark.sql.catalyst.InternalRow(v))
      import graft.sources.MemTables.RowsPayload
      graft.sources.MemTables.commit("spec_rlo_conflict", truncate = false, schema,
        Seq(RowsPayload(rows(1L)))) // v1
      // a rewrite that scanned v1 publishes fine when nothing interleaved
      graft.sources.MemTables.replaceBatches(
        "spec_rlo_conflict", Some(Set(1L)), Some(1L), schema,
        Seq(RowsPayload(rows(2L)))) // v2
      val st = graft.sources.MemTables.get("spec_rlo_conflict").get
      assert(st.version === 2L)
      // a DISJOINT APPEND racing the next rewrite is NOT a conflict: the
      // appended batch wasn't scanned, so both commits land (the
      // snapshot-isolation split every busy table needs) — and the
      // replacement removes ONLY the scanned batch, never the appended one
      graft.sources.MemTables.commit("spec_rlo_conflict", truncate = false, schema,
        Seq(RowsPayload(rows(50L)))) // v3 — interleaved append
      graft.sources.MemTables.replaceBatches(
        "spec_rlo_conflict", Some(Set(2L)), Some(2L), schema,
        Seq(RowsPayload(rows(3L)))) // v4
      assert(st.version === 4L)
      val live = st.batches.filter(_.removedAt == Long.MaxValue)
      assert(live.flatMap(_.rows).map(_.getLong(0)).sorted === Vector(3L, 50L))
      // ... but an interleaved commit that TOUCHED a scanned batch is
      // rejected (lost-update guard), leaving the table untouched: the
      // v4 rewrite removed the v2 batch this stale publish claims to
      // have scanned
      val err = intercept[IllegalStateException] {
        graft.sources.MemTables.replaceBatches(
          "spec_rlo_conflict", Some(Set(2L)), Some(2L), schema, Seq.empty)
      }
      assert(err.getMessage.contains("concurrent commit"))
      assert(st.version === 4L)
    } finally graft.sources.MemTables.drop("spec_rlo_conflict")
  }

  test("DSv2 MemTable: expire_snapshots ages out history without touching retained reads") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_expire_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT)") // v0
    import spark.implicits._
    Seq(Tuple1(1L)).toDF("k").coalesce(1).writeTo(tbl).append() // v1: batch A
    Seq(Tuple1(2L)).toDF("k").createOrReplaceTempView("expire_spec_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM expire_spec_src") // v2: A removed, B committed
    Seq(Tuple1(3L)).toDF("k").coalesce(1).writeTo(tbl).append() // v3: batch C

    def rowsAsOf(v: Long) =
      spark.sql(s"SELECT k FROM $tbl VERSION AS OF $v").collect().map(_.getLong(0)).sorted.toSeq
    def cdc(from: Long) =
      spark.read.format("graft.sources.MemChangesSource")
        .option("table", "mem_expire_spec").option("from", from.toString).load()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val preAsOf2 = rowsAsOf(2L)
    val preCdc2 = cdc(2L)
    // expire everything strictly below v2: batch A (removed at v2, so
    // invisible from v2 onward) is physically dropped — one batch
    val summary = spark.sql(s"CALL graft.expire_snapshots('mem_expire_spec', 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(summary === Seq((1L, 2L)))
    val st = graft.sources.MemTables.get("mem_expire_spec").get
    assert(st.earliestVersion === 2L)
    assert(!st.batches.exists(_.rows.exists(_.getLong(0) == 1L)), "batch A must be gone")
    // every RETAINED read is byte-identical to pre-expiry
    assert(rowsAsOf(2L) === preAsOf2)
    assert(rowsAsOf(3L) === Seq(2L, 3L))
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    assert(cdc(2L) === preCdc2)
    // reads and windows INTO the expired range fail loudly
    val e1 = intercept[Exception](rowsAsOf(1L))
    assert(e1.getMessage.contains("expired"))
    intercept[Exception](rowsAsOf(0L))
    val e2 = intercept[Exception](cdc(1L))
    assert(e2.getMessage.contains("expired"))
    // a lower horizon later never RESURRECTS history (earliest is monotone)
    assert(spark.sql(s"CALL graft.expire_snapshots('mem_expire_spec', 1)")
      .collect().map(_.getLong(1)).toSeq === Seq(2L))
    // horizons beyond current history and unknown tables fail loudly
    intercept[Exception](
      spark.sql(s"CALL graft.expire_snapshots('mem_expire_spec', 99)").collect())
    intercept[Exception](
      spark.sql(s"CALL graft.expire_snapshots('nope_no_such', 1)").collect())
    // a window bound BEFORE an expiry must fail at partition PLANNING too
    // (the streaming path plans each micro-batch long after bind — an
    // expiry interleaved since then must not silently shrink the events)
    val planErr = intercept[IllegalStateException] {
      graft.sources.MemChangesSource.partitionsIn("mem_expire_spec", 0L, 3L)
    }
    assert(planErr.getMessage.contains("expired"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: interleaved commits and alters serialize on the version clock") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "long")
    graft.sources.MemTables.create("spec_concurrent", schema)
    try {
      val st = graft.sources.MemTables.get("spec_concurrent").get
      val nWriters = 8
      val perWriter = 25
      val nAlters = 4
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val writers = (0 until nWriters).map { w =>
        Future {
          (0 until perWriter).foreach { i =>
            graft.sources.MemTables.commit(
              "spec_concurrent", truncate = false, schema,
              Seq(graft.sources.MemTables.RowsPayload(
                Array(org.apache.spark.sql.catalyst.InternalRow((w * 1000 + i).toLong)))))
          }
        }
      }
      val alterer = Future {
        (0 until nAlters).foreach { i =>
          val cur = st.schema
          graft.sources.MemTables.alterSchema(
            "spec_concurrent", cur.add(s"extra_$i", "long", nullable = true))
        }
      }
      Await.result(Future.sequence(writers :+ alterer), 60.seconds)
      // serializable history: every operation owns exactly one version slot
      val totalOps = nWriters * perWriter + nAlters
      assert(st.version === totalOps.toLong)
      // the stamp clock is strictly monotone over exactly the op versions
      assert(st.versionTimes.map(_._1).toSeq === (0L to totalOps.toLong))
      assert(st.versionTimes.map(_._2).sliding(2).forall(p => p(0) < p(1)))
      // each commit produced one batch at a distinct version; no batch
      // shares a version with an alter (alters are metadata-only slots)
      val batchVersions = st.batches.map(_.version)
      assert(batchVersions.size === nWriters * perWriter)
      assert(batchVersions.distinct.size === batchVersions.size)
      val alterVersions = st.history.drop(1).map(_.version)
      assert(alterVersions.size === nAlters)
      assert((batchVersions.toSet intersect alterVersions.toSet).isEmpty)
      // no row lost or duplicated, and no batch tagged with a schema it
      // was never written under (alters must not retag in-flight writes)
      val rows = st.batches.flatMap(_.rows).map(_.getLong(0)).sorted
      val want = (for (w <- 0 until nWriters; i <- 0 until perWriter)
        yield (w * 1000 + i).toLong).sorted
      assert(rows === want)
      assert(st.batches.forall(_.schema.fieldNames.head == "k"))
    } finally graft.sources.MemTables.drop("spec_concurrent")
  }

  test("DSv2 MemTable: merge-on-read delete vectors read identically to copy-on-write") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val cow = "graft.mem_dv_cow_spec"
    val mor = "graft.mem_dv_mor_spec"
    import spark.implicits._
    for ((tbl, props) <- Seq(
        (cow, ""), (mor, " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')"))) {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)$props")
      Seq((1L, 10L), (2L, 30L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
      Seq((3L, 20L), (4L, 40L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v2
      spark.sql(s"DELETE FROM $tbl WHERE v < 25") // v3
      spark.sql(s"DELETE FROM $tbl WHERE k IN (2, 99)") // v4
    }
    val morState = graft.sources.MemTables.get("mem_dv_mor_spec").get
    val cowState = graft.sources.MemTables.get("mem_dv_cow_spec").get
    assert(morState.deleteMode === "merge-on-read")
    // SEMANTIC EQUALITY: both modes read the same at every version
    def snap(tbl: String, v: Long) =
      spark.sql(s"SELECT k, v FROM $tbl VERSION AS OF $v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    (1L to 4L).foreach(v => assert(snap(cow, v) === snap(mor, v), s"version $v diverged"))
    assert(spark.table(mor).collect().map(_.getLong(0)).sorted.toSeq === Seq(4L))
    // COST SHAPE: the MoR table never copied a batch or a row — both
    // original batch instances are still live with their rows arrays
    // intact, only DV overlays attached; the CoW table rewrote instead
    assert(morState.batches.size === 2)
    assert(morState.batches.forall(_.removedAt == Long.MaxValue))
    assert(morState.batches.map(_.rows.length).sum === 4)
    assert(morState.batches.flatMap(_.dv.values).sorted.toSeq === Seq(3L, 3L, 4L))
    assert(cowState.batches.size > 2, "copy-on-write must have rewritten batches")
    // CDC: merge-on-read emits ROW-level delete events at the DV version
    def feed(tbl: String) = spark.read.format("graft.sources.MemChangesSource")
      .option("table", tbl.stripPrefix("graft.")).option("from", "2").load()
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(feed(mor) === Seq((1L, "delete", 3L), (2L, "delete", 4L), (3L, "delete", 3L)))
    // ... while copy-on-write logs batch remove+reinsert (coarser — the
    // surviving k=2 row churns through a delete@3 + insert@3 pair before
    // its real delete@4; the MoR feed above has no such churn)
    assert(feed(cow) === Seq(
      (1L, "delete", 3L), (2L, "delete", 3L), (2L, "delete", 4L), (2L, "insert", 3L),
      (3L, "delete", 3L), (4L, "delete", 3L), (4L, "insert", 3L)))
    // OVERWRITE compacts: removal events exclude rows already DV-dead
    Seq((9L, 90L)).toDF("k", "v").createOrReplaceTempView("dv_spec_src")
    spark.sql(s"INSERT OVERWRITE $mor SELECT * FROM dv_spec_src") // v5
    val ow = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_dv_mor_spec").option("from", "4").load()
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(ow === Seq((4L, "delete", 5L), (9L, "insert", 5L)))
    // NULL semantics ride the same three-valued evaluator on DV tables
    spark.sql(s"DROP TABLE IF EXISTS $mor")
    spark.sql(s"CREATE TABLE $mor (k BIGINT, v BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')")
    Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v").coalesce(1).writeTo(mor).append()
    spark.sql(s"DELETE FROM $mor WHERE v <> 5")
    assert(spark.table(mor).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // invalid modes fail loudly at CREATE
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.mem_dv_bad (k BIGINT)" +
        " TBLPROPERTIES ('graft.delete-mode'='sideways')"))
    spark.sql(s"DROP TABLE $cow")
    spark.sql(s"DROP TABLE $mor")
  }

  test("DSv2 MemTable: merge-on-read UPDATE/MERGE write row-level deltas, no batch rewrite") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_delta_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')") // v0
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    Seq((3L, 30L), (4L, 40L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v2
    val st = graft.sources.MemTables.get("mem_delta_spec").get
    val origBatches = st.batches
    val origRows = origBatches.map(_.rows)
    assert(origBatches.map(_.batchId).distinct.size === 2)
    // UPDATE matches one row per batch — the DELTA path must write two DV
    // entries + one delta batch of two replacement rows, rewriting NOTHING
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k IN (2, 3)") // v3
    val (orig, delta) = st.batches.partition(b => origBatches.exists(_.batchId == b.batchId))
    // original batches: same rows ARRAYS (no copy), live, one DV entry each
    assert(orig.map(_.rows).zip(origRows).forall { case (a, b) => a eq b })
    assert(orig.forall(_.removedAt == Long.MaxValue))
    assert(orig.flatMap(_.dv.toSeq).sorted === Vector((1, 3L), (0, 3L)).sorted)
    // the replacements landed as delta batches (one per write task)
    assert(delta.flatMap(_.rows).map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((2L, 21L), (3L, 31L)))
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 21L), (3L, 31L), (4L, 40L)))
    // time travel across the delta: pre-update snapshot intact
    assert(spark.sql(s"SELECT v FROM $tbl VERSION AS OF 2 WHERE k = 2").head.getLong(0) === 20L)
    // re-UPDATE of an updated row targets the DELTA batch via its row id
    spark.sql(s"UPDATE $tbl SET v = v + 100 WHERE k = 3") // v4
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 21L), (3L, 131L), (4L, 40L)))
    // MERGE: matched -> DV + insert; unmatched -> insert; one version
    Seq((4L, 400L), (9L, 900L)).toDF("k", "v").createOrReplaceTempView("delta_spec_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING delta_spec_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin) // v5
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === Seq((1L, 10L), (2L, 21L), (3L, 131L), (4L, 400L), (9L, 900L)))
    // MERGE with a DELETE action: a row-level DV entry, again no rewrite
    Seq(Tuple1(2L)).toDF("k").createOrReplaceTempView("delta_spec_del")
    spark.sql(
      s"""MERGE INTO $tbl t USING delta_spec_del s ON t.k = s.k
         |WHEN MATCHED THEN DELETE""".stripMargin) // v6
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L, 9L))
    // the ORIGINAL batches were never copied through any of the above
    val finalOrig = st.batches.filter(b => origBatches.exists(_.batchId == b.batchId))
    assert(finalOrig.map(_.rows).zip(origRows).forall { case (a, b) => a eq b })
    assert(finalOrig.forall(_.removedAt == Long.MaxValue))
    // the change feed shows ROW-level delete+insert pairs per DML version
    val ev = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_delta_spec").option("from", "2").option("to", "3").load()
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sorted.toSeq
    assert(ev === Seq(
      (2L, "delete", 3L), (2L, "insert", 3L), (3L, "delete", 3L), (3L, "insert", 3L)))
    // every row's (_batch_id, _batch_pos) id is unique; version tracks lineage
    val ids = spark.sql(s"SELECT _batch_id, _batch_pos, _batch_version FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(ids.map(t => (t._1, t._2)).distinct.length === ids.length)
    // SNAPSHOT-ISOLATION validation: a stale scan version alone is NOT a
    // conflict — an inserts-only delta races any disjoint commit and
    // lands; a delta whose row id collides with an interleaved kill (the
    // DV entry v3 put at position 1 of the first batch) is rejected on
    // the already-deleted position — the structural per-row-id check,
    // not a blind version compare
    val vIns = st.version
    graft.sources.MemTables.applyDelta(
      "mem_delta_spec", st.schema, Seq.empty,
      Seq(Array(org.apache.spark.sql.catalyst.InternalRow(9L, 90L))))
    assert(st.version === vIns + 1)
    val killedBatch = st.batches.filter(b =>
      b.removedAt == Long.MaxValue && b.dv.nonEmpty).head
    val err = intercept[IllegalStateException] {
      graft.sources.MemTables.applyDelta(
        "mem_delta_spec", st.schema,
        Seq((killedBatch.batchId, killedBatch.dv.keys.head)), Seq.empty)
    }
    assert(err.getMessage.contains("already-deleted"))
    // a row id pointing at an unknown batch or a dead position fails
    // loudly — and a REJECTED publish must not burn a version slot (the
    // serializable-history invariant: every slot owns a stamp)
    val vPre = st.version
    intercept[IllegalStateException] {
      graft.sources.MemTables.applyDelta(
        "mem_delta_spec", st.schema, Seq((9999L, 0)), Seq.empty)
    }
    assert(st.version === vPre)
    assert(st.versionTimes.last._1 === vPre)
    // duplicate row ids in one publish would silently duplicate rows
    // (two inserts, one collapsed DV entry) — rejected instead
    val liveId = st.batches.filter(_.removedAt == Long.MaxValue).head.batchId
    val dup = intercept[IllegalStateException] {
      graft.sources.MemTables.applyDelta(
        "mem_delta_spec", st.schema,
        Seq((liveId, 0), (liveId, 0)), Seq.empty)
    }
    assert(dup.getMessage.contains("twice"))
    assert(st.version === vPre)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: compact_table folds batches + DVs at a CDC-invisible version") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_compact_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')") // v0
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (n BIGINT)") // v2
    Seq((3L, 30L, 300L), (4L, 40L, 400L)).toDF("k", "v", "n")
      .coalesce(1).writeTo(tbl).append() // v3
    spark.sql(s"DELETE FROM $tbl WHERE k IN (2, 4)") // v4: DV entries
    def current() = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted.toSeq
    val before = current()
    assert(before === Seq((1L, 10L, -1L), (3L, 30L, 300L)))
    val st = graft.sources.MemTables.get("mem_compact_spec").get
    // compaction: 2 live batches with DVs -> one fresh batch at v5
    val summary = spark.sql(s"CALL graft.compact_table('mem_compact_spec')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(summary === Seq((2L, 2L, 5L)))
    // zero logical change: current read identical; pre-compaction
    // snapshots exact replays; the evolved schema's null-fill survives
    assert(current() === before)
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 3").count() === 4L)
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 4").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // physically: one live batch, no DVs, projected to the current schema
    val live = st.batches.filter(_.removedAt == Long.MaxValue)
    assert(live.size === 1 && live.head.dv.isEmpty)
    assert(live.head.schema.fieldNames.toSeq === Seq("k", "v", "n"))
    // the feed SKIPS the compaction's remove/re-insert (zero logical
    // change) while keeping the REAL events around it: over (3, 5] only
    // the v4 DV deletes appear
    val ev = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_compact_spec").option("from", "3").load()
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).sorted.toSeq
    assert(ev === Seq((2L, "delete", 4L), (4L, "delete", 4L)))
    // post-compaction DML keeps flowing: new events visible after v5
    spark.sql(s"DELETE FROM $tbl WHERE k = 1") // v6
    val ev2 = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_compact_spec").option("from", "5").load()
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4))).sorted.toSeq
    assert(ev2 === Seq((1L, "delete", 6L)))
    // a second compact with one batch and fresh DVs still folds; a third
    // with nothing to do is a version-free no-op
    assert(spark.sql(s"CALL graft.compact_table('mem_compact_spec')")
      .collect().map(_.getLong(2)).toSeq === Seq(7L))
    val vBefore = st.version
    assert(spark.sql(s"CALL graft.compact_table('mem_compact_spec')")
      .collect().map(_.getLong(0)).toSeq === Seq(0L))
    assert(st.version === vBefore)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: table_history surfaces the provenance ledger; properties expose the DML mode") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_history_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)") // v0: create
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    Seq((3L, 30L)).toDF("k", "v").createOrReplaceTempView("hist_spec_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM hist_spec_src") // v2
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (n BIGINT)") // v3
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 3") // v4: CoW rewrite
    spark.sql(s"DELETE FROM $tbl WHERE v > 30") // v5: fast-path delete
    def history() = spark.sql(s"CALL graft.table_history('mem_history_spec')")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(history() === Seq(
      (0L, "create"), (1L, "append"), (2L, "overwrite"), (3L, "alter"),
      (4L, "rewrite"), (5L, "delete")))
    // timestamps are the TIMESTAMP AS OF stamps: STRICTLY increasing —
    // compare at microsecond precision (millis truncation would let two
    // same-tick stamps alias and hide a monotonicity regression)
    val ts = spark.sql(s"CALL graft.table_history('mem_history_spec')")
      .collect().map { r =>
        val t = r.getTimestamp(1).toInstant
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      }
    assert(ts.sliding(2).forall(p => p(0) < p(1)), ts.mkString(","))
    // expiry prunes the surfaced history to what reads can still reach
    spark.sql(s"CALL graft.expire_snapshots('mem_history_spec', 2)")
    assert(history().map(_._1) === Seq(2L, 3L, 4L, 5L))
    // the MoR fork writes its own kinds (delta DML, compaction) and is
    // queryable via table properties
    val mor = "graft.mem_history_mor_spec"
    spark.sql(s"DROP TABLE IF EXISTS $mor")
    spark.sql(s"CREATE TABLE $mor (k BIGINT, v BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read', 'graft.owner'='spec')")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).writeTo(mor).append()
    Seq((3L, 30L), (4L, 40L)).toDF("k", "v").coalesce(1).writeTo(mor).append()
    spark.sql(s"UPDATE $mor SET v = v + 1 WHERE k = 2") // delta
    spark.sql(s"CALL graft.compact_table('mem_history_mor_spec')")
    assert(spark.sql(s"CALL graft.table_history('mem_history_mor_spec')")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq === Seq(
      (0L, "create"), (1L, "append"), (2L, "append"), (3L, "delta"), (4L, "compact")))
    val props = spark.sql(s"SHOW TBLPROPERTIES $mor").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props("graft.delete-mode") === "merge-on-read")
    // user properties accepted at CREATE echo back, never silently vanish
    assert(props("graft.owner") === "spec")
    intercept[Exception](
      spark.sql(s"CALL graft.table_history('nope_no_such')").collect())
    spark.sql(s"DROP TABLE $tbl")
    spark.sql(s"DROP TABLE $mor")
  }

  test("DSv2 MemTable: snapshot tags name versions and pin them against expiry") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_tag_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT)") // v0
    import spark.implicits._
    Seq(Tuple1(1L)).toDF("k").writeTo(tbl).append() // v1
    assert(spark.sql(s"CALL graft.create_tag('mem_tag_spec', 'release1', 1)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("release1", 1L)))
    Seq(Tuple1(2L)).toDF("k").writeTo(tbl).append() // v2
    Seq(Tuple1(9L)).toDF("k").createOrReplaceTempView("tag_spec_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM tag_spec_src") // v3
    // the tag reads as a named snapshot, stable across later DML
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 'release1'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq === Seq(9L))
    // tags pin their snapshot: expiry past the tag fails loudly, the tag
    // still reads; dropping the tag unblocks the expiry
    val pinErr = intercept[Exception](
      spark.sql(s"CALL graft.expire_snapshots('mem_tag_spec', 3)").collect())
    assert(pinErr.getMessage.contains("release1"))
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 'release1'").count() === 1L)
    spark.sql(s"CALL graft.drop_tag('mem_tag_spec', 'release1')")
    spark.sql(s"CALL graft.expire_snapshots('mem_tag_spec', 3)")
    intercept[Exception](
      spark.sql(s"SELECT k FROM $tbl VERSION AS OF 1").collect())
    // unknown/duplicate/invalid tags and out-of-history versions fail loudly
    val unknown = intercept[Exception](
      spark.sql(s"SELECT k FROM $tbl VERSION AS OF 'nope'").collect())
    assert(unknown.getMessage.contains("neither a numeric version nor a tag"))
    spark.sql(s"CALL graft.create_tag('mem_tag_spec', 'current', 3)")
    intercept[Exception](
      spark.sql(s"CALL graft.create_tag('mem_tag_spec', 'current', 3)").collect())
    intercept[Exception](
      spark.sql(s"CALL graft.create_tag('mem_tag_spec', 'future', 99)").collect())
    intercept[Exception]( // expired versions are not taggable
      spark.sql(s"CALL graft.create_tag('mem_tag_spec', 'old', 1)").collect())
    intercept[Exception]( // numeric names would shadow version ids
      spark.sql(s"CALL graft.create_tag('mem_tag_spec', '7', 3)").collect())
    intercept[Exception]( // ... and so would anything Long.parseLong accepts
      spark.sql(s"CALL graft.create_tag('mem_tag_spec', '+7', 3)").collect())
    intercept[Exception](
      spark.sql(s"CALL graft.drop_tag('mem_tag_spec', 'nope')").collect())
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: per-batch column bounds skip non-matching batches at planning") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_skip_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)") // v0
    import spark.implicits._
    // three range-disjoint batches; only the middle one contains nulls
    (0L until 10L).map(k => (k, Option(k * 10L))).toDF("k", "v")
      .coalesce(1).writeTo(tbl).append() // v1: k in [0,9]
    (10L until 20L).map(k => (k, if (k == 13L) None else Option(k * 10L)))
      .toDF("k", "v").coalesce(1).writeTo(tbl).append() // v2: k in [10,19]
    (20L until 30L).map(k => (k, Option(k * 10L))).toDF("k", "v")
      .coalesce(1).writeTo(tbl).append() // v3: k in [20,29]
    val st = graft.sources.MemTables.get("mem_skip_spec").get
    assert(st.batches.forall(b => b.stats.contains("k") && b.stats.contains("v")))

    import org.apache.spark.sql.sources._
    def planned(fs: Filter*): Int = {
      val b = new MemScanBuilder("mem_skip_spec", st.schema, None)
      val residual = b.pushFilters(fs.toArray)
      assert(residual.toSeq === fs.toSeq, "every filter must stay a residual")
      b.build().asInstanceOf[MemScan].planInputPartitions().length
    }
    assert(planned() === 3)
    assert(planned(GreaterThanOrEqual("k", 10L), LessThan("k", 20L)) === 1)
    assert(planned(EqualTo("k", 25L)) === 1)
    assert(planned(EqualTo("k", 99L)) === 0) // outside every batch's bounds
    assert(planned(IsNull("v")) === 1) // only the batch holding a null
    assert(planned(In("k", Array[Any](3L, 27L))) === 2)
    assert(planned(Or(LessThan("k", 5L), GreaterThan("k", 25L))) === 2)
    assert(planned(Not(EqualTo("k", 1L))) === 3) // NOT is conservative: keep all
    assert(planned(EqualTo("k", null)) === 3) // NULL literal: unknown, keep

    // a column added AFTER a batch was written reads all-null there, so an
    // equality on it prunes the pre-alter batches
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (w BIGINT)")
    (30L until 35L).map(k => (k, k * 10L, k + 1000L)).toDF("k", "v", "w")
      .coalesce(1).writeTo(tbl).append()
    assert(planned(EqualTo("w", 1030L)) === 1)
    assert(planned(IsNotNull("w")) === 1)
    assert(planned(IsNull("w")) === 3) // old batches all-null; the new one has no null w — skipped
    // skipping never changes RESULTS (filters stay residuals): the SQL path
    // returns exactly the predicate's rows and its plan shows the skip set
    val q = spark.sql(s"SELECT k, v FROM $tbl WHERE k >= 10 AND k < 20")
    assert(q.queryExecution.executedPlan.toString.contains("skip=["),
      q.queryExecution.executedPlan.toString)
    assert(q.collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq ===
      (10L until 20L).map(k => (k, if (k == 13L) -1L else k * 10L)).toSeq)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: reported statistics auto-broadcast a small mem dimension") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_stats_dim_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (m BIGINT, label STRING)")
    import spark.implicits._
    (0L until 25L).map(m => (m, s"band_$m")).toDF("m", "label")
      .coalesce(1).writeTo(tbl).append()
    // no hint anywhere: the initial (pre-AQE) physical plan must already be
    // a broadcast join, which only happens when the scan REPORTS its size —
    // without SupportsReportStatistics a V2 relation defaults to
    // spark.sql.defaultSizeInBytes (Long.MaxValue) and sort-merge-joins
    val fact = graft.core.Tables.orders(spark, dir)
      .withColumn("m", col("o_orderkey") % 25)
    val joined = fact.join(spark.table(tbl), "m")
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val initial = joined.queryExecution.sparkPlan.toString
    assert(initial.contains("BroadcastHashJoin"), initial)
    assert(joined.count() === 25L)
    // numRows tracks the DV overlay: a merge-on-read delete shrinks it
    val mor = "graft.mem_stats_mor_spec"
    spark.sql(s"DROP TABLE IF EXISTS $mor")
    spark.sql(s"CREATE TABLE $mor (k BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')")
    (0L until 100L).map(Tuple1(_)).toDF("k").coalesce(1).writeTo(mor).append()
    def reportedRows: Long = {
      val st = graft.sources.MemTables.get("mem_stats_mor_spec").get
      new MemScanBuilder("mem_stats_mor_spec", st.schema, None)
        .build().asInstanceOf[MemScan].estimateStatistics().numRows().getAsLong
    }
    assert(reportedRows === 100L)
    spark.sql(s"DELETE FROM $mor WHERE k < 40")
    assert(reportedRows === 60L)
    spark.sql(s"DROP TABLE $tbl")
    spark.sql(s"DROP TABLE $mor")
  }

  test("DSv2 SeqSource: a filter-narrowed sequence auto-broadcasts from reported statistics") {
    // the narrowed range reports exact rows/bytes post-pushdown: small
    // probe side broadcasts with no hint in the INITIAL plan
    val dim = seq(1000000L).filter(col("id") >= 500L && col("id") < 600L)
    val fact = graft.core.Tables.orders(spark, dir)
      .withColumn("id", col("o_orderkey") % 1000)
    val joined = fact.join(dim, "id").agg(count(lit(1)).as("n"))
    val initial = joined.queryExecution.sparkPlan.toString
    assert(initial.contains("BroadcastHashJoin"), initial)
    assert(joined.head().getLong(0) > 0L)
  }

  test("DSv2 MemTable: RENAME COLUMN serves old batches' bytes under the new name") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_rename_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, amount BIGINT)") // v0
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "amount").coalesce(1).writeTo(tbl).append() // v1
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN amount TO total") // v2
    Seq((3L, 30L)).toDF("k", "total").coalesce(1).writeTo(tbl).append() // v3
    // chained rename: the era timeline extends, both generations follow
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN total TO grand_total") // v4
    def cur() = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(cur() === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // time travel re-binds the name the snapshot HAD
    assert(spark.sql(s"SELECT k, amount FROM $tbl VERSION AS OF 1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === Seq((1L, 10L), (2L, 20L)))
    assert(spark.sql(s"SELECT k, total FROM $tbl VERSION AS OF 3").count() === 3L)
    intercept[Exception]( // the new name does not exist in the old snapshot
      spark.sql(s"SELECT grand_total FROM $tbl VERSION AS OF 1").collect())

    // name REUSE after rename: re-adding 'amount' creates a NEW field —
    // pre-rename batches must NOT leak their old 'amount' bytes into it
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (amount BIGINT)") // v5
    Seq((4L, 40L, 444L)).toDF("k", "grand_total", "amount")
      .coalesce(1).writeTo(tbl).append() // v6
    val rows = spark.sql(s"SELECT k, grand_total, amount FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted.toSeq
    assert(rows === Seq((1L, 10L, -1L), (2L, 20L, -1L), (3L, 30L, -1L), (4L, 40L, 444L)))

    // a DELETE conditioned on the renamed column resolves pre-rename bytes
    spark.sql(s"DELETE FROM $tbl WHERE grand_total <= 10")
    assert(cur().map(_._1) === Seq(2L, 3L, 4L))
    // compaction projects through the rename; the read is unchanged
    spark.sql(s"CALL graft.compact_table('mem_rename_spec')")
    assert(cur().map(_._1) === Seq(2L, 3L, 4L))
    // renaming to an existing name fails loudly
    intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN amount TO grand_total").collect())
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: widening ALTER COLUMN TYPE reads old batches through the promotion") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_widen_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k INT, ratio FLOAT)") // v0
    import spark.implicits._
    Seq((1, 1.5f), (2, 2.25f), (2147483647, 0.1f)).toDF("k", "ratio")
      .coalesce(1).writeTo(tbl).append() // v1: int/float bytes
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN k TYPE BIGINT") // v2
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN ratio TYPE DOUBLE") // v3
    Seq((3000000000L, 3.75)).toDF("k", "ratio").coalesce(1).writeTo(tbl).append() // v4
    val got = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    // IEEE promotion is exact: 1.5f->1.5d, 2.25f->2.25d, 0.1f stays the
    // float's value (0.1f.toDouble), never the double literal 0.1
    assert(got === Seq(
      (1L, 1.5d), (2L, 2.25d), (2147483647L, 0.1f.toDouble), (3000000000L, 3.75d)))
    // filters compare across the promotion, and bounds still skip batches
    assert(spark.sql(s"SELECT k FROM $tbl WHERE k > 2500000000").collect()
      .map(_.getLong(0)).toSeq === Seq(3000000000L))
    // pre-widen time travel reads the ORIGINAL types
    val pre = spark.sql(s"SELECT k, ratio FROM $tbl VERSION AS OF 1")
    assert(pre.schema.fields.map(_.dataType.simpleString).toSeq === Seq("int", "float"))
    assert(pre.count() === 3L)
    // compaction converts values into the widened schema; read unchanged
    spark.sql(s"CALL graft.compact_table('mem_widen_spec')")
    assert(spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq === got)
    // narrowing and unrelated retyping are rejected
    intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN k TYPE INT").collect())
    intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN ratio TYPE STRING").collect())
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: the change feed projects renamed/widened columns as of the window end") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_evolve_cdc_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k INT, amount INT)") // v0
    import spark.implicits._
    Seq((1, 10), (2, 20)).toDF("k", "amount").coalesce(1).writeTo(tbl).append() // v1
    spark.sql(s"ALTER TABLE $tbl ALTER COLUMN amount TYPE BIGINT") // v2
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN amount TO total") // v3
    Seq((3, 30L)).toDF("k", "total").coalesce(1).writeTo(tbl).append() // v4
    val feed = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_evolve_cdc_spec").option("from", "0").option("to", "4")
      .load()
    // schema as of v4: (k INT, total BIGINT) + change columns; v1's int
    // 'amount' bytes surface as bigint 'total'
    assert(feed.schema.fieldNames.toSeq ===
      Seq("k", "total", "_change_type", "_commit_version"))
    assert(feed.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted.toSeq ===
      Seq((1, 10L, "insert", 1L), (2, 20L, "insert", 1L), (3, 30L, "insert", 4L)))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: branches stage writes invisibly and fast-forward publishes them") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val key = "mem_branch_spec"
    val tbl = s"graft.$key"
    val br = s"graft.$key.branch_dev"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)") // v0
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v1
    assert(spark.sql(s"CALL graft.create_branch('$key', 'dev', 1)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("dev", 1L)))
    // two staged appends: branch sees base + staged, main sees neither
    Seq((3L, 30L)).toDF("k", "v").coalesce(1).writeTo(br).append()
    Seq((4L, 40L)).toDF("k", "v").coalesce(1).writeTo(br).append()
    def rows(t: String) =
      spark.table(t).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(br) === Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(rows(tbl) === Seq((1L, 10L), (2L, 20L)))
    val st = graft.sources.MemTables.get(key).get
    assert(st.version === 1L, "staging must mint no table version")
    // branch reads go through the ordinary scan: bounds skip staged batches
    locally {
      import org.apache.spark.sql.sources._
      val b = new MemScanBuilder(key, st.schema, Some(1L), None, Some("dev"))
      b.pushFilters(Array[Filter](GreaterThanOrEqual("k", 4L)))
      assert(b.build().asInstanceOf[MemScan].planInputPartitions().length === 1)
    }
    // publish: one main version per staged append, ref dropped
    assert(spark.sql(s"CALL graft.fast_forward('$key', 'dev')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((2L, 3L)))
    assert(rows(tbl) === Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(spark.sql(s"CALL graft.table_history('$key')")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((0L, "create"), (1L, "append"), (2L, "append"), (3L, "append")))
    intercept[Exception](spark.table(br).collect()) // ref is gone
    // a DIVERGED branch (main moved past its base) cannot publish
    spark.sql(s"CALL graft.create_branch('$key', 'stale', 3)")
    Seq((5L, 50L)).toDF("k", "v").coalesce(1).writeTo(s"graft.$key.branch_stale").append()
    Seq((9L, 90L)).toDF("k", "v").coalesce(1).writeTo(tbl).append() // v4: main moves
    val divErr = intercept[Exception](
      spark.sql(s"CALL graft.fast_forward('$key', 'stale')").collect())
    assert(divErr.getMessage.contains("diverged"))
    assert(rows(tbl).map(_._1) === Seq(1L, 2L, 3L, 4L, 9L))
    // expiry refuses to age out a live branch's base; dropping unblocks it
    val pinErr = intercept[Exception](
      spark.sql(s"CALL graft.expire_snapshots('$key', 4)").collect())
    assert(pinErr.getMessage.contains("branch"))
    spark.sql(s"CALL graft.drop_branch('$key', 'stale')")
    spark.sql(s"CALL graft.expire_snapshots('$key', 4)")
    // invalid refs fail loudly
    intercept[Exception](
      spark.sql(s"CALL graft.create_branch('$key', 'dup', 99)").collect())
    intercept[Exception](
      spark.sql(s"CALL graft.drop_branch('$key', 'nope')").collect())
    intercept[Exception](
      spark.sql(s"CALL graft.fast_forward('$key', 'nope')").collect())
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: equality deletes apply to strictly-older batches and match CoW reads") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val key = "mem_eqdel_spec"
    val tbl = s"graft.$key"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'graft.delete-mode'='merge-on-read', 'graft.upsert-keys'='k')") // v0
    val schema = graft.sources.MemTables.get(key).get.schema
    def row(k: Long, v: java.lang.Long): org.apache.spark.sql.catalyst.InternalRow =
      org.apache.spark.sql.catalyst.InternalRow(k, v)
    // epoch 0 -> v1: keys 0..4 (key 0 carries a NULL value) — duplicate
    // key 4 within the epoch is KEPT (in-epoch dedup is the producer's
    // job; the equality delete applies strictly before its own version)
    // one write task's files, as a streaming epoch's tasks ship them
    def files(rows: org.apache.spark.sql.catalyst.InternalRow*) = {
      val w = graft.sources.MemWriterFactory.forTable(key, schema).createWriter(0, 0L)
      rows.foreach(w.write)
      graft.sources.MemWriterFactory.payloadsOf(Array(w.commit())).head
    }
    graft.sources.MemTables.commitEpochUpsert(key, "q1", 0L, schema, Seq("k"),
      Seq(files(row(1L, 10L), row(2L, 20L)),
        files(row(3L, 30L), row(4L, 40L), row(4L, 41L), row(0L, null))))
    val st = graft.sources.MemTables.get(key).get
    assert(st.version === 1L)
    // epoch 1 -> v2: re-ingest keys 2 and 4
    graft.sources.MemTables.commitEpochUpsert(key, "q1", 1L, schema, Seq("k"),
      Seq(files(row(2L, 200L), row(4L, 400L))))
    // idempotent per epoch: a post-restart re-commit is a no-op
    graft.sources.MemTables.commitEpochUpsert(key, "q1", 1L, schema, Seq("k"),
      Seq(files(row(9L, 999L))))
    assert(st.version === 2L)
    def rows(sql: String) = spark.sql(sql).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(rows(s"SELECT k, v FROM $tbl") ===
      Seq((0L, -1L), (1L, 10L), (2L, 200L), (3L, 30L), (4L, 400L)))
    // the first snapshot still reads every original row (incl. both dupes)
    assert(rows(s"SELECT k, v FROM $tbl VERSION AS OF 1") ===
      Seq((0L, -1L), (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (4L, 41L)))
    // CDC: row-level deletes of exactly the replaced keys at v2
    val events = spark.read.format("graft.sources.MemChangesSource")
      .option("table", key).option("from", "1").option("to", "2").load()
      .collect().map(r => (r.getString(2), r.getLong(3), r.getLong(0))).sorted.toSeq
    assert(events === Seq(
      ("delete", 2L, 2L), ("delete", 2L, 4L), ("delete", 2L, 4L),
      ("insert", 2L, 2L), ("insert", 2L, 4L)))
    // equality read ≡ copy-on-write read of the same logical sequence
    val cow = "graft.mem_eqdel_cow_spec"
    spark.sql(s"DROP TABLE IF EXISTS $cow")
    spark.sql(s"CREATE TABLE $cow (k BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (4L, 41L)).toDF("k", "v")
      .coalesce(1).writeTo(cow).append()
    Seq((2L, 200L), (4L, 400L)).toDF("k", "v").createOrReplaceTempView("eqdel_upd")
    spark.sql(
      s"""MERGE INTO $cow t USING eqdel_upd s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    // (MERGE collapses the duplicate key to one updated row each — compare
    // on the shared keyspace: every non-dupe row must agree)
    val mor = rows(s"SELECT k, v FROM $tbl WHERE k IN (1, 2, 3)")
    val cowRows = rows(s"SELECT k, v FROM $cow WHERE k IN (1, 2, 3)")
    assert(mor === cowRows)
    // compaction folds equality deletes physically; reads unchanged, the
    // replace version stays CDC-invisible
    val pre = rows(s"SELECT k, v FROM $tbl")
    spark.sql(s"CALL graft.compact_table('$key')") // v3
    assert(rows(s"SELECT k, v FROM $tbl") === pre)
    assert(spark.read.format("graft.sources.MemChangesSource")
      .option("table", key).option("from", "2").option("to", "3").load().count() === 0L)
    // guards: upsert keys need merge-on-read, must exist, and cannot be
    // dropped or renamed
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.mem_eqdel_bad1 (k BIGINT) TBLPROPERTIES ('graft.upsert-keys'='k')"))
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.mem_eqdel_bad2 (k BIGINT) TBLPROPERTIES (" +
        "'graft.delete-mode'='merge-on-read', 'graft.upsert-keys'='nope')"))
    intercept[Exception](spark.sql(s"ALTER TABLE $tbl DROP COLUMN k"))
    intercept[Exception](spark.sql(s"ALTER TABLE $tbl RENAME COLUMN k TO kk"))
    spark.sql(s"DROP TABLE $tbl")
    spark.sql(s"DROP TABLE $cow")
  }

  test("DSv2 MemTable: rewrite_data_files clusters batches so bounds prune selective reads") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val key = "mem_rewrite_spec"
    val tbl = s"graft.$key"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, v BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')") // v0
    import spark.implicits._
    // three INTERLEAVED appends: every batch spans [0,30) so bounds prune
    // nothing before the rewrite
    (0 until 3).foreach { i =>
      (0L until 30L).filter(_ % 3 == i).map(k => (k, k * 10L)).toDF("k", "v")
        .coalesce(1).writeTo(tbl).append() // v1..v3
    }
    spark.sql(s"DELETE FROM $tbl WHERE k = 7") // v4: DV entry
    val st = graft.sources.MemTables.get(key).get
    import org.apache.spark.sql.sources._
    def planned(fs: Filter*): Int = {
      val b = new MemScanBuilder(key, st.schema, None)
      b.pushFilters(fs.toArray)
      b.build().asInstanceOf[MemScan].planInputPartitions().length
    }
    assert(planned(LessThan("k", 5L)) === 3, "interleaved batches cannot prune")
    val before = spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the distributed rewrite: range-clustered on k, DV folded physically
    val out = spark.sql(s"CALL graft.rewrite_data_files('$key', 'k')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((3L, 29L, 5L))) // 3 batches in, 29 live rows out, v5
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === before, "a compaction is a logical no-op")
    // clustered now: the selective read plans a strict subset of batches
    val liveAfter = st.batches.count(_.removedAt == Long.MaxValue)
    assert(liveAfter > 1, "range partitioning should produce multiple batches")
    assert(planned(LessThan("k", 5L)) < liveAfter)
    // each new batch is sorted and range-disjoint
    val liveBatches = st.batches.filter(_.removedAt == Long.MaxValue)
    val ranges = liveBatches.map { b =>
      val ks = b.rows.map(_.getLong(0)).toSeq
      assert(ks === ks.sorted, "rows must be sorted within a batch")
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, "batch ranges must be disjoint")
      case _ => ()
    }
    // the rewrite version is CDC-invisible; pre-rewrite snapshots replay
    assert(spark.read.format("graft.sources.MemChangesSource")
      .option("table", key).option("from", "4").option("to", "5").load().count() === 0L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 3").head().getLong(0) === 30L)
    // an interleaved commit rejects the publish (lost-update guard)
    val err = intercept[IllegalStateException] {
      graft.sources.MemTables.publishCompaction(key, 4L, st.schema, Seq.empty)
    }
    assert(err.getMessage.contains("concurrent commit"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: expire_older_than resolves a wall-clock retention horizon") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val key = "mem_expire_ts_spec"
    val tbl = s"graft.$key"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT)") // v0
    import spark.implicits._
    Seq(Tuple1(1L)).toDF("k").coalesce(1).writeTo(tbl).append() // v1
    Seq(Tuple1(2L)).toDF("k").createOrReplaceTempView("expire_ts_src")
    spark.sql(s"INSERT OVERWRITE $tbl SELECT * FROM expire_ts_src") // v2: v1's batch removed
    Seq(Tuple1(3L)).toDF("k").coalesce(1).writeTo(tbl).append() // v3
    val st = graft.sources.MemTables.get(key).get
    def tsLit(micros: Long): String = {
      val i = java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)
      val f = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
      s"TIMESTAMP '${f.format(i)}'"
    }
    // horizon at exactly v2's stamp: snapshots stamped BEFORE it expire
    val v2Stamp = st.versionTimes.find(_._1 == 2L).get._2
    assert(spark.sql(
      s"CALL graft.expire_older_than('$key', ${tsLit(v2Stamp)})")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    intercept[Exception](spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1").collect())
    assert(spark.sql(s"SELECT k FROM $tbl VERSION AS OF 2").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // a far-future instant keeps the newest version (never expires current)
    spark.sql(s"CALL graft.expire_older_than('$key', ${tsLit(v2Stamp + 3600000000L)})")
    assert(st.earliestVersion === 3L)
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // tag pins ride through the duration form too
    Seq(Tuple1(4L)).toDF("k").coalesce(1).writeTo(tbl).append() // v4
    spark.sql(s"CALL graft.create_tag('$key', 'keep', 3)")
    val pinErr = intercept[Exception](
      spark.sql(s"CALL graft.expire_older_than('$key', ${tsLit(v2Stamp + 7200000000L)})")
        .collect())
    assert(pinErr.getMessage.contains("keep"))
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: rollback_table restores a retained snapshot as a new versioned op") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_rollback_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')") // v0
    import spark.implicits._
    Seq(1L, 2L, 3L, 4L).toDF("k").coalesce(1).writeTo(tbl).append() // v1: batch A
    Seq(5L, 6L).toDF("k").coalesce(1).writeTo(tbl).append() // v2: batch B
    spark.sql(s"DELETE FROM $tbl WHERE k <= 2") // v3: DV on batch A, no rewrite
    val st = graft.sources.MemTables.get("mem_rollback_spec").get
    val batchB = st.batches.find(_.version == 2L).get
    def rows(sql: String) = spark.sql(sql).collect().map(_.getLong(0)).sorted.toSeq

    // ROLLBACK to v2 undoes the DV drift: batch A (dv entries > target) is
    // replaced by a restored copy carrying its v2-live rows and NO vector;
    // batch B is identical at both ends and must survive BY REFERENCE
    val out = spark.sql(s"CALL graft.rollback_table('mem_rollback_spec', 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 1L, 4L))) // 1 removed, 1 restored, new version 4
    assert(st.batches.find(b => b.version == 2L && b.removedAt == Long.MaxValue)
      .exists(_ eq batchB), "untouched batch must survive by reference")
    val restored = st.batches.find(_.version == 4L).get
    assert(restored.dv.isEmpty, "restored copy must carry no delete vector")
    assert(rows(s"SELECT k FROM $tbl") === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // history is NEVER unwound: every prior snapshot stays an exact replay
    assert(rows(s"SELECT k FROM $tbl VERSION AS OF 3") === Seq(3L, 4L, 5L, 6L))
    assert(rows(s"SELECT k FROM $tbl VERSION AS OF 2") === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // the ledger records the rollback as its own operation kind
    assert(spark.sql(s"CALL graft.table_history('mem_rollback_spec')")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq ===
      Seq((0L, "create"), (1L, "append"), (2L, "append"),
        (3L, "delete"), (4L, "rollback")))
    // the change feed shows the rollback as ORDINARY events at v4: deletes
    // of batch A's alive-at-removal rows ({3,4} — the DV-dead rows already
    // carried their own v3 events) and inserts of the restored rows
    val v4Events = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "mem_rollback_spec").option("from", "3").option("to", "4")
      .load().collect().map(r => (r.getString(1), r.getLong(0))).sorted.toSeq
    assert(v4Events === Seq(
      ("delete", 3L), ("delete", 4L),
      ("insert", 1L), ("insert", 2L), ("insert", 3L), ("insert", 4L)))

    // rolling back to the CURRENT state is a no-op and burns no version
    assert(spark.sql(s"CALL graft.rollback_table('mem_rollback_spec', 4)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 0L, 4L)))
    assert(st.version === 4L)

    // a later-arrived batch is removed when rolling further back: to v1,
    // batch B and the restored copy leave, original batch A re-restores
    spark.sql(s"CALL graft.rollback_table('mem_rollback_spec', 1)") // v5
    assert(rows(s"SELECT k FROM $tbl") === Seq(1L, 2L, 3L, 4L))
    assert(rows(s"SELECT k FROM $tbl VERSION AS OF 4") === Seq(1L, 2L, 3L, 4L, 5L, 6L))

    // out-of-history and expired targets fail loudly
    intercept[Exception](
      spark.sql(s"CALL graft.rollback_table('mem_rollback_spec', 99)").collect())
    spark.sql(s"CALL graft.expire_snapshots('mem_rollback_spec', 2)")
    intercept[Exception](
      spark.sql(s"CALL graft.rollback_table('mem_rollback_spec', 1)").collect())
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 MemTable: a DELETE matching zero rows burns no version slot") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    for ((key, props) <- Seq(
        ("mem_noop_del_cow", ""),
        ("mem_noop_del_mor", " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')"))) {
      val tbl = s"graft.$key"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl (k BIGINT)$props") // v0
      import spark.implicits._
      Seq(1L, 2L).toDF("k").coalesce(1).writeTo(tbl).append() // v1
      spark.sql(s"DELETE FROM $tbl WHERE k > 100") // matches nothing: no-op
      val st = graft.sources.MemTables.get(key).get
      assert(st.version === 1L, "phantom delete must not bump the version")
      assert(st.opKinds.get(2L).isEmpty)
      // a real delete still versions normally afterwards
      spark.sql(s"DELETE FROM $tbl WHERE k = 1")
      assert(st.version === 2L)
      assert(st.opKinds(2L) === "delete")
      assert(spark.table(tbl).collect().map(_.getLong(0)).toSeq === Seq(2L))
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("DSv2 MemTable: uncommitted task output is never published") {
    // simulate a failed task attempt: its DataWriter buffers rows but the
    // driver never commits its message — the table must stay empty
    val schema = new org.apache.spark.sql.types.StructType().add("k", "long")
    graft.sources.MemTables.create("spec_abort", schema)
    try {
      val writer = graft.sources.MemWriterFactory.forTable("spec_abort", schema)
        .createWriter(0, 0L)
      writer.write(org.apache.spark.sql.catalyst.InternalRow(1L))
      writer.abort() // task failed: message discarded, nothing committed
      assert(graft.sources.MemTables.get("spec_abort").get.batches.isEmpty)
      // a second attempt commits; only ITS message is published
      val retry = graft.sources.MemWriterFactory.forTable("spec_abort", schema)
        .createWriter(0, 1L)
      retry.write(org.apache.spark.sql.catalyst.InternalRow(2L))
      val msg = retry.commit()
      new graft.sources.MemBatchWrite("spec_abort", truncate = false, schema)
        .commit(Array(msg))
      val batches = graft.sources.MemTables.get("spec_abort").get.batches
      assert(batches.map(_.rows.length).sum === 1)
      assert(batches.head.rows.head.getLong(0) === 2L)
    } finally graft.sources.MemTables.drop("spec_abort")
  }

  test("DSv2 MemTable: .files/.partitions metadata tables report the live layout") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_meta_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, nk BIGINT) PARTITIONED BY (nk)" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')") // v0
    import spark.implicits._
    // v1: two partitions (nk 0 and 1); v2: nk 1 only
    Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("k", "nk").coalesce(1).writeTo(tbl).append()
    Seq((4L, 1L), (5L, 1L)).toDF("k", "nk").coalesce(1).writeTo(tbl).append()
    spark.sql(s"DELETE FROM $tbl WHERE k IN (2, 4)") // v3: one DV kill per append

    // .files: one row per LIVE batch — a DV kill shrinks live_rows but
    // never removes the batch (merge-on-read keeps the rows by reference)
    val files = spark.sql(
      s"SELECT version, partition, row_count, live_rows, deleted_rows FROM $tbl.files")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(f => (f._1, f._2)).toSeq
    assert(files === Seq(
      (1L, "nk=0", 2L, 1L, 1L), (1L, "nk=1", 1L, 1L, 0L),
      (2L, "nk=1", 2L, 1L, 1L)))

    // .partitions: one row per partition TUPLE, identity column typed,
    // live-row counts net of the delete vectors
    val parts = spark.sql(s"SELECT nk, batch_count, row_count FROM $tbl.partitions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(parts === Seq((0L, 1L, 1L), (1L, 2L, 2L)))

    // a copy-on-write delete removes batches from .files (survivor batches
    // replace them); .partitions follows
    val cow = "graft.mem_meta_spec_cow"
    spark.sql(s"DROP TABLE IF EXISTS $cow")
    spark.sql(s"CREATE TABLE $cow (k BIGINT)")
    Seq(1L, 2L).toDF("k").coalesce(1).writeTo(cow).append() // v1
    Seq(3L).toDF("k").coalesce(1).writeTo(cow).append() // v2
    spark.sql(s"DELETE FROM $cow WHERE k = 3") // v3: batch 2 dies whole
    val cowFiles = spark.sql(s"SELECT version, live_rows FROM $cow.files")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cowFiles === Seq((1L, 2L)))
    // an unpartitioned table reports its single implicit partition
    assert(spark.sql(s"SELECT batch_count, row_count FROM $cow.partitions")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))

    // metadata names never shadow a REAL table: a mem table whose own
    // identifier ends in `.files` resolves to itself
    val shadow = "graft.meta_shadow.files"
    spark.sql(s"DROP TABLE IF EXISTS $shadow")
    spark.sql(s"CREATE TABLE $shadow (k BIGINT)")
    Seq(7L).toDF("k").writeTo(shadow).append()
    assert(spark.table(shadow).collect().map(_.getLong(0)).toSeq === Seq(7L))
    // ...and ITS metadata table nests one level deeper
    assert(spark.sql(s"SELECT row_count FROM $shadow.files")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // a metadata table of a nonexistent parent fails loudly
    intercept[Exception](spark.table("graft.mem_never_created.files").collect())

    // .history: the snapshot timeline as a JOINABLE relation — same data
    // as the table_history procedure, composable in SQL
    val hist = spark.sql(s"SELECT version, kind FROM $tbl.history")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(hist === Seq((0L, "create"), (1L, "append"), (2L, "append"),
      (3L, "delete")))
    // joinable: version-stamped row counts ride a plain SQL join
    val joined = spark.sql(
      s"""SELECT h.version, h.kind, count(f.batch_id) AS batches
         |FROM $tbl.history h LEFT JOIN $tbl.files f ON f.version = h.version
         |GROUP BY h.version, h.kind ORDER BY h.version""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(joined === Seq((0L, "create", 0L), (1L, "append", 2L),
      (2L, "append", 1L), (3L, "delete", 0L)))

    // .refs: tags at their pinned version, branches at their base
    spark.sql(s"CALL graft.create_tag('mem_meta_spec', 'v1tag', 1)")
    spark.sql(s"CALL graft.create_branch('mem_meta_spec', 'audit', 3)")
    val refs = spark.sql(s"SELECT name, type, version FROM $tbl.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(refs === Seq(("audit", "branch", 3L), ("v1tag", "tag", 1L)))
    Seq(tbl, cow, shadow).foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("DSv2 MemTable: DELETE row-evaluates only bounds/bucket-admissible batches") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    val tbl = "graft.mem_del_prune_spec"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, nk BIGINT)" +
      " PARTITIONED BY (nk, bucket(4, k))" +
      " TBLPROPERTIES ('graft.delete-mode'='merge-on-read')")
    import spark.implicits._
    // one append, partition-split into (nk, bucket) batches
    (0L until 40L).map(k => (k, k % 2)).toDF("k", "nk").coalesce(1)
      .writeTo(tbl).append()
    val st = graft.sources.MemTables.get("mem_del_prune_spec").get
    val live = st.batches.filter(_.removedAt == Long.MaxValue)
    // nk = k%2 correlates with the bucket id (the multiplier is ≡1 mod 4,
    // so bucket(4, k) = k%4 on small longs): even k only lands in buckets
    // {0,2}, odd in {1,3} — 4 populated (nk, bucket) tuples
    assert(live.size === 4)
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    def cands(fs: org.apache.spark.sql.sources.Filter*) =
      graft.sources.MemTables.candidateBatches(
        fs.toArray, st.specHistory, st.eras, st.droppedAt, live)
    // identity-partition filter: only that partition's batches row-evaluate
    assert(cands(EqualTo("nk", 1L)).size === 2)
    // point filter: identity stats + bucket layout narrow to ONE batch
    assert(cands(EqualTo("nk", 1L), EqualTo("k", 7L)).size === 1)
    // range filter prunes via bounds only (hash buckets can't serve ranges)
    assert(cands(GreaterThanOrEqual("k", 100L)).isEmpty)
    // no filters / unknown shapes keep everything (conservative contract)
    assert(cands().size === 4)
    // and the pruned DELETE still deletes exactly what SQL says
    spark.sql(s"DELETE FROM $tbl WHERE nk = 1 AND k = 7")
    assert(spark.table(tbl).count() === 39L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k = 7").head().getLong(0) === 0L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("DSv2 SeqSource: partition planning honors slices and covers the range") {
    val df = seq(1000L, slices = 5)
    assert(df.rdd.getNumPartitions === 5)
    assert(df.count() === 1000L)
    assert(df.agg(sum(col("id"))).head().getLong(0) === (0L until 1000L).sum)
    // degenerate: more slices than rows collapses to row-count partitions
    assert(seq(3L, slices = 8).count() === 3L)
  }
}
