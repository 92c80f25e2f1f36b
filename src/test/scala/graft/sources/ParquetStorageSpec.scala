package graft.sources

import graft.SparkSpec
import graft.core.EngineSession
import org.apache.spark.sql.sources.{Filter, LessThan}

/** The FILE-BACKED storage plane (`graft.storage=parquet`,
  * [[MemTables.FileStore]] / [[ParquetRows]]): executor-written parquet
  * files with manifest-only commits, path-shipping scans, DV overlays and
  * era projection over files, the distributed rewrite publishing
  * manifests (no driver row collect), and file lifecycle (drop/expiry
  * reclaim).
  */
class ParquetStorageSpec extends SparkSpec {

  private def catalogOn(): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def liveBatches(key: String) =
    MemTables.get(key).get.batches.filter(_.removedAt == Long.MaxValue)

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

  test("ParquetRows round-trips InternalRows across supported types") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val schema = new StructType()
      .add("k", LongType).add("s", StringType).add("d", DateType)
      .add("ts", TimestampType).add("x", DoubleType).add("b", BooleanType)
    val rows = Array(
      InternalRow(1L, UTF8String.fromString("hello"), 12345, 1700000000000000L, 1.5, true),
      InternalRow(2L, null, null, null, -0.25, false))
    val path = java.nio.file.Files.createTempDirectory("pq-rt").toString + "/t.parquet"
    assert(ParquetRows.write(path, schema, rows.iterator) === 2L)
    val back = ParquetRows.read(path, schema)
    assert(back.length === 2)
    assert(back(0).getLong(0) === 1L)
    assert(back(0).getUTF8String(1).toString === "hello")
    assert(back(0).getInt(2) === 12345)
    assert(back(0).getLong(3) === 1700000000000000L)
    assert(back(1).isNullAt(1) && back(1).isNullAt(2) && back(1).isNullAt(3))
    assert(back(1).getDouble(4) === -0.25)
    // byte-compatible with spark.read.parquet
    assert(spark.read.parquet(path).count() === 2L)
    ParquetRows.delete(path)
  }

  test("writes land as executor parquet files; the driver holds manifests") {
    catalogOn(); drop("pq_base")
    spark.sql("CREATE TABLE graft.pq_base (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.pq_base SELECT id, id * 10 FROM range(0, 100)")
    val live = liveBatches("pq_base")
    assert(live.nonEmpty)
    // every batch is file-backed: the store is a manifest, the bytes are
    // a real parquet file on disk, and the stats came from the write task
    live.foreach { b =>
      val f = b.store.file
      assert(f.isDefined, "batch must be file-backed")
      assert(new java.io.File(f.get).isFile, f.get)
      assert(b.store.isInstanceOf[MemTables.FileStore])
      assert(b.stats.nonEmpty)
    }
    // the read streams the files back exactly
    assert(spark.table("graft.pq_base").count() === 100L)
    assert(spark.sql("SELECT sum(v) FROM graft.pq_base").head().getLong(0) ===
      (0L until 100L).map(_ * 10).sum)
    // data skipping still rides the manifest stats
    val sel = spark.table("graft.pq_base").where("k = 5")
    assert(sel.count() === 1L)
    drop("pq_base")
  }

  test("partitioned parquet table: per-tuple files, pruning, dynamic overwrite") {
    catalogOn(); drop("pq_part")
    spark.sql("CREATE TABLE graft.pq_part (k BIGINT, nk INT) " +
      "PARTITIONED BY (nk) TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.pq_part SELECT id, CAST(id % 4 AS INT) FROM range(0, 40)")
    val live = liveBatches("pq_part")
    assert(live.map(_.part).distinct.size === 4)
    live.foreach(b => assert(b.store.file.isDefined))
    // partition-pure files: each file's rows recompute to its tuple
    val spec = MemTables.get("pq_part").get.partitioning
    live.foreach { b =>
      b.rows.foreach(r => assert(MemTables.partTupleOf(spec, b.schema, r) === b.part))
    }
    val one = spark.table("graft.pq_part").where("nk = 2")
    assert(one.count() === 10L)
    assert(memScan(one).inputRDD.getNumPartitions === 1)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE graft.pq_part VALUES (999, 2)")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert(spark.table("graft.pq_part").where("nk = 2").count() === 1L)
    assert(spark.table("graft.pq_part").count() === 31L)
    drop("pq_part")
  }

  test("merge-on-read DELETE overlays the file reader; time travel replays") {
    catalogOn(); drop("pq_mor")
    spark.sql("CREATE TABLE graft.pq_mor (k BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'graft.storage'='parquet', 'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.pq_mor SELECT id, id FROM range(0, 50)") // v1
    spark.sql("DELETE FROM graft.pq_mor WHERE k % 5 = 0") // v2: DV entries only
    assert(spark.table("graft.pq_mor").count() === 40L)
    // the files were NOT rewritten: same single file, DV overlay at read
    val live = liveBatches("pq_mor")
    assert(live.forall(_.store.file.isDefined))
    assert(live.map(_.dv.size).sum === 10)
    assert(spark.sql("SELECT count(*) FROM graft.pq_mor VERSION AS OF 1")
      .head().getLong(0) === 50L)
    // row-level UPDATE (delta path) composes: post-image rows may be
    // driver-resident, pre-images stay in their files
    spark.sql("UPDATE graft.pq_mor SET v = -1 WHERE k = 7")
    assert(spark.sql("SELECT v FROM graft.pq_mor WHERE k = 7").head().getLong(0) === -1L)
    assert(spark.table("graft.pq_mor").count() === 40L)
    drop("pq_mor")
  }

  test("schema evolution projects old files; stats answer aggregates") {
    catalogOn(); drop("pq_evo")
    spark.sql("CREATE TABLE graft.pq_evo (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.pq_evo SELECT id FROM range(0, 10)")
    spark.sql("ALTER TABLE graft.pq_evo ADD COLUMNS (tag STRING)")
    spark.sql("INSERT INTO graft.pq_evo VALUES (100, 'new')")
    val rows = spark.sql("SELECT k, tag FROM graft.pq_evo ORDER BY k").collect()
    assert(rows.length === 11)
    assert(rows.take(10).forall(_.isNullAt(1))) // old files null-fill
    assert(rows.last.getString(1) === "new")
    // stats-answered aggregate: zero-row scan over manifests
    val agg = spark.sql("SELECT count(*) AS c, min(k) AS mn, max(k) AS mx FROM graft.pq_evo")
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((11L, 0L, 100L)))
    drop("pq_evo")
  }

  test("rewrite_data_files publishes executor-written manifests and sorts") {
    catalogOn(); drop("pq_rw")
    spark.sql("CREATE TABLE graft.pq_rw (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    import spark.implicits._
    for (i <- 0 until 3)
      (0L until 40L).filter(_ % 3 == i).map(k => (k, k * 2)).toDF("k", "v")
        .coalesce(1).writeTo("graft.pq_rw").append()
    val before = liveBatches("pq_rw").map(_.batchId).toSet
    spark.sql("CALL graft.rewrite_data_files('pq_rw', 'k')")
    val after = liveBatches("pq_rw")
    assert(after.map(_.batchId).toSet.intersect(before).isEmpty)
    after.foreach(b => assert(b.store.file.isDefined,
      "rewrite output must be file-backed (manifest publish)"))
    // the sorted claim serves TOP-N trimming over files
    val head = spark.sql("SELECT k FROM graft.pq_rw ORDER BY k LIMIT 3")
    assert(head.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(memScan(head).toString.contains("topN=3"), memScan(head).toString)
    assert(spark.table("graft.pq_rw").count() === 40L)
    drop("pq_rw")
  }

  test("driver-materialized paths stay file-backed: CoW survivors, compaction") {
    catalogOn(); drop("pq_uniform")
    spark.sql("CREATE TABLE graft.pq_uniform (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')") // copy-on-write default
    spark.sql("INSERT INTO graft.pq_uniform SELECT id, id FROM range(0, 30)")
    spark.sql("DELETE FROM graft.pq_uniform WHERE k % 3 = 0") // CoW survivors
    liveBatches("pq_uniform").foreach(b =>
      assert(b.store.file.isDefined, "CoW survivor must be file-backed"))
    assert(spark.table("graft.pq_uniform").count() === 20L)
    spark.sql("INSERT INTO graft.pq_uniform VALUES (100, 100)")
    spark.sql("CALL graft.compact_table('pq_uniform')")
    val folded = liveBatches("pq_uniform")
    folded.foreach(b =>
      assert(b.store.file.isDefined, "compaction output must be file-backed"))
    assert(spark.table("graft.pq_uniform").count() === 21L)
    drop("pq_uniform")
  }

  test("file-backed compact_table runs distributed: no driver materialization") {
    catalogOn(); drop("pq_distcomp")
    spark.sql("CREATE TABLE graft.pq_distcomp (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', 'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.pq_distcomp SELECT id, id * 2 FROM range(0, 500)")
    spark.sql("INSERT INTO graft.pq_distcomp SELECT id + 500, id FROM range(0, 500)")
    spark.sql("DELETE FROM graft.pq_distcomp WHERE k % 10 = 0") // DVs
    val liveBefore = liveBatches("pq_distcomp").size
    assert(liveBefore >= 2)
    val before = ParquetRows.readCalls.get()
    val r = spark.sql("CALL graft.compact_table('pq_distcomp')").collect()(0)
    assert(ParquetRows.readCalls.get() === before,
      "distributed compact must never materialize files driver-side")
    assert(r.getLong(0) === liveBefore.toLong)
    assert(r.getLong(1) === 900L) // 1000 − 100 deleted
    assert(spark.table("graft.pq_distcomp").count() === 900L)
    val folded = liveBatches("pq_distcomp")
    assert(folded.forall(_.store.file.isDefined))
    assert(folded.forall(_.dv.isEmpty), "DVs are applied, not carried")
    // single-live-batch fast path stays a no-op
    assert(spark.sql("CALL graft.compact_table('pq_distcomp')")
      .collect().forall(_.getLong(0) === 0L) ||
      liveBatches("pq_distcomp").size <= folded.size)
    drop("pq_distcomp")
  }

  test("streaming task writer: many tuples per task, stats/NDV intact") {
    catalogOn(); drop("pq_manytuple")
    spark.sql("CREATE TABLE graft.pq_manytuple (g INT, k BIGINT) " +
      "PARTITIONED BY (g) TBLPROPERTIES ('graft.storage'='parquet')")
    // one INSERT whose tasks each see MANY partition values interleaved —
    // the write-as-you-iterate path must route rows without buffering and
    // produce identical manifests to the old buffer-then-split shape
    spark.sql("INSERT INTO graft.pq_manytuple " +
      "SELECT CAST(id % 7 AS INT), id FROM range(0, 700)")
    val live = liveBatches("pq_manytuple")
    assert(live.map(_.part.head).distinct.size === 7)
    live.foreach { b =>
      assert(b.store.file.isDefined)
      // partition purity: every file holds one g value
      val g = b.part.head.asInstanceOf[Int]
      val rows = ParquetRows.read(b.store.file.get, b.schema)
      assert(rows.forall(_.getInt(0) == g))
      // incremental stats match the rows: bounds, nulls, exact NDV
      val ks = rows.map(_.getLong(1))
      assert(b.stats("k").min === ks.min)
      assert(b.stats("k").max === ks.max)
      assert(b.stats("k").ndv === ks.distinct.length.toLong)
      assert(b.stats("k").sketch.isDefined)
    }
    assert(spark.sql("SELECT sum(k) FROM graft.pq_manytuple").head().getLong(0) ===
      (0L until 700L).sum)
    drop("pq_manytuple")
  }

  test("zorder rewrite: batches prune on BOTH dimensions") {
    catalogOn(); drop("pq_zorder")
    spark.sql("CREATE TABLE graft.pq_zorder (x BIGINT, y BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    // x and y independently uniform: a single-column sort would leave the
    // other column's per-batch range full-width
    spark.sql("INSERT INTO graft.pq_zorder " +
      "SELECT id % 64, (id * 37) % 64 FROM range(0, 4096)")
    // the rewrite clusters into `spark.sql.shuffle.partitions` Z-ranges —
    // the 2 the test session defaults to would leave nothing to prune
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try spark.sql("CALL graft.rewrite_data_files('pq_zorder', 'zorder(x, y)')")
    finally spark.conf.set("spark.sql.shuffle.partitions", "2")
    val st = MemTables.get("pq_zorder").get
    val total = liveBatches("pq_zorder").size
    assert(total > 4, s"need a multi-batch layout, got $total")

    def planned(fs: Filter*): Int = {
      val b = new MemScanBuilder("pq_zorder", st.schema, None)
      b.pushFilters(fs.toArray)
      b.build().asInstanceOf[MemScan].planInputPartitions().length
    }
    // range predicates on EACH dimension independently prune via the
    // per-batch min/max bounds the Z-layout tightened
    val px = planned(LessThan("x", 8L))
    val py = planned(LessThan("y", 8L))
    assert(px < total, s"x-range must prune: $px of $total")
    assert(py < total, s"y-range must prune: $py of $total")
    // correctness unchanged
    assert(spark.sql("SELECT count(*) FROM graft.pq_zorder WHERE x < 8")
      .head().getLong(0) === 8L * 64)
    assert(spark.sql("SELECT count(*) FROM graft.pq_zorder WHERE y < 8")
      .head().getLong(0) === (0 until 4096).count(i => (i * 37) % 64 < 8).toLong)
    // date/timestamp columns are whitelisted — they must cluster under
    // ANSI (a bare cast-to-bigint is illegal for DATE/TIMESTAMP_NTZ; the
    // ordinal goes through unix_date/unix_micros)
    drop("pq_ztime")
    spark.sql("CREATE TABLE graft.pq_ztime (d DATE, t TIMESTAMP_NTZ) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.pq_ztime SELECT " +
      "date_add(DATE'2020-01-01', CAST(id % 64 AS INT)), " +
      "timestampadd(HOUR, CAST((id * 37) % 64 AS INT), TIMESTAMP_NTZ'2020-01-01 00:00:00') " +
      "FROM range(0, 1024)")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try spark.sql("CALL graft.rewrite_data_files('pq_ztime', 'zorder(d, t)')")
    finally spark.conf.set("spark.sql.shuffle.partitions", "2")
    assert(spark.sql("SELECT count(*) FROM graft.pq_ztime").head().getLong(0) === 1024L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.pq_ztime WHERE d < DATE'2020-01-09'")
      .head().getLong(0) === 8L * 16)
    drop("pq_ztime")
    // rejected forms: partitioned table, non-integral column
    drop("pq_zpart")
    spark.sql("CREATE TABLE graft.pq_zpart (x BIGINT, y BIGINT, s STRING) " +
      "PARTITIONED BY (bucket(4, x)) TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.pq_zpart VALUES (1, 2, 'a')")
    val e1 = intercept[Exception](
      spark.sql("CALL graft.rewrite_data_files('pq_zpart', 'zorder(x, y)')"))
    assert(e1.getMessage.contains("partitioned"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("CALL graft.rewrite_data_files('pq_zorder', 'zorder(x, s)')"))
    assert(e2.getMessage != null)
    drop("pq_zorder", "pq_zpart")
  }

  test("migrate_storage promotes a driver-resident table in place") {
    catalogOn(); drop("pq_migrate")
    EngineSession.driverResident(spark) {
      spark.sql("CREATE TABLE graft.pq_migrate (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.delete-mode'='merge-on-read')")
    }
    spark.sql("INSERT INTO graft.pq_migrate " +
      "SELECT id, concat('v', id) FROM range(0, 50)") // v1
    spark.sql("DELETE FROM graft.pq_migrate WHERE k < 5") // v2: DVs
    spark.sql("INSERT OVERWRITE graft.pq_migrate " +
      "SELECT id, concat('w', id) FROM range(0, 20)") // v3: history batch
    val want = spark.sql("SELECT k, v FROM graft.pq_migrate ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val wantV2 = spark.sql("SELECT count(*) FROM graft.pq_migrate VERSION AS OF 2")
      .head().getLong(0)
    val versionBefore = MemTables.get("pq_migrate").get.version

    val r = spark.sql(
      "CALL graft.migrate_storage('pq_migrate', 'parquet')").collect()(0)
    assert(r.getLong(0) >= 3L, "current + history batches all migrate")
    val st = MemTables.get("pq_migrate").get
    assert(st.storageDir.isDefined)
    assert(st.version === versionBefore, "migration mints no version")
    assert(st.batches.forall(_.store.file.isDefined),
      "every batch (history included) is file-backed after migration")
    assert(spark.sql("SELECT k, v FROM graft.pq_migrate ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    assert(spark.sql("SELECT count(*) FROM graft.pq_migrate VERSION AS OF 2")
      .head().getLong(0) === wantV2)

    // the migrated table ACQUIRED durability: unload + recover round-trips
    spark.sql("CALL graft.unload_table('pq_migrate')")
    assert(spark.sql("SELECT k, v FROM graft.pq_migrate ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    // future writes land as files
    spark.sql("INSERT INTO graft.pq_migrate VALUES (999, 'new')")
    assert(liveBatches("pq_migrate").forall(_.store.file.isDefined))
    // idempotent: second call is a no-op
    assert(spark.sql("CALL graft.migrate_storage('pq_migrate', 'parquet')")
      .collect()(0).getLong(0) === 0L)
    drop("pq_migrate")
  }

  test("dropped branch reclaims its staged files; aborts reclaim messages") {
    catalogOn(); drop("pq_branch")
    spark.sql("CREATE TABLE graft.pq_branch (k BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'graft.storage'='parquet', 'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.pq_branch VALUES (1, 10)") // v1
    val dir = MemTables.get("pq_branch").get.storageDir.get
    def files() = Option(new java.io.File(dir).list())
      .map(_.count(_.endsWith(".parquet"))).getOrElse(0)
    val mainFiles = files()
    spark.sql("CALL graft.create_branch('pq_branch', 'b', 1)")
    spark.sql("INSERT INTO graft.pq_branch.branch_b VALUES (2, 20)") // staged file
    spark.sql("UPDATE graft.pq_branch.branch_b SET v = 21 WHERE k = 2") // post-image file
    assert(files() > mainFiles)
    spark.sql("CALL graft.drop_branch('pq_branch', 'b')")
    assert(files() === mainFiles, "staged files must be reclaimed with the branch")
    assert(spark.table("graft.pq_branch").count() === 1L)
    // abort reclaim: a committed-but-never-published task message's files
    // are deleted by the driver's abort call
    val pw = MemParquetWrite(dir, MemTables.get("pq_branch").get.schema, Nil, 0)
    val w = new MemWriterFactory(Some(pw)).createWriter(0, 99L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(7L, 70L))
    val msg = w.commit()
    assert(files() === mainFiles + 1)
    new MemBatchWrite("pq_branch", truncate = false,
      MemTables.get("pq_branch").get.schema).abort(Array(msg))
    assert(files() === mainFiles)
    drop("pq_branch")
  }

  test("rollback restores share files; expiry never deletes a live copy's file") {
    catalogOn(); drop("pq_rb")
    spark.sql("CREATE TABLE graft.pq_rb (k BIGINT) TBLPROPERTIES (" +
      "'graft.storage'='parquet', 'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.pq_rb SELECT id FROM range(0, 10)") // v1
    spark.sql("DELETE FROM graft.pq_rb WHERE k = 3") // v2: DV drift
    spark.sql("CALL graft.rollback_table('pq_rb', 1)") // v3: restore
    // the whole-batch restore SHARES the original's file by reference
    val live = liveBatches("pq_rb")
    assert(live.forall(_.store.file.isDefined))
    val liveFiles = live.flatMap(_.store.file).toSet
    val removed = MemTables.get("pq_rb").get.batches
      .filter(_.removedAt != Long.MaxValue)
    assert(removed.flatMap(_.store.file).toSet.subsetOf(liveFiles),
      "restore must share the original's file")
    // expiry drops the originals but must NOT delete the shared file
    spark.sql("CALL graft.expire_snapshots('pq_rb', 3)")
    liveFiles.foreach(f => assert(new java.io.File(f).isFile,
      s"live copy's file $f must survive expiry"))
    assert(spark.table("graft.pq_rb").count() === 10L)
    drop("pq_rb")
  }

  test("remove_orphan_files deletes only unreferenced files") {
    catalogOn(); drop("pq_orphan")
    spark.sql("CREATE TABLE graft.pq_orphan (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.pq_orphan SELECT id FROM range(0, 10)")
    spark.sql("INSERT OVERWRITE graft.pq_orphan SELECT id FROM range(0, 5)")
    val dir = MemTables.get("pq_orphan").get.storageDir.get
    // plant two orphans: a crashed task's file (never published)
    val schema = MemTables.get("pq_orphan").get.schema
    for (i <- 1 to 2)
      ParquetRows.write(s"$dir/crashed-$i.parquet", schema,
        Iterator(org.apache.spark.sql.catalyst.InternalRow(999L)))
    // default grace (3 days): the freshly-planted orphans look exactly
    // like an in-flight write's task files — the sweep must keep them
    val guarded = spark.sql("CALL graft.remove_orphan_files('pq_orphan')").collect()(0)
    assert(guarded.getLong(0) === 0L, "fresh unreferenced files survive the grace period")
    for (i <- 1 to 2)
      assert(new java.io.File(s"$dir/crashed-$i.parquet").isFile)
    // explicit zero grace: delete them now
    val r = spark.sql(
      "CALL graft.remove_orphan_files('pq_orphan', 0)").collect()(0)
    assert(r.getLong(0) === 2L, "exactly the planted orphans")
    // kept: the live batch AND the truncated-but-retained history batch
    assert(r.getLong(1) >= 2L)
    assert(spark.table("graft.pq_orphan").count() === 5L)
    assert(spark.sql("SELECT count(*) FROM graft.pq_orphan VERSION AS OF 1")
      .head().getLong(0) === 10L)
    // a second sweep finds nothing
    assert(spark.sql("CALL graft.remove_orphan_files('pq_orphan', 0)")
      .collect()(0).getLong(0) === 0L)
    // driver-resident tables are a no-op
    drop("pq_orphan")
    spark.sql("CREATE TABLE graft.pq_orphan (k BIGINT)")
    assert(spark.sql("CALL graft.remove_orphan_files('pq_orphan', 0)")
      .collect()(0).getLong(0) === 0L)
    drop("pq_orphan")
  }

  test("streaming epochs write files; drop and expiry reclaim them") {
    catalogOn(); drop("pq_life")
    spark.sql("CREATE TABLE graft.pq_life (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    val dir = MemTables.get("pq_life").get.storageDir.get
    spark.sql("INSERT INTO graft.pq_life SELECT id FROM range(0, 10)") // v1
    spark.sql("INSERT OVERWRITE graft.pq_life SELECT id FROM range(0, 5)") // v2 truncate
    def files() = Option(new java.io.File(dir).list()).map(_.count(_.endsWith(".parquet"))).getOrElse(0)
    val beforeExpire = files()
    assert(beforeExpire >= 2)
    // expiry physically drops the truncated v1 batches AND their files
    spark.sql("CALL graft.expire_snapshots('pq_life', 2)")
    assert(files() < beforeExpire)
    assert(spark.table("graft.pq_life").count() === 5L)
    // drop reclaims the whole table directory
    spark.sql("DROP TABLE graft.pq_life")
    assert(!new java.io.File(dir).exists())
  }
}
