package graft.sources

import graft.SparkSpec

/** The DURABLE metadata plane ([[TableMetadata]] + [[MemTables.unload]] /
  * disk recovery): a file-backed table's version ledger, schema eras,
  * EXISTS defaults, delete vectors, refs (tags/branches with staged DML),
  * spec timeline, and change-feed provenance all survive dropping the
  * in-memory state — the parquet dir + `metadata.json` ARE the table.
  */
class MetadataPersistSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  /** One write task's files for `key`, as a streaming epoch's tasks ship them. */
  private def files(key: String, schema: org.apache.spark.sql.types.StructType,
      rows: org.apache.spark.sql.catalyst.InternalRow*): MemTables.FilesPayload = {
    val w = MemWriterFactory.forTable(key, schema).createWriter(0, 0L)
    rows.foreach(w.write)
    MemWriterFactory.payloadsOf(Array(w.commit())).head
  }

  test("unload + recover round-trips the full protocol surface") {
    catalogOn(); drop("mp_life")
    spark.sql("CREATE TABLE graft.mp_life (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k)) TBLPROPERTIES " +
      "('graft.storage'='parquet', 'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.mp_life " +
      "SELECT id, concat('r', id) FROM range(0, 10)") // v1
    spark.sql("ALTER TABLE graft.mp_life ADD COLUMN tag STRING DEFAULT 'old'") // v2
    spark.sql("INSERT INTO graft.mp_life VALUES (100, 'x', 'fresh')") // v3
    spark.sql("DELETE FROM graft.mp_life WHERE k = 3") // v4: a DV entry
    spark.sql("ALTER TABLE graft.mp_life RENAME COLUMN v TO val") // v5
    spark.sql("CALL graft.create_tag('mp_life', 'rel', 3)")
    spark.sql("CALL graft.create_branch('mp_life', 'wip', 5)")
    spark.sql("INSERT INTO graft.mp_life.branch_wip VALUES (200, 'staged', 'wip')")
    spark.sql("UPDATE graft.mp_life.branch_wip SET tag = 'branched' WHERE k = 0")

    def snapshot(): (Seq[(Long, String, String)], Seq[(Long, String, String)],
        Long, Seq[(Long, String, Long)], Long) = (
      spark.sql("SELECT k, val, tag FROM graft.mp_life ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq,
      spark.sql("SELECT k, val, tag FROM graft.mp_life.branch_wip ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq,
      spark.sql("SELECT count(*) FROM graft.mp_life VERSION AS OF 'rel'")
        .head().getLong(0),
      spark.read.format("graft.sources.MemChangesSource")
        .option("table", "mp_life").option("from", "0").load().collect()
        .map(r => (r.getLong(0), r.getString(3), r.getLong(4))).sorted.toSeq,
      spark.sql("CALL graft.table_history('mp_life')").count())

    val before = snapshot()
    assert(before._1.size === 10) // 11 inserted − 1 deleted
    assert(before._1.count(_._3 == "old") === 9)
    assert(before._2.size === 11) // branch: base-visible + staged row
    assert(before._2.exists(t => t._1 == 0L && t._3 == "branched"))
    assert(before._3 === 11) // tag pins pre-DELETE snapshot

    spark.sql("CALL graft.unload_table('mp_life')")
    assert(!MemTables.isLoaded("mp_life"), "unload must clear the registry")

    // first touch recovers from metadata.json — byte-identical everywhere
    val after = snapshot()
    assert(MemTables.isLoaded("mp_life"), "read must recover the table")
    assert(after === before)

    // the recovered table is fully OPERABLE, not a read-only fossil:
    // branch DML staged pre-unload fast-forwards, versions keep minting
    spark.sql("CALL graft.fast_forward('mp_life', 'wip')")
    assert(spark.sql("SELECT count(*) FROM graft.mp_life WHERE tag = 'branched'")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT val FROM graft.mp_life WHERE k = 200")
      .head().getString(0) === "staged")
    spark.sql("DELETE FROM graft.mp_life WHERE k = 100")
    // 10 pre-ff rows − k=0 pre-image + its post-image + staged k=200 − k=100
    assert(spark.sql("SELECT count(*) FROM graft.mp_life").head().getLong(0) === 10L)
    drop("mp_life")
  }

  test("recovery survives spec evolution, eq-deletes, and time travel") {
    catalogOn(); drop("mp_spec")
    spark.sql("CREATE TABLE graft.mp_spec (k BIGINT, d DATE) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.mp_spec " +
      "SELECT id, date_add(DATE '2024-01-01', CAST(id AS INT)) FROM range(0, 60)") // v1
    spark.sql("CALL graft.replace_partition_spec('mp_spec', 'months(d)')") // v2
    spark.sql("INSERT INTO graft.mp_spec " +
      "SELECT id + 100, date_add(DATE '2024-03-01', CAST(id AS INT)) FROM range(0, 30)") // v3

    val wantAll = spark.sql("SELECT sum(k) FROM graft.mp_spec").head().getLong(0)
    val wantV1 = spark.sql("SELECT count(*) FROM graft.mp_spec VERSION AS OF 1")
      .head().getLong(0)
    val specs = MemTables.get("mp_spec").get.specHistory

    spark.sql("CALL graft.unload_table('mp_spec')")
    assert(!MemTables.isLoaded("mp_spec"))

    assert(spark.sql("SELECT sum(k) FROM graft.mp_spec").head().getLong(0) === wantAll)
    assert(spark.sql("SELECT count(*) FROM graft.mp_spec VERSION AS OF 1")
      .head().getLong(0) === wantV1)
    val st = MemTables.get("mp_spec").get
    assert(st.specHistory === specs, "spec timeline must survive")
    // old batches keep their written spec id; new ones the evolved spec
    assert(st.batches.exists(_.specId == 0) && st.batches.exists(_.specId == 1))
    // month-window reads still answer correctly over recovered manifests
    // (old-spec batches keep conservative, new-spec ones prune): the v3
    // insert is 30 March days, the v1 batch is all Jan/Feb
    assert(spark.sql(
      "SELECT count(*) FROM graft.mp_spec WHERE d >= DATE '2024-03-01' AND d < DATE '2024-04-01'")
      .head().getLong(0) === 30L)
    drop("mp_spec")
  }

  test("drop removes metadata") {
    // DROP of a table removes the directory — no zombie recovery of a
    // dropped table
    drop("mp_gone")
    spark.sql("CREATE TABLE graft.mp_gone (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.mp_gone VALUES (1)")
    val dir = MemTables.get("mp_gone").get.storageDir
    assert(new java.io.File(dir, "metadata.json").isFile,
      "every publish writes the metadata document")
    drop("mp_gone")
    assert(!new java.io.File(dir).exists, "drop reclaims the table dir")
    assert(MemTables.get("mp_gone").isEmpty, "no recovery after drop")
  }

  test("RENAME re-keys the durable plane; recovery follows the new name") {
    catalogOn(); drop("mp_rn", "mp_rn2")
    spark.sql("CREATE TABLE graft.mp_rn (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.mp_rn SELECT id FROM range(0, 7)")
    spark.sql("ALTER TABLE graft.mp_rn RENAME TO graft.mp_rn2")
    assert(spark.table("graft.mp_rn2").count() === 7L)
    assert(MemTables.get("mp_rn").isEmpty, "old key must be gone")
    // the directory keeps its birth name — recovery must match by the
    // metadata key, not the dir prefix
    spark.sql("CALL graft.unload_table('mp_rn2')")
    assert(!MemTables.isLoaded("mp_rn2"))
    assert(spark.table("graft.mp_rn2").count() === 7L)
    // renaming onto an existing name (loaded or recoverable) is rejected
    spark.sql("CREATE TABLE graft.mp_rn (k BIGINT)")
    intercept[Exception](
      spark.sql("ALTER TABLE graft.mp_rn RENAME TO graft.mp_rn2"))
    drop("mp_rn", "mp_rn2")
  }

  test("TIMESTAMP AS OF and upsert epochs survive recovery") {
    catalogOn(); drop("mp_ts")
    spark.sql("CREATE TABLE graft.mp_ts (k BIGINT, v STRING) TBLPROPERTIES " +
      "('graft.storage'='parquet', 'graft.delete-mode'='merge-on-read', " +
      "'graft.upsert-keys'='k')")
    spark.sql("INSERT INTO graft.mp_ts VALUES (1, 'a'), (2, 'b')") // v1
    // an upsert epoch via the streaming commit path: eq-delete + insert
    val st0 = MemTables.get("mp_ts").get
    val schema = st0.schema
    MemTables.commitEpochUpsert("mp_ts", "q-meta", 0L, schema, Seq("k"),
      Seq(files("mp_ts", schema,
        org.apache.spark.sql.catalyst.InternalRow(
          2L, org.apache.spark.unsafe.types.UTF8String.fromString("B2")),
        org.apache.spark.sql.catalyst.InternalRow(
          3L, org.apache.spark.unsafe.types.UTF8String.fromString("c"))))) // v2
    val times = st0.versionTimes
    val want = spark.sql("SELECT k, v FROM graft.mp_ts ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(want === Seq(1L -> "a", 2L -> "B2", 3L -> "c"))

    spark.sql("CALL graft.unload_table('mp_ts')")
    assert(spark.sql("SELECT k, v FROM graft.mp_ts ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    val st = MemTables.get("mp_ts").get
    assert(st.versionTimes === times, "TIMESTAMP AS OF stamps must survive")
    // upsert epochs CONVERT their key-based delete to positional DVs at
    // commit ([[MemTables.commitEpochUpsert]]) — the durable plane
    // carries the DV
    assert(st.batches.exists(b => b.version == 1L && b.dv.values.toSet == Set(2L)),
      "the converted positional kill must survive recovery")
    assert(st.committedEpochs.get("q-meta").exists(_.contains(0L)),
      "epoch ledger must survive — a post-restart re-commit must stay a no-op")
    // idempotence across the restart: same epoch re-commits as a no-op
    MemTables.commitEpochUpsert("mp_ts", "q-meta", 0L, st.schema, Seq("k"),
      Seq(files("mp_ts", st.schema,
        org.apache.spark.sql.catalyst.InternalRow(
          9L, org.apache.spark.unsafe.types.UTF8String.fromString("dup")))))
    assert(spark.sql("SELECT count(*) FROM graft.mp_ts").head().getLong(0) === 3L)
    drop("mp_ts")
  }

  test("maintenance entry points recover an unloaded table; DROP too") {
    catalogOn(); drop("mp_maint")
    spark.sql("CREATE TABLE graft.mp_maint (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.mp_maint SELECT id, concat('r', id) FROM range(0, 8)")
    spark.sql("INSERT INTO graft.mp_maint VALUES (100, 'x')")
    val dir = MemTables.get("mp_maint").get.storageDir

    // procedures must NOT depend on a read having faulted the table in:
    // each runs against a cold registry (the restart-survival contract)
    spark.sql("CALL graft.unload_table('mp_maint')")
    assert(!MemTables.isLoaded("mp_maint"))
    val swept = spark.sql("CALL graft.remove_orphan_files('mp_maint', 0)").head()
    assert(swept.getLong(0) === 0L, "no orphans expected — but the call must work")

    spark.sql("CALL graft.unload_table('mp_maint')")
    spark.sql("CALL graft.create_tag('mp_maint', 'cold', 1)")
    assert(spark.sql("SELECT count(*) FROM graft.mp_maint VERSION AS OF 'cold'")
      .head().getLong(0) === 8L)

    spark.sql("CALL graft.unload_table('mp_maint')")
    spark.sql("CALL graft.compact_table('mp_maint')")
    assert(spark.sql("SELECT count(*) FROM graft.mp_maint").head().getLong(0) === 9L)

    // DROP of an unloaded table must remove it AND its directory
    spark.sql("CALL graft.unload_table('mp_maint')")
    spark.sql("DROP TABLE graft.mp_maint")
    assert(!new java.io.File(dir).exists(), "drop must reclaim the storage dir")
    assert(MemTables.get("mp_maint").isEmpty, "dropped table must not recover")
  }

  test("SHOW TABLES lists created AND unloaded (disk-resident) tables") {
    catalogOn(); drop("mp_list_a", "mp_list_b")
    spark.sql("CREATE TABLE graft.mp_list_a (k BIGINT)")
    spark.sql("CREATE TABLE graft.mp_list_b (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.mp_list_b VALUES (1)")
    spark.sql("CALL graft.unload_table('mp_list_b')")
    val listed = spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("mp_list_a"), listed.toString)
    assert(listed.contains("mp_list_b"),
      "an unloaded durable table must still be listed: " + listed)
    drop("mp_list_a", "mp_list_b")
  }

  test("a failed publish burns no version and is NOT remembered as committed") {
    catalogOn(); drop("mp_valid")
    spark.sql("CREATE TABLE graft.mp_valid (k BIGINT NOT NULL, v BIGINT)")
    spark.sql("INSERT INTO graft.mp_valid VALUES (1, 10)")
    val st = MemTables.get("mp_valid").get
    val v0 = st.version
    import org.apache.spark.sql.catalyst.InternalRow
    val bad = Seq(MemTables.RowsPayload(Array(InternalRow(null, 2L))))
    // plain commit: NOT NULL violation must not advance the clock
    intercept[IllegalArgumentException](
      MemTables.commit("mp_valid", truncate = false, st.schema, bad))
    assert(st.version === v0, "a failed commit must not burn a version slot")
    // epoch commit: the idempotence ledger must FORGET the failed epoch —
    // remembering it would turn Spark's post-restart re-commit into a
    // no-op and silently drop the micro-batch
    intercept[IllegalArgumentException](
      MemTables.commitEpoch("mp_valid", "q-valid", 7L, truncate = false,
        st.schema, bad))
    assert(st.version === v0)
    MemTables.commitEpoch("mp_valid", "q-valid", 7L, truncate = false,
      st.schema, Seq(MemTables.RowsPayload(Array(InternalRow(2L, 20L)))))
    assert(spark.sql("SELECT count(*) FROM graft.mp_valid").head().getLong(0) === 2L,
      "the repaired retry of the SAME epoch must commit")
    assert(st.version === v0 + 1)
    drop("mp_valid")
  }

  test("a DELETE or upsert epoch with no session fails before anything is recorded") {
    catalogOn(); drop("mp_nosess")
    spark.sql("CREATE TABLE graft.mp_nosess (k BIGINT, v BIGINT) TBLPROPERTIES " +
      "('graft.storage'='parquet', 'graft.delete-mode'='merge-on-read', " +
      "'graft.upsert-keys'='k')")
    spark.sql("INSERT INTO graft.mp_nosess VALUES (1, 10), (2, 20)") // v1
    val st = MemTables.get("mp_nosess").get
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.sources.EqualTo
    val epoch = files("mp_nosess", st.schema, InternalRow(2L, 21L))
    def recorded() = (st.version, st.batches, st.committedEpochs)
    val before = recorded()
    // both kills are Spark jobs (the match pass, the key conversion):
    // with no active and no default session there is nowhere to run
    // them, and each call must throw before it bumps the version,
    // touches a batch or remembers the epoch
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val del = intercept[IllegalStateException](
        MemTables.deleteWhere("mp_nosess", Array(EqualTo("k", 1L))))
      assert(del.getMessage.contains("mp_nosess") && del.getMessage.contains("DELETE"),
        del.getMessage)
      assert(recorded() === before, "a failed DELETE must record nothing")
      val up = intercept[IllegalStateException](
        MemTables.commitEpochUpsert("mp_nosess", "q-nosess", 0L, st.schema,
          Seq("k"), Seq(epoch)))
      assert(up.getMessage.contains("mp_nosess"), up.getMessage)
      assert(recorded() === before, "a failed epoch must record nothing")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    // with the session back, the same DELETE and the SAME epoch commit
    MemTables.deleteWhere("mp_nosess", Array(EqualTo("k", 1L))) // v2
    MemTables.commitEpochUpsert("mp_nosess", "q-nosess", 0L, st.schema,
      Seq("k"), Seq(epoch)) // v3
    assert(st.version === before._1 + 2)
    assert(st.committedEpochs.get("q-nosess").exists(_.contains(0L)))
    assert(spark.sql("SELECT k, v FROM graft.mp_nosess ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq(2L -> 21L))
    drop("mp_nosess")
  }

  test("a metadata document with legacy equality deletes is refused; an empty array loads") {
    catalogOn(); drop("mp_legacy")
    spark.sql("CREATE TABLE graft.mp_legacy (k BIGINT, v BIGINT) TBLPROPERTIES " +
      "('graft.storage'='parquet', 'graft.delete-mode'='merge-on-read', " +
      "'graft.upsert-keys'='k')")
    spark.sql("INSERT INTO graft.mp_legacy VALUES (1, 10), (2, 20)") // v1
    val dir = MemTables.get("mp_legacy").get.storageDir
    spark.sql("CALL graft.unload_table('mp_legacy')")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // commit the table's current document again with `eq-deletes` set,
    // as an earlier engine wrote a read-time key kill: {k = 2} dead at v1
    def commitWith(eqDeletes: String): Unit = {
      val root = mapper.readTree(MetaIO.readCurrent(dir, TableMetadata.FileName).get)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val gen = root.get("commit-gen").asLong
      root.put("commit-gen", gen + 1)
      root.set[com.fasterxml.jackson.databind.JsonNode]("eq-deletes",
        mapper.readTree(eqDeletes))
      MetaIO.commitCas(dir, TableMetadata.FileName, mapper.writeValueAsBytes(root), gen)
    }
    commitWith("""[{"version":1,"key-cols":["k"],"keys":[[{"t":"i64","v":2}]]}]""")
    val direct = intercept[IllegalStateException](TableMetadata.load(dir))
    assert(direct.getMessage.contains("mp_legacy") &&
      direct.getMessage.contains("equality deletes"), direct.getMessage)
    // a read fails loudly too: recovery neither skips the directory (the
    // table would look missing) nor loads it without the kill (k = 2
    // would come back)
    val read = intercept[Exception](
      spark.sql("SELECT k, v FROM graft.mp_legacy").collect())
    assert(Iterator.iterate[Throwable](read)(_.getCause).takeWhile(_ != null)
      .exists(c => c.getMessage != null && c.getMessage.contains("mp_legacy") &&
        c.getMessage.contains("equality deletes")), read.toString)
    assert(!MemTables.isLoaded("mp_legacy"))
    commitWith("[]")
    assert(TableMetadata.load(dir).map(_._1) === Some("mp_legacy"))
    assert(spark.sql("SELECT k, v FROM graft.mp_legacy ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq(1L -> 10L, 2L -> 20L))
    drop("mp_legacy")
  }
}
