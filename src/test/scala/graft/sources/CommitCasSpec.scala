package graft.sources

import graft.SparkSpec

/** CROSS-PROCESS commit safety ([[MetaIO.commitCas]]): every durable
  * metadata publish — table plane and MV refresh journal — carries a
  * compare-and-swap generation, so two driver processes over ONE
  * warehouse cannot silently overwrite each other: the loser's commit
  * rejects loudly, its in-memory state is evicted, and a retry recovers
  * the winner's commit and lands on top — no lost update on either side.
  */
class CommitCasSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12).toSeq

  /** The `(_batch_id, _batch_pos)` row id of the row with key `k`. */
  private def rowIdOf(tbl: String, k: Long): (Long, Int) = {
    val r = spark.sql(s"SELECT _batch_id, _batch_pos FROM graft.$tbl WHERE k = $k").head()
    (r.getLong(0), r.getInt(1))
  }

  /** DRIVER B's row kill, committed through an INDEPENDENT state over the
    * same warehouse: one positional DV entry at a new version.
    */
  private def foreignKill(dir: String, rowId: (Long, Int)): Unit = {
    val (_, foreign) = TableMetadata.load(dir).get
    foreign.synchronized {
      foreign.version += 1
      foreign.batches = foreign.batches.map(b =>
        if (b.batchId == rowId._1) b.copy(dv = b.dv + (rowId._2 -> foreign.version))
        else b)
      foreign.stamp("delete")
    }
  }

  private def isConflict(t: Throwable): Boolean =
    causeChain(t).exists {
      case _: java.util.ConcurrentModificationException => true
      case _: MetaIO.CommitConflictException => true
      case e => e.getMessage != null && e.getMessage.contains("concurrent commit")
    }

  test("racing table commits: loser reloads and lands WITHOUT caller retry") {
    catalogOn(); drop("cas_t")
    spark.sql("CREATE TABLE graft.cas_t (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.cas_t VALUES (1)")
    val dir = MemTables.get("cas_t").get.storageDir
    // DRIVER B: an INDEPENDENT catalog instance over the same warehouse —
    // its state loads straight from the durable plane (never the
    // registry) and commits a tag through it. The CAS at its loaded
    // generation wins.
    val (_, foreign) = TableMetadata.load(dir).get
    foreign.tags += ("foreign_tag" -> 1L)
    TableMetadata.write(foreign)
    // DRIVER A (the registry) is now one generation behind: its commit
    // CAS-rejects internally, reloads the durable truth (driver B's tag
    // included), REPLAYS, and SUCCEEDS — no caller-visible failure, no
    // lost update on either side ([[MemTables.withCommitRetry]])
    spark.sql("INSERT INTO graft.cas_t VALUES (2)")
    assert(spark.table("graft.cas_t").count() === 2L)
    assert(MemTables.get("cas_t").get.tags.get("foreign_tag") === Some(1L),
      "the foreign commit must not be lost")
    drop("cas_t")
  }

  test("a genuine row-level conflict still fails loudly after reload") {
    catalogOn(); drop("cas_mor")
    spark.sql("CREATE TABLE graft.cas_mor (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.cas_mor VALUES (1, 10), (2, 20)")
    val dir = MemTables.get("cas_mor").get.storageDir
    // DRIVER B kills row k = 1 — the very row driver A's UPDATE rewrites —
    // as a DV entry through an independent state. A's replayed delta
    // must REJECT (applyDelta's already-deleted validation), not silently
    // publish: the auto-retry must never launder a GENUINE conflict into
    // a lost update
    foreignKill(dir, rowIdOf("cas_mor", 1L))
    // no freshness probe: A's UPDATE scans its pre-kill state, so the
    // conflict surfaces at the commit's CAS and replay
    spark.conf.set("spark.graft.catalog.refresh-interval-ms", "-1")
    val e = try intercept[Exception] {
      spark.sql("UPDATE graft.cas_mor SET v = v + 1 WHERE k = 1")
    } finally spark.conf.unset("spark.graft.catalog.refresh-interval-ms")
    assert(causeChain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("already-deleted")),
      s"expected the delta's already-deleted validation, got: $e")
    // the loud failure evicted nothing durable: fresh statements see the
    // winner's kill, and an update of the surviving row lands once
    spark.sql("UPDATE graft.cas_mor SET v = v + 1 WHERE k = 1")
    spark.sql("UPDATE graft.cas_mor SET v = v + 1 WHERE k = 2")
    val rows = spark.sql("SELECT k, v FROM graft.cas_mor ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((2L, 21L)),
      s"row 1 must be dead and row 2 updated EXACTLY ONCE, got $rows")
    drop("cas_mor")
  }

  test("racing MV refreshes: journal CAS rejects the stale driver, retry recovers") {
    catalogOn(); drop("cas_src")
    spark.sql("DROP TABLE IF EXISTS graft.casmv__store")
    spark.sql("CREATE TABLE graft.cas_src (g STRING, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.cas_src VALUES ('a', 1), ('b', 2)")
    spark.sql("CALL graft.create_materialized_view('casmv', " +
      "'SELECT g, sum(v) AS sv FROM graft.cas_src GROUP BY g')")
    val storeDir = MemTables.get("casmv" + MatViews.StoreSuffix).get.storageDir
    // DRIVER B refreshes the MV: simulate by re-committing the journal at
    // the current generation (content unchanged — only the gen advances)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val bytes = MetaIO.readCurrent(storeDir, MatViews.JournalName).get
    val root = mapper.readTree(bytes)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val gen = root.get("commit-gen").asLong
    root.put("commit-gen", gen + 1)
    MetaIO.commitCas(storeDir, MatViews.JournalName,
      mapper.writeValueAsBytes(root), gen)
    // DRIVER A's journal generation is now stale: its refresh must lose
    spark.sql("INSERT INTO graft.cas_src VALUES ('a', 10)")
    val e = intercept[Exception] {
      spark.sql("CALL graft.refresh_materialized_view('casmv')")
    }
    assert(isConflict(e), s"expected a journal commit conflict, got: $e")
    // retry: the registry entry was evicted, the recovered journal carries
    // the winner's generation, and the refresh completes correctly
    spark.sql("CALL graft.refresh_materialized_view('casmv')")
    val rows = spark.sql("SELECT g, sv FROM graft.casmv ORDER BY g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("a", 11L), ("b", 2L)))
    spark.sql("CALL graft.drop_materialized_view('casmv')")
    drop("cas_src")
  }

  test("foreign commits become visible to cached readers (freshness probe)") {
    catalogOn(); drop("fresh_t")
    spark.sql("CREATE TABLE graft.fresh_t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet', " +
      "'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.fresh_t VALUES (1, 10), (2, 20)")
    assert(spark.table("graft.fresh_t").count() === 2L) // caches the state
    // DRIVER B kills k=2 through an INDEPENDENT state over the same
    // warehouse — driver A performs NO local write afterward
    val dir = MemTables.get("fresh_t").get.storageDir
    foreignKill(dir, rowIdOf("fresh_t", 2L))
    // probe every access: the cached reader must evict-and-recover the
    // winner's plane on its next read — read-your-committed-writes
    // across processes, no local commit needed to notice
    spark.conf.set("spark.graft.catalog.refresh-interval-ms", "0")
    try {
      val rows = spark.sql("SELECT k, v FROM graft.fresh_t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows === Seq((1L, 10L)),
        "the foreign delete must be visible without any local write")
    } finally spark.conf.unset("spark.graft.catalog.refresh-interval-ms")
    // and within the interval, no probe storm: the recovered state keeps
    // serving (smoke — just reads again at the default interval)
    assert(spark.table("graft.fresh_t").count() === 1L)
    drop("fresh_t")
  }

  test("object-store CAS: same-generation committers collide, one wins") {
    val local = java.nio.file.Files.createTempDirectory("graft-cas").toFile
    val dir = s"graftnr://${local.getAbsolutePath}"
    def doc(gen: Long, payload: Int): Array[Byte] =
      s"""{"commit-gen":$gen,"format-version":2,"payload":$payload}"""
        .getBytes("UTF-8")
    def payloadOf(bytes: Array[Byte]): Int =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(bytes).get("payload").asInt
    MetaIO.commitCas(dir, "metadata.json", doc(1, 1), 0L)
    // a second committer at the SAME generation must collide on the
    // write-once snapshot name — exactly one winner, nothing torn
    intercept[MetaIO.CommitConflictException] {
      MetaIO.commitCas(dir, "metadata.json", doc(1, 99), 0L)
    }
    assert(payloadOf(MetaIO.readCurrent(dir, "metadata.json").get) === 1)
    MetaIO.commitCas(dir, "metadata.json", doc(2, 2), 1L)
    assert(payloadOf(MetaIO.readCurrent(dir, "metadata.json").get) === 2)
    // stale behind TWO generations: conflicts too
    intercept[MetaIO.CommitConflictException] {
      MetaIO.commitCas(dir, "metadata.json", doc(1, 99), 0L)
    }
  }

  test("a stale crashed commit's orphan snapshot is adopted, not a wedge") {
    val local = java.nio.file.Files.createTempDirectory("graft-cas").toFile
    val dir = s"graftnr://${local.getAbsolutePath}"
    def doc(gen: Long, payload: Int): Array[Byte] =
      s"""{"commit-gen":$gen,"format-version":2,"payload":$payload}"""
        .getBytes("UTF-8")
    MetaIO.commitCas(dir, "metadata.json", doc(1, 1), 0L)
    // crashed foreign commit: its snapshot landed but the pointer never
    // advanced (the commit never became visible)
    val orphan = new java.io.File(local, "metadata-000000000002.json")
    java.nio.file.Files.write(orphan.toPath, doc(2, 66))
    // FRESH orphan: could be in flight — must conflict
    intercept[MetaIO.CommitConflictException] {
      MetaIO.commitCas(dir, "metadata.json", doc(2, 2), 1L)
    }
    // STALE orphan (crashed long ago): adopted, the table is not wedged
    assert(orphan.setLastModified(
      System.currentTimeMillis() - 2 * MetaIO.LockStaleMs))
    MetaIO.commitCas(dir, "metadata.json", doc(2, 2), 1L)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(m.readTree(MetaIO.readCurrent(dir, "metadata.json").get)
      .get("payload").asInt === 2)
  }

  test("commit locks never linger after a local CAS commit") {
    catalogOn(); drop("cas_lock")
    spark.sql("CREATE TABLE graft.cas_lock (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.cas_lock VALUES (1)")
    val dir = MemTables.get("cas_lock").get.storageDir
    val locks = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".lock"))
    assert(locks.isEmpty, s"lingering commit locks: ${locks.mkString(",")}")
    drop("cas_lock")
  }
}
