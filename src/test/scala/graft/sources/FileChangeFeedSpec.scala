package graft.sources

import graft.SparkSpec

/** The change feed of a FILE-BACKED table ships PATHS plus position
  * selections ([[MemChangesFilePartition]]) — executors stream the
  * parquet; the driver never materializes a batch's rows
  * (`ParquetRows.readCalls` is the witness) and task closures stay
  * position-array-sized. This is the substrate of every incremental MV
  * refresh window, so the same feed semantics (whole-batch inserts,
  * row-selected DV deletes via `only`, batch removals with dead rows
  * carved out via `skip`, update pre/post images) are value-checked here
  * against the driver-resident feed's contract.
  */
class FileChangeFeedSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def feed(key: String, images: Boolean = false) = {
    val r = spark.read.format("graft.sources.MemChangesSource")
      .option("table", key).option("from", "0")
    (if (images) r.option("updateImages", "true") else r).load()
  }

  test("file-backed change events stream executor-side — zero driver reads") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.cf_file")
    spark.sql("CREATE TABLE graft.cf_file (k BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'graft.storage'='parquet', 'graft.delete-mode'='merge-on-read')")
    spark.sql("INSERT INTO graft.cf_file SELECT id, id * 2 FROM range(0, 100)") // v1
    spark.sql("INSERT INTO graft.cf_file SELECT id, id * 2 FROM range(100, 150)") // v2
    spark.sql("DELETE FROM graft.cf_file WHERE k < 10") // v3: DV, row-selected
    spark.sql("UPDATE graft.cf_file SET v = v + 1 WHERE k >= 140") // v4: ±images
    spark.sql("TRUNCATE TABLE graft.cf_file") // v5: batch removals, kills carved
    val st = MemTables.get("cf_file").get
    assert(st.batches.forall(_.store.path.endsWith(".parquet")),
      "precondition: every batch file-backed")

    val before = ParquetRows.readCalls.get()
    val plain = feed("cf_file").collect()
    val imaged = feed("cf_file", images = true).collect()
    assert(ParquetRows.readCalls.get() === before,
      "a file-backed change feed must never materialize rows driver-side")

    def agg(rows: Array[org.apache.spark.sql.Row], tpe: String, at: Long) = {
      val sel = rows.filter(r =>
        r.getString(2) == tpe && r.getLong(3) == at)
      (sel.length, sel.map(_.getLong(0)).sum, sel.map(_.getLong(1)).sum)
    }
    // whole-batch inserts (no selection)
    assert(agg(plain, "insert", 1L) === ((100, 4950L, 9900L)))
    assert(agg(plain, "insert", 2L) === ((50, 6225L, 12450L)))
    // DV delete: the `only` path (positions 0..9 of batch 1)
    assert(agg(plain, "delete", 3L) === ((10, 45L, 90L)))
    // update: preimages are plain deletes in plain mode, the postimage
    // batch a plain insert (k 140..149: v flips 2k -> 2k+1)
    assert(agg(plain, "delete", 4L) === ((10, 1445L, 2890L)))
    assert(agg(plain, "insert", 4L) === ((10, 1445L, 2900L)))
    // truncate: batch removals with every already-dead row carved out
    // (the `skip` path) — 90 + 40 alive in the original batches + the
    // 10-row postimage batch
    assert(agg(plain, "delete", 5L) === ((140, 11130L, 22270L)))
    // imaged mode splits v4 into the ± pair
    assert(agg(imaged, "update_preimage", 4L) === ((10, 1445L, 2890L)))
    assert(agg(imaged, "update_postimage", 4L) === ((10, 1445L, 2900L)))
    assert(agg(imaged, "delete", 4L)._1 === 0)
  }
}
