package graft.sources

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** CONVERT-ON-WRITE for streaming upserts on file-backed tables (the
  * Iceberg equality→position-delete shape): the epoch commit runs a
  * one-task-per-candidate-file probe job that turns the epoch's
  * key-based delete into positional DV entries — so scan planning and the
  * change feed read the DV plane and never re-probe file contents. The
  * observable semantics are those of an equality delete: last-write-per-
  * key reads, the strictly-older rule, time travel, and row-level CDC
  * deletes at the epoch version.
  */
class UpsertConversionSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def runEpochs(tbl: String, extraConf: Map[String, String] = Map.empty): Unit = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "4")
    sess.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")
    extraConf.foreach { case (k, v) => sess.conf.set(k, v) }
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sess.sqlContext
    val ms = MemoryStream[(Long, Long)]
    val cp = graft.rentals.Scratch.dir(s"upconv_cp_${System.nanoTime()}")
    val q = ms.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", cp)
      .toTable(tbl)
    ms.addData((0L until 40L).map(k => (k, k * 10))) // epoch 0 -> v1
    q.processAllAvailable()
    // epoch 1 re-ingests k % 3 = 0 with bumped values -> v2
    ms.addData((0L until 40L).filter(_ % 3 == 0).map(k => (k, k * 10 + 7)))
    q.processAllAvailable()
    q.stop()
  }

  test("file-backed upsert epochs convert equality deletes to positional DVs") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.upconv")
    spark.sql("CREATE TABLE graft.upconv (k BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'graft.storage'='parquet', 'graft.delete-mode'='merge-on-read', " +
      "'graft.upsert-keys'='k')")
    val iterBefore = ParquetRows.driverIterCalls.get()
    runEpochs("graft.upconv")
    assert(ParquetRows.driverIterCalls.get() === iterBefore,
      "epoch key extraction AND the probe conversion must both run in " +
        "executor tasks — zero driver-side file streams in the commit")
    val st = MemTables.get("upconv").get
    val v1Batches = st.batches.filter(b => b.version == 1L)
    assert(v1Batches.nonEmpty && v1Batches.forall(_.store.path.endsWith(".parquet")))
    val killed = v1Batches.flatMap(_.dv.toSeq)
    assert(killed.nonEmpty && killed.forall(_._2 == 2L),
      s"doomed positions carry the epoch's version, got ${killed.take(5)}")
    // last-write-per-key read + the strictly-older rule (epoch 1 never
    // deletes its own rows)
    assert(spark.sql("SELECT count(*) FROM graft.upconv").head().getLong(0) === 40L)
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT) FROM graft.upconv WHERE k % 3 = 0").head().getLong(0) ===
      (0L until 40L).filter(_ % 3 == 0).map(_ * 10 + 7).sum)
    // time travel: the pre-upsert snapshot still sees the original rows
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT) FROM graft.upconv VERSION AS OF 1").head().getLong(0) ===
      (0L until 40L).map(_ * 10).sum)
    // CDC: row-level deletes of exactly the replaced keys at v2
    val feed = spark.read.format("graft.sources.MemChangesSource")
      .option("table", "upconv").option("from", "0").load()
    val dels = feed.filter(s"${MemChangesSource.ChangeType} = 'delete'")
      .select("k").collect().map(_.getLong(0)).sorted
    assert(dels.toSeq === (0L until 40L).filter(_ % 3 == 0))
    assert(feed.filter(s"${MemChangesSource.ChangeType} = 'delete' AND " +
      s"${MemChangesSource.CommitVersion} <> 2").count() === 0)
    // the scale point: post-epoch scans and feeds plan from metadata —
    // never a whole-file driver materialization
    val before = ParquetRows.readCalls.get()
    spark.sql("SELECT sum(v) FROM graft.upconv").collect()
    feed.collect()
    assert(ParquetRows.readCalls.get() === before,
      "scans/CDC of a converted upsert table must not read files driver-side")
  }

  test("oversized epochs convert via the SHUFFLED join, semantics identical") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.upconv_sh")
    spark.sql("CREATE TABLE graft.upconv_sh (k BIGINT, v BIGINT) TBLPROPERTIES (" +
      "'graft.storage'='parquet', 'graft.delete-mode'='merge-on-read', " +
      "'graft.upsert-keys'='k')")
    val runsBefore = DistributedDml.shuffledProbeRuns.get()
    val iterBefore = ParquetRows.driverIterCalls.get()
    // threshold 10 rows: every epoch here exceeds it — the conversion
    // must join epoch keys against candidate rows on the cluster instead
    // of collecting + broadcasting the key set
    runEpochs("graft.upconv_sh",
      Map("spark.graft.upsert.broadcast-max-rows" -> "10"))
    assert(DistributedDml.shuffledProbeRuns.get() > runsBefore,
      "the oversized-epoch conversion must take the shuffled path")
    assert(ParquetRows.driverIterCalls.get() === iterBefore,
      "shuffled conversion must not stream epoch or table files driver-side")
    val st = MemTables.get("upconv_sh").get
    // byte-identical semantics to the broadcast path: same last-write-
    // per-key reads, same kill versions, same strictly-older rule
    assert(spark.sql("SELECT count(*) FROM graft.upconv_sh").head().getLong(0) === 40L)
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT) FROM graft.upconv_sh WHERE k % 3 = 0")
      .head().getLong(0) ===
      (0L until 40L).filter(_ % 3 == 0).map(_ * 10 + 7).sum)
    val killed = st.batches.filter(_.version == 1L).flatMap(_.dv.toSeq)
    assert(killed.nonEmpty && killed.forall(_._2 == 2L))
    assert(spark.sql(
      "SELECT CAST(sum(v) AS BIGINT) FROM graft.upconv_sh VERSION AS OF 1")
      .head().getLong(0) === (0L until 40L).map(_ * 10).sum)
  }
}
