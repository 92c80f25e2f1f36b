package graft.sources

import graft.SparkSpec

/** Atomic CTAS/RTAS ([[StagedMemTable]] / [[MemTables.publishStaged]]):
  * `CREATE/REPLACE TABLE ... AS SELECT` stages the write and publishes
  * the name only on success — a failed CTAS strands no (empty) table, a
  * REPLACE is all-or-nothing, and no staging debris survives any path.
  */
class CtasSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def noStagingDebris(): Unit =
    assert(!MemTables.listKeys().exists(_.startsWith("__stage_")),
      s"staging leftovers: ${MemTables.listKeys().filter(_.startsWith("__stage_"))}")

  test("CTAS creates atomically and reads back") {
    catalogOn(); drop("ctas_ok")
    spark.sql("CREATE TABLE graft.ctas_ok AS " +
      "SELECT id AS k, id * 2 AS v FROM range(0, 100)")
    assert(spark.table("graft.ctas_ok").count() === 100L)
    assert(spark.sql("SELECT sum(v) FROM graft.ctas_ok").head().getLong(0) === 9900L)
    noStagingDebris()
    drop("ctas_ok")
  }

  test("a failing CTAS leaves NO table and no staging debris") {
    catalogOn(); drop("ctas_fail")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.ctas_fail AS " +
        "SELECT id, raise_error('mid-query failure') AS boom FROM range(0, 10)")
        .collect()
    }
    assert(MemTables.get("ctas_fail").isEmpty, "failed CTAS must strand no table")
    intercept[Exception](spark.table("graft.ctas_fail").collect())
    noStagingDebris()
  }

  test("file-backed + partitioned CTAS goes through the same staged path") {
    catalogOn(); drop("ctas_pq")
    spark.sql("CREATE TABLE graft.ctas_pq PARTITIONED BY (g) " +
      "TBLPROPERTIES ('graft.storage'='parquet') AS " +
      "SELECT CAST(id % 3 AS INT) AS g, id AS k FROM range(0, 90)")
    val st = MemTables.get("ctas_pq").get
    assert(new java.io.File(st.storageDir).isDirectory)
    assert(st.partitioning === Seq(MemTables.IdentityPart("g")))
    assert(spark.table("graft.ctas_pq").count() === 90L)
    // partition pruning works on the CTAS result like any created table
    assert(spark.sql("SELECT count(*) FROM graft.ctas_pq WHERE g = 1")
      .head().getLong(0) === 30L)
    noStagingDebris()
    drop("ctas_pq")
  }

  test("REPLACE TABLE AS SELECT is all-or-nothing") {
    catalogOn(); drop("rtas_t")
    spark.sql("CREATE TABLE graft.rtas_t AS SELECT id AS k FROM range(0, 5)")
    // a FAILED replace leaves the old contents fully intact
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.rtas_t AS " +
        "SELECT raise_error('no') AS k FROM range(0, 5)").collect()
    }
    assert(spark.table("graft.rtas_t").count() === 5L,
      "failed REPLACE must keep the old table byte-identical")
    // a SUCCESSFUL replace swaps wholesale
    spark.sql("REPLACE TABLE graft.rtas_t AS SELECT id AS k FROM range(0, 7)")
    assert(spark.table("graft.rtas_t").count() === 7L)
    noStagingDebris()
    drop("rtas_t")
  }

  test("REPLACE of a missing table fails; CREATE OR REPLACE creates") {
    catalogOn(); drop("rtas_missing")
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.rtas_missing AS SELECT 1 AS x").collect()
    }
    assert(MemTables.get("rtas_missing").isEmpty)
    spark.sql("CREATE OR REPLACE TABLE graft.rtas_missing AS SELECT 1 AS x")
    assert(spark.table("graft.rtas_missing").count() === 1L)
    spark.sql("CREATE OR REPLACE TABLE graft.rtas_missing AS " +
      "SELECT id AS x FROM range(0, 3)")
    assert(spark.table("graft.rtas_missing").count() === 3L)
    noStagingDebris()
    drop("rtas_missing")
  }

  test("RTAS must not replace a live MV's backing store") {
    catalogOn()
    MatViews.forget("ctas_mv")
    MemTables.drop("ctas_mv__store"); MemViews.views.remove("ctas_mv")
    drop("ctas_mv_src")
    spark.sql("CREATE TABLE graft.ctas_mv_src (g STRING, v BIGINT)")
    spark.sql("INSERT INTO graft.ctas_mv_src VALUES ('a', 1)")
    spark.sql("CALL graft.create_materialized_view('ctas_mv', " +
      "'SELECT g, count(*) AS n FROM graft.ctas_mv_src GROUP BY g')")
    val e = intercept[Exception] {
      spark.sql("CREATE OR REPLACE TABLE graft.ctas_mv__store AS SELECT 1 AS x")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("backing store")), e.toString)
    // the store is intact and the MV still serves
    assert(spark.sql("SELECT n FROM graft.ctas_mv").head().getLong(0) === 1L)
    spark.sql("CALL graft.drop_materialized_view('ctas_mv')").collect()
    drop("ctas_mv_src")
  }

  test("staging tables never appear in SHOW TABLES") {
    catalogOn()
    // hold a staged table open across a listing (the stage is created at
    // planning; here we drive the catalog API directly)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[SeqCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], "ctas_hidden")
    drop("ctas_hidden")
    val staged = cat.stageCreate(ident,
      new org.apache.spark.sql.types.StructType().add("x", "long"),
      Array.empty, new java.util.HashMap[String, String]())
    val listed = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1))
    assert(!listed.exists(_.startsWith("__stage_")),
      s"staging key leaked into SHOW TABLES: ${listed.mkString(",")}")
    assert(!listed.contains("ctas_hidden"), "uncommitted name must not list")
    staged.abortStagedChanges()
    noStagingDebris()
  }
}
