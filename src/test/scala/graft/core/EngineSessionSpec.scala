package graft.core

import graft.SparkSpec
import graft.sources.{MemTables, SeqCatalog, TableMetadata}

/** The test fixture runs the engine's own session profile, so specs see
  * the settings the gate and the bench run, and every table they create
  * is file-backed.
  */
class EngineSessionSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  test("the test session carries every entry of the profile's settings") {
    EngineSession.settings.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), k)
    }
  }

  // file-backed: the table directory holds the durable metadata, and
  // the rows survive dropping the in-memory state
  private def assertFileBacked(name: String): Unit = {
    val dir = MemTables.get(name).get.storageDir
    assert(new java.io.File(dir, TableMetadata.FileName).isFile, dir)
    spark.sql(s"INSERT INTO graft.$name VALUES (7)")
    spark.sql(s"CALL graft.unload_table('$name')")
    assert(spark.table(s"graft.$name").collect().map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("a propertyless CREATE TABLE lands on the file-backed plane") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.es_default")
    spark.sql("CREATE TABLE graft.es_default (k BIGINT)")
    assertFileBacked("es_default")
    spark.sql("DROP TABLE graft.es_default")
  }

  test("every table is file-backed whatever the storage conf holds; 'memory' is rejected") {
    catalogOn()
    val conf = SeqCatalog.DefaultStorageConf
    val prior = spark.conf.getOption(conf)
    try {
      spark.conf.unset(conf)
      spark.sql("DROP TABLE IF EXISTS graft.es_unset")
      spark.sql("CREATE TABLE graft.es_unset (k BIGINT)")
      assertFileBacked("es_unset")
      spark.conf.set(conf, "parquet")
      spark.sql("DROP TABLE IF EXISTS graft.es_set")
      spark.sql("CREATE TABLE graft.es_set (k BIGINT)")
      assertFileBacked("es_set")
      spark.sql("DROP TABLE IF EXISTS graft.es_memory")
      val e = intercept[Exception](spark.sql(
        "CREATE TABLE graft.es_memory (k BIGINT) TBLPROPERTIES ('graft.storage'='memory')"))
      assert(e.getMessage.contains("must be 'parquet'"), e.getMessage)
      assert(MemTables.get("es_memory").isEmpty)
    } finally {
      prior match {
        case Some(v) => spark.conf.set(conf, v)
        case None => spark.conf.unset(conf)
      }
      spark.sql("DROP TABLE IF EXISTS graft.es_unset")
      spark.sql("DROP TABLE IF EXISTS graft.es_set")
    }
  }
}
