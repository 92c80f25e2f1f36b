package graft.core

import graft.SparkSpec
import graft.sources.{MemTables, SeqCatalog}

/** The test fixture runs the engine's own session profile, so specs see
  * the settings and the storage plane the gate and the bench run.
  */
class EngineSessionSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  test("the test session carries every entry of the profile's settings") {
    EngineSession.settings.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), k)
    }
  }

  test("a propertyless CREATE TABLE lands on the file-backed plane") {
    catalogOn()
    spark.sql("DROP TABLE IF EXISTS graft.es_default")
    spark.sql("CREATE TABLE graft.es_default (k BIGINT)")
    assert(MemTables.get("es_default").get.storageDir.isDefined)
    spark.sql("DROP TABLE graft.es_default")
  }

  test("the driver-resident scope creates a mem table and restores the conf as found") {
    catalogOn()
    val conf = SeqCatalog.DefaultStorageConf
    def createIn(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graft.$name")
      EngineSession.driverResident(spark)(spark.sql(s"CREATE TABLE graft.$name (k BIGINT)"))
      assert(MemTables.get(name).get.storageDir.isEmpty)
      spark.sql(s"DROP TABLE graft.$name")
    }
    val prior = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "parquet")
      createIn("es_mem_set")
      assert(spark.conf.getOption(conf).contains("parquet"))
      spark.conf.unset(conf)
      createIn("es_mem_unset")
      assert(spark.conf.getOption(conf).isEmpty)
    } finally prior match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
