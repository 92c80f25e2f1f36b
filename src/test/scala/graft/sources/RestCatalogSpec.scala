package graft.sources

import graft.SparkSpec

/** The shared CATALOG SERVICE ([[CatalogServer]]/[[CatalogClient]]): the
  * Iceberg-REST-catalog shape where one service arbitrates every mutable
  * pointer commit over a warehouse while data/manifest files go direct
  * to storage. These tests run real HTTP round-trips over loopback: the
  * engine's table plane (create → insert → read), the CAS
  * reject-reload-retry loop, discovery, the warehouse guardrail, and the
  * fail-loud contract when the service is down.
  */
class RestCatalogSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  private def withService[A](f: CatalogServer => A): A = {
    val server = new CatalogServer(MemTables.tablesRoot.getAbsolutePath).start()
    MetaIO.useRestCatalog(server.uri)
    try f(server)
    finally {
      MetaIO.useLocalCatalog()
      server.stop()
    }
  }

  test("the table plane commits and reads through the service") {
    catalogOn(); drop("rest_t")
    withService { server =>
      spark.sql("CREATE TABLE graft.rest_t (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('graft.storage'='parquet')")
      spark.sql("INSERT INTO graft.rest_t VALUES (1, 10), (2, 20)")
      spark.sql("DELETE FROM graft.rest_t WHERE k = 2")
      val rows = spark.sql("SELECT k, v FROM graft.rest_t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows === Seq((1L, 10L)))
      // create + insert + delete are each a durable pointer commit — all
      // of them must have gone THROUGH the service, none direct
      assert(server.commitCount.get >= 3,
        s"expected >=3 routed commits, saw ${server.commitCount.get}")
      // discovery through the service lists the committed table
      assert(new CatalogClient(server.uri).listTables().contains("rest_t"))
      assert(MemTables.listKeys().contains("rest_t"))
      drop("rest_t")
    }
  }

  test("CAS reject arrives as HTTP 409 and the loser reloads and lands") {
    catalogOn(); drop("rest_cas")
    withService { server =>
      spark.sql("CREATE TABLE graft.rest_cas (k BIGINT) " +
        "TBLPROPERTIES ('graft.storage'='parquet')")
      spark.sql("INSERT INTO graft.rest_cas VALUES (1)")
      val dir = MemTables.get("rest_cas").get.storageDir
      // DRIVER B: an independent state over the same service — its load
      // and its commit both ride HTTP; the CAS at its loaded generation
      // wins at the service end
      val (_, foreign) = TableMetadata.load(dir).get
      foreign.tags += ("foreign_tag" -> 1L)
      TableMetadata.write(foreign)
      // DRIVER A is now a generation behind: its commit 409s, the
      // reload-and-retry loop recovers the winner's plane (through the
      // service) and REPLAYS — same contract as the file protocol
      spark.sql("INSERT INTO graft.rest_cas VALUES (2)")
      assert(spark.table("graft.rest_cas").count() === 2L)
      assert(MemTables.get("rest_cas").get.tags.get("foreign_tag") === Some(1L),
        "the foreign commit must not be lost")
      drop("rest_cas")
    }
  }

  test("a stale expected generation throws the SAME conflict type") {
    withService { server =>
      val dir = new java.io.File(MemTables.tablesRoot,
        "rest_raw-" + java.util.UUID.randomUUID().toString.take(8))
      dir.mkdirs()
      def doc(gen: Long): Array[Byte] =
        s"""{"commit-gen":$gen,"format-version":2}""".getBytes("UTF-8")
      MetaIO.commitCas(dir.getAbsolutePath, "metadata.json", doc(1), 0L)
      intercept[MetaIO.CommitConflictException] {
        MetaIO.commitCas(dir.getAbsolutePath, "metadata.json", doc(1), 0L)
      }
      assert(MetaIO.currentGen(dir.getAbsolutePath, "metadata.json") === 1L)
    }
  }

  test("a dir outside the warehouse is refused") {
    withService { _ =>
      val out = java.nio.file.Files.createTempDirectory("rest-outside").toFile
      val e = intercept[IllegalStateException] {
        MetaIO.commitCas(out.getAbsolutePath, "metadata.json",
          """{"commit-gen":1}""".getBytes("UTF-8"), 0L)
      }
      assert(e.getMessage.contains("403"), s"expected a 403 refusal, got: $e")
    }
  }

  test("foreign commits through the service reach cached readers") {
    catalogOn(); drop("rest_fresh")
    withService { _ =>
      spark.sql("CREATE TABLE graft.rest_fresh (k BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('graft.storage'='parquet', " +
        "'graft.delete-mode'='merge-on-read')")
      spark.sql("INSERT INTO graft.rest_fresh VALUES (1, 10), (2, 20)")
      assert(spark.table("graft.rest_fresh").count() === 2L) // cache it
      val dir = MemTables.get("rest_fresh").get.storageDir
      // DRIVER B kills k = 2 as a DV entry through an independent state
      val r = spark.sql("SELECT _batch_id, _batch_pos FROM graft.rest_fresh WHERE k = 2")
        .head()
      val (id, pos) = (r.getLong(0), r.getInt(1))
      val (_, foreign) = TableMetadata.load(dir).get
      foreign.synchronized {
        foreign.version += 1
        foreign.batches = foreign.batches.map(b =>
          if (b.batchId == id) b.copy(dv = b.dv + (pos -> foreign.version)) else b)
        foreign.stamp("delete")
      }
      // the freshness probe's gen read rides the service too: the cached
      // reader sees the foreign kill with no local write
      spark.conf.set("spark.graft.catalog.refresh-interval-ms", "0")
      try assert(spark.table("graft.rest_fresh").count() === 1L)
      finally spark.conf.unset("spark.graft.catalog.refresh-interval-ms")
      drop("rest_fresh")
    }
  }

  test("the service arbitrates CAS over a store with NO atomic primitive") {
    // graftnr:// refuses rename (the S3 shape, NoRenameFileSystem): with
    // the SERVICE as the authority, same-generation committers still
    // serialize — the arbitration the raw store cannot provide
    val local = java.nio.file.Files.createTempDirectory("rest-nr").toFile
    val root = s"graftnr://${local.getAbsolutePath}"
    val server = new CatalogServer(root).start()
    MetaIO.useRestCatalog(server.uri)
    try {
      val dir = s"$root/t1"
      def doc(gen: Long, p: Int): Array[Byte] =
        s"""{"commit-gen":$gen,"format-version":2,"payload":$p}"""
          .getBytes("UTF-8")
      MetaIO.commitCas(dir, "metadata.json", doc(1, 1), 0L)
      intercept[MetaIO.CommitConflictException] {
        MetaIO.commitCas(dir, "metadata.json", doc(1, 99), 0L)
      }
      MetaIO.commitCas(dir, "metadata.json", doc(2, 2), 1L)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      assert(m.readTree(MetaIO.readCurrent(dir, "metadata.json").get)
        .get("payload").asInt === 2)
      assert(MetaIO.currentGen(dir, "metadata.json") === 2L)
      // `..` traversal out of a scheme'd warehouse is refused too
      val e = intercept[IllegalStateException] {
        MetaIO.commitCas(s"$root/../outside", "metadata.json", doc(1, 1), 0L)
      }
      assert(e.getMessage.contains("403"), s"expected a 403 refusal, got: $e")
    } finally {
      MetaIO.useLocalCatalog()
      server.stop()
    }
  }

  test("racing same-generation committers through the service: exactly one wins") {
    // the handler pool serializes per plane — without that, two
    // committers can both pass the CAS check on a store whose
    // create-if-absent is a non-atomic exists-then-create
    val local = java.nio.file.Files.createTempDirectory("rest-race").toFile
    val root = s"graftnr://${local.getAbsolutePath}"
    val server = new CatalogServer(root).start()
    MetaIO.useRestCatalog(server.uri)
    try {
      val dir = s"$root/race"
      def doc(gen: Long, p: Int): Array[Byte] =
        s"""{"commit-gen":$gen,"format-version":2,"payload":$p}"""
          .getBytes("UTF-8")
      MetaIO.commitCas(dir, "metadata.json", doc(1, 0), 0L)
      (1L to 3L).foreach { gen =>
        val tasks = (1 to 2).map { i =>
          new java.util.concurrent.FutureTask[Either[Throwable, Unit]](() =>
            try Right(MetaIO.commitCas(dir, "metadata.json",
              doc(gen + 1, i.toInt), gen))
            catch { case t: Throwable => Left(t) })
        }
        val threads = tasks.map(new Thread(_))
        threads.foreach(_.start()); threads.foreach(_.join())
        val outcomes = tasks.map(_.get())
        assert(outcomes.count(_.isRight) === 1,
          s"exactly one same-generation committer must win at gen $gen, got $outcomes")
        assert(outcomes.collect { case Left(t) => t }.forall(
          _.isInstanceOf[MetaIO.CommitConflictException]),
          s"the loser must see a CommitConflictException, got $outcomes")
      }
      assert(MetaIO.currentGen(dir, "metadata.json") === 4L)
    } finally {
      MetaIO.useLocalCatalog()
      server.stop()
    }
  }

  test("a name with separators or dot-dot is refused — no warehouse escape") {
    withService { _ =>
      val dir = new java.io.File(MemTables.tablesRoot,
        "rest_name-" + java.util.UUID.randomUUID().toString.take(8))
      dir.mkdirs()
      def refused(name: String): Unit = {
        val e = intercept[IllegalStateException] {
          MetaIO.commitCas(dir.getAbsolutePath, name,
            """{"commit-gen":1}""".getBytes("UTF-8"), 0L)
        }
        assert(e.getMessage.contains("403"), s"expected 403 for '$name', got: $e")
        val r = intercept[IllegalStateException] {
          MetaIO.readCurrent(dir.getAbsolutePath, name)
        }
        assert(r.getMessage.contains("403"), s"expected 403 read for '$name', got: $r")
      }
      refused("../escape.json")
      refused("a/b.json")
      refused("..")
    }
  }

  test("an unreachable service fails loudly — never silent file fallback") {
    catalogOn(); drop("rest_down")
    val server = new CatalogServer(MemTables.tablesRoot.getAbsolutePath).start()
    MetaIO.useRestCatalog(server.uri)
    try {
      spark.sql("CREATE TABLE graft.rest_down (k BIGINT) " +
        "TBLPROPERTIES ('graft.storage'='parquet')")
      server.stop()
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft.rest_down VALUES (1)")
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).take(12).toSeq
      assert(chain.exists(c => c.getMessage != null &&
        c.getMessage.contains("catalog service unreachable")),
        s"expected the unreachable-service failure, got: $e")
    } finally MetaIO.useLocalCatalog()
    drop("rest_down")
  }
}
