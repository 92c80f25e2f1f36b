package graft.rentals

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Two-pass CSV read + partitioned parquet write (`jobs/io_utils.py`). */
class IoSpec extends SparkSpec {

  private val csv =
    """RegionID,SizeRank,RegionName,RegionType,StateName,2024-01,2024-02,2024-03
      |102001,1,New York,msa,NY,3450.0,3475.0,3520.0
      |394913,2,San Francisco,msa,CA,3150.0,3200.0,
      |""".stripMargin

  test("readRawCsv synthesizes the schema: fixed types + date cols as double, no inference") {
    withTempDir { dir =>
      val f = new java.io.File(dir, "raw.csv")
      java.nio.file.Files.writeString(f.toPath, csv)
      val df = Io.readRawCsv(spark, f.getAbsolutePath)
      val types = df.schema.map(x => x.name -> x.dataType).toMap
      assert(types("RegionID") === IntegerType)
      assert(types("SizeRank") === IntegerType)
      assert(types("RegionName") === StringType)
      assert(types("2024-01") === DoubleType)
      assert(df.count() === 2)
      // unknown columns would fall back to StringType
      assert(Schemas.typeFor("mystery_col") === StringType)
    }
  }

  test("config loader: thresholds come from the file, defaults fill gaps, DQ checks honor them") {
    withTempDir { dir =>
      val f = new java.io.File(dir, "pipeline.yaml")
      java.nio.file.Files.writeString(f.toPath,
        """# tightened thresholds
          |partitioning:
          |  partition_keys:
          |    - StateName
          |    - year
          |
          |dq_thresholds:
          |  null_pct: 0.05
          |  min_rows: 250        # inline comment
          |  rent_range: [100, 9000]
          |  uniqueness_keys: [RegionID, month]
          |""".stripMargin)
      val cfg = PipelineConfig.fromFile(f.getAbsolutePath)
      assert(cfg.nullPctThreshold === 0.05)
      assert(cfg.minRows === 250L)
      assert(cfg.rentMin === 100.0)
      assert(cfg.rentMax === 9000.0)
      assert(cfg.uniqueKeys === Seq("RegionID", "month"))
      assert(cfg.partitionKeys === Seq("StateName", "year"))
      // a loaded threshold drives the DQ gate: 19-row fixture < min_rows 250
      // trips row_count, and the run-all-then-throw runner reports it
      val long = mkDf(Fixtures.longSchema, Fixtures.longRows)
      val e = intercept[DataQualityError] {
        DataQuality.runQualityChecks(long, DataQuality.standardChecks(cfg))
      }
      assert(e.getMessage.contains("row_count"))
    }
  }

  test("config loader: missing sections keep every reference default") {
    assert(PipelineConfig.fromString("spark:\n  app_name: \"x\"\n") === PipelineConfig())
  }

  test("config loader: top-level scalars don't leak into the previous section; quoted '#' survives") {
    // min_rows at top level must NOT become dq_thresholds.min_rows
    val cfg = PipelineConfig.fromString(
      """dq_thresholds:
        |  null_pct: 0.2
        |min_rows: 9
        |""".stripMargin)
    assert(cfg.nullPctThreshold === 0.2)
    assert(cfg.minRows === PipelineConfig().minRows)
    // '#' inside a quoted list item is content, not a comment
    val cfg2 = PipelineConfig.fromString(
      """partitioning:
        |  partition_keys: ["a#b", year]  # real comment
        |""".stripMargin)
    assert(cfg2.partitionKeys === Seq("a#b", "year"))
  }

  test("writeProcessed partitions by (StateName, year) and derives year") {
    withTempDir { dir =>
      val out = new java.io.File(dir, "processed").getAbsolutePath
      val long = mkDf(Fixtures.longSchema, Fixtures.longRows).transform(Transforms.cleanNulls)
      Io.writeProcessed(long, out)
      val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("StateName=")).sorted
      assert(dirs.toSeq === Seq("StateName=CA", "StateName=NY", "StateName=TX"))
      val back = Io.readProcessed(spark, out)
      assert(back.count() === long.count())
      assert(back.columns.contains("year"))
      assert(back.select("year").distinct().collect().map(_.get(0)).toSet === Set(2024))
    }
  }

  test("writeProcessed leaves one data file plus its .crc per partition dir, with a plain write's permissions") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    // relative dir -> (dir mode, modes of its data files, modes of their
    // .crc siblings), modes read with the setuid/setgid/sticky bits
    def layout(root: Path): Map[String, (Int, Set[Int], Set[Int])] = {
      def mode(p: Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val dirs = Files.walk(root).iterator().asScala.filter(Files.isDirectory(_)).toList
      dirs.map { d =>
        val files = Files.list(d).iterator().asScala.filter(Files.isRegularFile(_)).toList
        val (crc, data) = files.partition(_.getFileName.toString.endsWith(".crc"))
        root.relativize(d).toString -> ((mode(d), data.map(mode).toSet, crc.map(mode).toSet))
      }.toMap
    }
    withTempDir { dir =>
      val df = mkDf(Fixtures.longSchema, Fixtures.longRows).transform(Transforms.cleanNulls)
      val out = new java.io.File(dir, "processed").toPath
      val plain = new java.io.File(dir, "plain").toPath
      Io.writeProcessed(df, out.toString)
      df.withColumn("year", year(col("month"))).write
        .partitionBy("StateName", "year").parquet(plain.toString)
      val leaves = Files.walk(out).iterator().asScala.filter(_.getFileName.toString.startsWith("year=")).toList
      assert(leaves.size === 3)
      leaves.foreach { leaf =>
        val names = Files.list(leaf).iterator().asScala.map(_.getFileName.toString).toList
        val data = names.filter(_.endsWith(".parquet"))
        assert(data.size === 1, names)
        assert(names.sorted === Seq(s".${data.head}.crc", data.head).sorted, names)
      }
      assert(layout(out) === layout(plain))
    }
  }

  test("dynamic partition overwrite replaces only the incoming partitions") {
    withTempDir { dir =>
      val out = new java.io.File(dir, "incr").getAbsolutePath
      val all = mkDf(Fixtures.longSchema, Fixtures.longRows).transform(Transforms.cleanNulls)
      Io.writeProcessed(all, out)
      val before = Io.readProcessed(spark, out)
      val nyBefore = before.filter(col("StateName") === "NY").count()
      val caBefore = before.filter(col("StateName") === "CA").count()
      assert(nyBefore > 0 && caBefore > 0)

      // refresh delivers ONLY California, with a sentinel rent
      val caRefresh = all.filter(col("StateName") === "CA")
        .withColumn("median_rent", lit(9999.0))
      Io.overwritePartitions(caRefresh, out)

      val after = Io.readProcessed(spark, out)
      // NY untouched, CA fully replaced by the refresh
      assert(after.filter(col("StateName") === "NY").count() === nyBefore)
      val ca = after.filter(col("StateName") === "CA")
      assert(ca.count() === caRefresh.count())
      assert(ca.filter(col("median_rent") =!= 9999.0).count() === 0)
    }
  }

  private val overwriteModeKey = "spark.sql.sources.partitionOverwriteMode"

  /** Runs `body`, then puts the session's overwrite-mode conf back as it
    * was: set to the same value, or unset.
    */
  private def keepingOverwriteMode[A](body: => A): A = {
    val prev = spark.conf.getAll.get(overwriteModeKey)
    try body
    finally prev.fold(spark.conf.unset(overwriteModeKey))(spark.conf.set(overwriteModeKey, _))
  }

  test("writeProcessed replaces the whole dataset even when the session default is dynamic") {
    keepingOverwriteMode {
      spark.conf.set(overwriteModeKey, "dynamic")
      withTempDir { dir =>
        val out = new java.io.File(dir, "full").getAbsolutePath
        val all = mkDf(Fixtures.longSchema, Fixtures.longRows).transform(Transforms.cleanNulls)
        Io.writeProcessed(all.filter(col("StateName") =!= "CA"), out)
        // a second full write of disjoint states leaves only its own states
        Io.writeProcessed(all.filter(col("StateName") === "CA"), out)
        val states = Io.readProcessed(spark, out).select("StateName").distinct()
          .collect().map(_.getString(0)).toSet
        assert(states === Set("CA"))
      }
    }
  }

  test("overwritePartitions leaves the session's overwrite-mode conf as it found it") {
    keepingOverwriteMode {
      withTempDir { dir =>
        val out = new java.io.File(dir, "incr").getAbsolutePath
        val all = mkDf(Fixtures.longSchema, Fixtures.longRows).transform(Transforms.cleanNulls)
        Seq(None, Some("static"), Some("STATIC"), Some("dynamic")).foreach { mode =>
          mode.fold(spark.conf.unset(overwriteModeKey))(spark.conf.set(overwriteModeKey, _))
          Io.overwritePartitions(all, out)
          assert(spark.conf.getAll.get(overwriteModeKey) === mode)
        }
      }
    }
  }

  test("parquet schema evolution: mergeSchema unifies old and new file schemas") {
    withTempDir { dir =>
      import spark.implicits._
      val p = dir.getAbsolutePath
      Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$p/part=old")
      Seq((2L, "b", 3.5)).toDF("id", "v1", "v2").write.parquet(s"$p/part=new")
      val merged = spark.read.option("mergeSchema", "true").parquet(p)
      assert(merged.columns.toSet === Set("id", "v1", "v2", "part"))
      val old = merged.filter(col("part") === "old").head()
      assert(old.isNullAt(merged.columns.indexOf("v2"))) // evolved column null for old files
      assert(merged.count() === 2)
    }
  }

  test("permissive CSV: short/long rows fill or drop fields without failing the read") {
    withTempDir { dir =>
      val f = new java.io.File(dir, "malformed.csv")
      java.nio.file.Files.writeString(f.toPath,
        """RegionID,SizeRank,RegionName,RegionType,StateName,2024-01
          |102001,1,New York,msa,NY,3450.0
          |394913,2,San Francisco
          |394514,3,Austin,msa,TX,2100.0,EXTRA
          |""".stripMargin)
      val df = Io.readRawCsv(spark, f.getAbsolutePath)
      assert(df.count() === 3) // nothing throws; short row null-padded, long row truncated
      val sf = df.filter(col("RegionID") === 394913).head()
      assert(sf.isNullAt(df.columns.indexOf("StateName")))
      val atx = df.filter(col("RegionID") === 394514).head()
      assert(atx.getAs[Double]("2024-01") === 2100.0)
    }
  }

  test("full CSV -> pipeline -> partitioned parquet -> DQ gate round trip") {
    withTempDir { dir =>
      val f = new java.io.File(dir, "raw.csv")
      java.nio.file.Files.writeString(f.toPath, csv)
      val out = new java.io.File(dir, "processed").getAbsolutePath
      val processed = Io.readRawCsv(spark, f.getAbsolutePath).transform(Transforms.runPipeline)
      Io.writeProcessed(processed, out)
      val back = Io.readProcessed(spark, out)
      assert(back.count() === 5) // 6 cells - 1 null
      val summary = DataQuality.runQualityChecks(
        back, DataQuality.standardChecks(PipelineConfig(minRows = 1)))
      assert(summary.failed === 0)
    }
  }
}
