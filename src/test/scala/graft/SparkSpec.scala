package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own session profile
  * on 2 cores, as the reference's fixture builds the job's session
  * (`tests/conftest.py:17-33` — local[2], 2 shuffle partitions, UI off,
  * UTC).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def mkDf(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  def withTempDir[A](f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test").toFile
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm))
        x.delete(): Unit
      }
      rm(dir)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.core.EngineSession.builder(2).appName("graft-tests").getOrCreate()
}
