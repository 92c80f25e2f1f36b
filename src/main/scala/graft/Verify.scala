package graft
import graft.core.EngineSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = EngineSession.builder(EngineSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names): lets tools/compare.py
    // iterate on a few queries without re-running the whole registry. The
    // driver never sets it, so its gate always covers everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // A crashed query must be a VISIBLE failure, not a silently-missing row:
    // every exception is recorded in errors.json next to oracle_sql.json, so
    // the gate report can never shrink without a trace (round-6 lesson: three
    // analysis-time crashes silently dropped the gate from 187 to 184 rows).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          errors(name) = msg
          System.err.println(s"[verify] $name failed: $msg")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A SPARK_GRAFT_ONLY subset run must not erase failure records of
    // queries it did not touch (reusing outDir would otherwise blank the
    // full run's errors.json): carry forward prior entries for unselected
    // queries, replace only what this run executed.
    val errPath = Paths.get(s"$outDir/errors.json")
    // Try: a truncated or hand-edited errors.json must degrade to carrying
    // nothing forward, not abort the subset run before any output is written
    val carried: Map[String, String] =
      if (only.isDefined && Files.exists(errPath))
        scala.util.Try(parseStringMap(Files.readString(errPath)))
          .getOrElse(Map.empty)
          .filter(kv => !selected(kv._1))
      else Map.empty
    val errJson = (carried ++ errors).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(errPath, errJson)
    spark.stop()
  }

  /** Minimal parser for the flat string→string JSON objects this file
    * writes (errors.json): enough to round-trip our own `q()` escaping; not
    * a general JSON parser.
    */
  private[graft] def parseStringMap(s: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def readString(): String = {
      require(i < s.length && s(i) == '"', s"expected quote at $i"); i += 1
      val sb = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          require(i < s.length, s"truncated escape at $i")
          s(i) match {
            case '"'  => sb += '"'
            case '\\' => sb += '\\'
            case 'n'  => sb += '\n'
            case 'r'  => sb += '\r'
            case 't'  => sb += '\t'
            case 'u'  => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c    => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      require(i < s.length, "truncated string (missing closing quote)")
      i += 1
      sb.toString
    }
    skipWs(); require(i < s.length && s(i) == '{', "expected object"); i += 1
    skipWs()
    while (i < s.length && s(i) != '}') {
      val k = readString()
      skipWs(); require(i < s.length && s(i) == ':', s"expected colon at $i"); i += 1; skipWs()
      val v = readString()
      out(k) = v
      skipWs()
      if (i < s.length && s(i) == ',') { i += 1; skipWs() }
    }
    out.toMap
  }
}
