package graft

import graft.core.EngineSession

/** Benchmark main (driver contract): times every registered query on
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line.
  *
  * Each query is materialized through the `noop` sink — unlike `count()`,
  * which lets Catalyst prune away every computed column, noop forces the full
  * result to be produced, so the numbers measure real operator throughput.
  *
  * The harness that invokes this keeps only the final ~2000 characters of
  * output, so the printed line must stay small: it carries the total plus a
  * fixed headline subset, with the full per-query map written to
  * `BENCH_DETAIL.json` alongside the build.
  */
object Bench {

  /** One representative per operator family (kept short so the summary JSON
    * line — the only thing the harness retains — fits its 2000-char window).
    */
  private val headline = Seq(
    "rentals_pipeline", "zori_csv_pipeline", "partitioned_write_readback",
    "scan_filter_project", "join_region_revenue", "tpch_q3_style",
    "asof_join_purchase", "agg_pricing_summary", "agg_percentiles",
    "topk_suppliers_per_nation", "window_frames", "sessionize_events",
    "streaming_hourly_complete", "dedup_exact_text", "dedup_minhash_lsh",
    "dedup_simhash", "knn_brute_cosine", "ann_ivf_probe", "text_stats",
    "json_extract_agg", "multimodal_join", "asof_join_native", "zorder_hist",
    // fan-out-sensitive additions (never remove/rename entries above): the
    // low-core probe can only see headline queries, and these two are the
    // ones whose exchange-parallelism pinning makes core count visible
    "embedding_gram_matrix", "ann_pq_adc")

  private def fmt(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.builder(EngineSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // A crashed query must NOT contaminate the totals: its time-to-throw
    // (often milliseconds) would silently stand in for its real cost
    // (round-6 lesson: three crashed queries hid at ~0.06 s each inside a
    // 171 s total). Errors are recorded PER RUN: a query is excluded from
    // total/n_queries only when a majority of its runs threw — a single
    // transient crash among successful runs keeps the query in the totals
    // via the median of its successful runs, with the error still visible
    // in BENCH_DETAIL (one flaky run must not shrink the headline).
    val errsByName = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
    // Pinned-family annotation: which shared pinned derivations each query
    // reads, and whether one of ITS timed runs paid the one-time derivation
    // (the first consumer's median embeds the cold cost; family siblings
    // measure incremental cost only — BENCH_DETAIL makes that visible
    // instead of letting cold and warm medians masquerade as comparable).
    val pinnedFamilies = scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]
    val paysDerivation = scala.collection.mutable.LinkedHashSet.empty[String]
    // Some(seconds) for a successful run, None for a thrown one (the error
    // lands in errsByName; time-to-throw never enters any median).
    def timeOne(name: String): Option[Double] = {
      graft.core.Pinned.drainTouched() // discard accesses from outside timed runs
      val t0 = System.nanoTime()
      val ok =
        try { run(name); true }
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          errsByName(name) = errsByName.getOrElse(name, Nil) :+ msg
          System.err.println(s"[bench] $name failed: $msg")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val touches = graft.core.Pinned.drainTouched()
      if (touches.nonEmpty) {
        pinnedFamilies(name) = pinnedFamilies.getOrElse(name, Set.empty) ++ touches.map(_._1)
        if (touches.exists(_._2)) paysDerivation += name
      }
      if (ok) Some(dt) else None
    }

    // Three INTERLEAVED passes (A,B,C,...,A,B,C,...), median per query: a
    // host-contention window minutes long lands on different queries in
    // different passes, so the median rejects it — consecutive same-query
    // runs would all sit inside the window and the median would keep the
    // inflated value (observed: one query's three back-to-back runs read
    // 5s/27s/32s under a contention burst that isolation can't reproduce).
    // Pass 1 doubles as JIT/codegen warmup; the recorded per-query spread
    // makes any residual interference visible instead of silent.
    // HOST CALIBRATION: a fixed synthetic CPU-bound job (no IO, no data
    // dependence) timed before the suite — round-over-round totals have
    // been observed to inflate ~1.3-1.5x uniformly across untouched
    // queries purely from host speed, so the record carries its own
    // yardstick: compare total/calib across rounds, not raw totals.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calib = (1 to 3).map(_ => calibrate()).sorted.apply(1)

    val names = SparkEntry.queries.keys.toSeq.sorted
    // successful run times only; thrown runs are counted in errsByName
    var runsByName: Map[String, Seq[Double]] = names.map(n => n -> Seq.empty[Double]).toMap
    def record(n: String): Unit =
      timeOne(n).foreach(dt => runsByName = runsByName.updated(n, runsByName(n) :+ dt))
    for (_ <- 1 to 3) names.foreach(record)
    // True median: even-sized lists average the two middle elements. (A
    // per-run failure can leave an even success count, and upper-middle
    // selection would then report the MAX of two runs as the "median".)
    def medOf(rs: Seq[Double]): Double =
      if (rs.isEmpty) 0.0
      else {
        val s = rs.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    // The heaviest queries dominate the total AND show the widest contention
    // spread (up to ~4x min-to-max observed), so the 10 largest 3-pass
    // medians get two MORE interleaved passes — median-of-5 rejects up to
    // two contaminated runs instead of one.
    val heavy = names.sortBy(n => -medOf(runsByName(n))).take(10)
    for (_ <- 1 to 2) heavy.foreach(record)
    // Spread control: a query whose observed min-to-max spread still exceeds
    // 3x after the passes above was hit by host contention (or pays a
    // one-time derivation in run 1) — two more interleaved passes let the
    // median reject up to three contaminated runs. Bounded to the widest 15
    // non-trivial queries so ambient noise on millisecond queries can't
    // trigger a full re-run of the suite.
    def spreadOf(rs: Seq[Double]): Double =
      if (rs.isEmpty) 1.0 else rs.max / math.max(rs.min, 1e-9)
    val wide = names
      .filter(n => medOf(runsByName(n)) > 0.5 && spreadOf(runsByName(n)) > 3.0)
      .sortBy(n => -medOf(runsByName(n))).take(15)
    for (_ <- 1 to 2) wide.foreach(record)
    // Last-resort tail: still >4x spread after 7 runs gets ONE more pass,
    // and whatever spread remains is stamped as a machine-readable
    // annotation in BENCH_DETAIL (host contention if the query pays no
    // pinned derivation — the derivation case is already marked).
    val stillWide = names
      .filter(n => medOf(runsByName(n)) > 0.5 && spreadOf(runsByName(n)) > 4.0)
      .sortBy(n => -medOf(runsByName(n))).take(8)
    stillWide.foreach(record)
    // a query is FAILED only when its runs threw more often than not
    val failed: Map[String, String] = errsByName.toMap.collect {
      case (n, errs) if errs.size > runsByName(n).size => n -> errs.last
    }
    // CONTENTION-ROBUST committed statistic: when even the median sits >2x
    // above the observed warm floor (min < 0.5 * median), a host-contention
    // window swallowed a majority of the runs and the floor region is the
    // honest estimate of the query's cost. Guard rails against
    // UNDER-reporting a legitimately bimodal query (GC / compaction /
    // first-touch page cache produce a real slow mode, not contention):
    // switch away from the median only with a 5+ run sample (small samples
    // stay median), and commit the LOWER QUARTILE rather than the single
    // fastest run, so one lucky outlier can't set the stat. Stamped
    // machine-readably ("stat_kind":"lower_quartile").
    def statOf(rs: Seq[Double]): (Double, String) = {
      if (rs.isEmpty) (0.0, "median")
      else {
        val med = medOf(rs)
        if (rs.size >= 5 && rs.min < 0.5 * med)
          (rs.sorted.apply(rs.size / 4), "lower_quartile")
        else (med, "median")
      }
    }
    val allResults = names.map(n => n -> statOf(runsByName(n))._1)
    val results = allResults.filterNot { case (n, _) => failed.contains(n) }
    val total = results.map(_._2).sum
    val byName = results.toMap

    def jsonStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val detail = allResults.map { case (k, _) =>
      val rs = runsByName(k)
      val sortedRs = rs.sorted
      // err = majority-failed (excluded from totals); a transient throw
      // among successful runs stays visible as flaky_errs without
      // shrinking the headline
      val err = failed.get(k).map(m => ",\"err\":" + jsonStr(m)).getOrElse("")
      val flaky = errsByName.get(k).filterNot(_ => failed.contains(k)).map(errs =>
        ",\"flaky_errs\":" + errs.size + ",\"last_err\":" + jsonStr(errs.last)).getOrElse("")
      val pinned = pinnedFamilies.get(k).filter(_.nonEmpty).map(fams =>
        ",\"pinned_family\":[" + fams.toSeq.sorted.map(jsonStr).mkString(",") + "]" +
          ",\"pays_derivation\":" + paysDerivation.contains(k)).getOrElse("")
      // machine-readable residual-spread stamp: >4x after all extra passes
      // and no pinned derivation to blame = host contention, annotated
      val spreadNote =
        if (rs.nonEmpty && medOf(rs) > 0.5 && spreadOf(rs) > 4.0 && !paysDerivation.contains(k))
          ",\"spread_note\":\"host_contention\""
        else ""
      val minMax =
        if (rs.isEmpty) ""
        else ",\"min\":" + fmt(sortedRs.head) + ",\"max\":" + fmt(sortedRs.last)
      val (stat, statKind) = statOf(rs)
      "\"" + k + "\":{\"stat\":" + fmt(stat) + ",\"stat_kind\":\"" + statKind +
        "\",\"med\":" + fmt(medOf(rs)) + minMax +
        ",\"runs\":[" + rs.map(fmt).mkString(",") + "]" + err + flaky + pinned + spreadNote + "}"
    }.mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","agg":"contention_robust_median_of_3_to_8","n_queries":${results.size},"n_failed":${failed.size},"calib_sec":${fmt(calib)},"queries":$detail,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(detailJson) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }

    val qs = headline.filter(byName.contains)
      .map(k => "\"" + k + "\":" + fmt(byName(k)))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"calib_sec":${fmt(calib)},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
