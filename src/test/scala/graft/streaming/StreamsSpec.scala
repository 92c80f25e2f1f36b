package graft.streaming

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming jobs run to completion over the file source with
  * AvailableNow and must agree with their batch duals.
  */
class StreamsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("input sizing goes through the directory's file system: a file: URI sizes like its path") {
    withTempDir { dir =>
      spark.range(0, 1000).write.parquet(new java.io.File(dir, "events.parquet").getPath)
      val local = Streams.inputBytes(spark, dir.getPath, Seq("events"))
      assert(local > 0L)
      assert(Streams.inputBytes(spark, "file:" + dir.getPath, Seq("events")) === local)
      assert(Streams.inputBytes(spark, dir.getPath, Seq("orders")) === 0L)
    }
  }

  test("streaming hourly counts equal the batch tumbling-window aggregation") {
    val streamed = Streams.hourlyCounts(Streams.readEventsStream(spark, sf))
    val result = Streams.runAvailableNowToMemory(
      spark, streamed, "hourly_test", OutputMode.Append())
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))
    // Append mode emits only windows below the watermark; every emitted row
    // must match the batch result exactly, and most windows must have closed.
    val b = batch.collect().map(_.toString).toSet
    val s = result.collect().map(_.toString).toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b))
    assert(s.size >= (b.size * 3) / 4)
  }

  test("streaming dedup: doubled stream (and planted source dups) collapse to one row per id") {
    withTempDir { dir =>
      import spark.implicits._
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      Seq(
        (1L, t("2024-01-01 08:30:00"), 1L, "click", 0.0, "{}"),
        (1L, t("2024-01-01 08:30:00"), 1L, "click", 0.0, "{}"), // source-side dup
        (2L, t("2024-01-01 09:30:00"), 2L, "view", 0.0, "{}"),
        (3L, t("2024-01-01 10:30:00"), 1L, "purchase", 5.0, "{}")
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", expr("unix_micros(ts) * 1000")) // nanos like testdata
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      // the gate query doubles the stream itself, so ids arrive 2-4 times
      val rows = Streams.streamingDedupExact.fn(spark, dir.getAbsolutePath)
        .collect().map(_.toString).toSeq
      assert(rows.length === 3, s"one row per event_id: $rows")
      assert(rows.distinct.length === 3)
    }
  }

  test("append-mode emission boundary: window closes exactly when watermark reaches its end") {
    // max ts = 12:00:00 with a 2h watermark puts the final watermark at
    // exactly 10:00:00 — the boundary of the [09:00,10:00) window. This
    // pins the oracle's cutoff predicate (window_end <= watermark) to
    // Spark's actual emission semantics.
    withTempDir { dir =>
      import spark.implicits._
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      Seq(
        (1L, t("2024-01-01 08:30:00"), 1L, "click", 0.0, "{}"), // [08,09) closed
        (2L, t("2024-01-01 09:30:00"), 1L, "click", 0.0, "{}"), // [09,10) boundary
        (3L, t("2024-01-01 11:30:00"), 1L, "click", 0.0, "{}"), // [11,12) open
        (4L, t("2024-01-01 12:00:00"), 1L, "click", 0.0, "{}")  // sets wm = 10:00
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", expr("unix_micros(ts) * 1000")) // nanos like testdata
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val streamed = Streams.hourlyCounts(
        Streams.readEventsStream(spark, dir.getAbsolutePath))
      val out = Streams.runAvailableNowToMemory(
        spark, streamed, "hourly_boundary_test", OutputMode.Append())
        .select(col("hour_start")).collect().map(_.getTimestamp(0).toString).toSet
      assert(out.contains("2024-01-01 08:00:00.0"))
      assert(!out.contains("2024-01-01 11:00:00.0"))
      assert(!out.contains("2024-01-01 12:00:00.0"))
      // the pinned boundary semantics: window end == watermark => emitted
      assert(out.contains("2024-01-01 09:00:00.0"), s"got $out")
    }
  }

  test("stream-stream interval join matches the batch interval join (modulo watermark tail)") {
    import org.apache.spark.sql.functions.expr
    val clicks = Streams.readEventsStream(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = Streams.readEventsStream(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(
      purchases,
      expr("c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"))
    val result = Streams.runAvailableNowToMemory(
      spark, joined, "ss_join_test", org.apache.spark.sql.streaming.OutputMode.Append())

    val ev = Tables.events(spark, sf)
    val bc = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = bc.join(bp, expr("c_user = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"))

    val s = result.select("c_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = batch.select("c_id", "p_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s.subsetOf(b))
    assert(b.nonEmpty && s.size >= (b.size * 3) / 4, s"stream ${s.size} vs batch ${b.size}")
  }

  test("stream-static join equals the batch join exactly (stateless, no watermark tail)") {
    val q = Streams.streamStaticJoin.fn(spark, sf)
    val ev = Tables.events(spark, sf)
    val profile = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
    val batch = ev.filter(col("event_type") === "purchase")
      .join(profile, Seq("user_id"))
      .select(col("event_id"), col("n_clicks"))
    val s = q.select("event_id", "n_clicks").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b.nonEmpty && s === b)
  }

  test("streaming as-of enrichment equals the batch last-click-at-or-before attribution") {
    val got = Streams.streamingAsofEnrich.fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(4)).map(_.toString)))
      .toMap
    // independent batch dual: left join on the as-of predicate + max()
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val want = p.join(c, col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts"), "left")
      .groupBy(col("event_id"))
      .agg(max(col("click_ts")).as("last_click_ts"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)).map(_.toString)))
      .toMap
    assert(got.nonEmpty)
    assert(got === want)
    // at least one purchase should be unmatched OR matched — both legs real:
    // the fixture month guarantees matches; unmatched only if a user never
    // clicked before purchasing (allowed either way, equality above decides)
  }

  test("stateful restart: generation 1 aggregates the even half; the restart recovers state to full counts") {
    val (g1, g2) = Streams.statefulRestartPhases(spark, sf)
    val events = Tables.events(spark, sf)
    val nEven = events.filter(col("event_id") % 2 === 0).count()
    val nAll = events.count()
    // phase 1 emitted exactly the even half — proving phase 2's full total
    // comes from RECOVERED STATE, not from silently re-reading generation 1
    assert(g1.agg(sum(col("n_events"))).head().getLong(0) === nEven)
    assert(g2.agg(sum(col("n_events"))).head().getLong(0) === nAll)
    // and the recovered aggregate equals the batch hourly rollup row-for-row
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))
    assert(
      g2.collect().map(_.toString).sorted.toSeq ===
        batch.collect().map(_.toString).sorted.toSeq)
  }

  test("foreachBatch parquet sink captures every source row exactly once") {
    withTempDir { dir =>
      val streamed = Streams.readEventsStream(spark, sf)
        .select("event_id", "user_id", "event_type")
      Streams.runForeachBatchParquet(spark, streamed, dir.getAbsolutePath)
      val written = spark.read.parquet(s"${dir.getAbsolutePath}/batch_*")
      assert(written.count() === Tables.events(spark, sf).count())
      assert(written.select("event_id").distinct().count() === written.count())
    }
  }

  test("streaming exact dedup (dropDuplicates on event_id) equals batch distinct") {
    val deduped = Streams.readEventsStream(spark, sf)
      .dropDuplicates("event_id")
      .groupBy()
      .count()
    val result = Streams.runAvailableNowToMemory(
      spark, deduped, "stream_dedup_test",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val streamCount = result.orderBy(org.apache.spark.sql.functions.col("count").desc).head().getLong(0)
    val batchCount = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(streamCount === batchCount)
  }

  test("flatMapGroupsWithState per-user type counts converge to batch group-by") {
    val snapshots = Streams.userTypeCounts(spark, Streams.readEventsStream(spark, sf))
    val result = Streams.runAvailableNowToMemory(
      spark, snapshots.toDF(), "type_counts_test",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val finals = result.groupBy("user_id", "event_type")
      .agg(max("n").as("n"))
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val f = finals.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = batch.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(f === b)
  }

  test("streaming session windows (session_window + watermark) agree with the batch dual") {
    val streamed = Streams.readEventsStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
    val result = Streams.runAvailableNowToMemory(
      spark, streamed, "session_stream_test", OutputMode.Append())
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_events"))
    val b = batch.collect().map(_.toString).toSet
    val s = result.collect().map(_.toString).toSet
    // Append emits only sessions closed below the watermark; all emitted
    // sessions must match the batch result, and most must have closed.
    assert(s.nonEmpty)
    assert(s.subsetOf(b))
    assert(s.size >= (b.size * 3) / 4)
  }

  test("watermarked aggregation on the RocksDB state store (off-heap scale state backend)") {
    // HDFS-backed state lives on the executor heap — at 100 TB of keyed
    // state that's the first thing to fall over. RocksDB keeps state off
    // heap with incremental checkpoints; results must be identical.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = Streams.hourlyCounts(Streams.readEventsStream(spark, sf))
      val result = Streams.runAvailableNowToMemory(
        spark, streamed, "hourly_rocksdb_test", OutputMode.Append())
      val batch = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))
      val b = batch.collect().map(_.toString).toSet
      val s = result.collect().map(_.toString).toSet
      assert(s.nonEmpty)
      assert(s.subsetOf(b))
      assert(s.size >= (b.size * 3) / 4)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming LSH candidate generation emits exactly the batch candidate set") {
    withTempDir { dir =>
      import org.apache.spark.sql.types._
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire and the birds sing in the tall green trees above the quiet garden"
      val docs = Seq(
        1L -> base,
        2L -> base.replace("quiet garden", "silent yard"), // near-dup of 1
        3L -> "completely different words about spark shuffle partitions and broadcast joins in distributed query engines running on large clusters",
        4L -> base, // exact dup of 1 (arrives in batch 2)
        5L -> "another unrelated essay on columnar storage formats page indexes bloom filters and predicate pushdown for analytic scans")
      // two files -> two micro-batches (maxFilesPerTrigger=1): pairs must
      // form across the batch boundary through the bucket state
      docs.take(3).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/stream/f1.parquet")
      docs.drop(3).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/stream/f2.parquet")

      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val streamDocs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/stream/*.parquet")
      val streamed = Streams.streamingLshCandidates(spark, streamDocs).toDF()
      val result = Streams.runAvailableNowToMemory(
        spark, streamed, "lsh_stream_test", OutputMode.Append())
      val streamPairs = result.select("doc_a", "doc_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val batchDocs = docs.toDF("doc_id", "text")
      val buckets = graft.text.Dedup.bandBuckets(graft.text.Dedup.signaturesOf(batchDocs))
      val batchPairs = buckets.as("a")
        .join(buckets.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      assert(streamPairs === batchPairs)
      assert(streamPairs.contains((1L, 4L))) // exact dup pair spans the batch boundary
      assert(streamPairs.exists { case (a, b) => Set(a, b) == Set(1L, 2L) }) // near-dup pair
      assert(!streamPairs.exists { case (a, b) => a == 3L || b == 3L }) // disjoint doc stays alone
    }
  }

  test("streaming LSH: RocksDB provider emits the identical candidate set (HDFS default is perf-only)") {
    withTempDir { dir =>
      import org.apache.spark.sql.types._
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire and the birds sing in the tall green trees above the quiet garden"
      val docs = Seq(
        1L -> base,
        2L -> base.replace("quiet garden", "silent yard"),
        3L -> "completely different words about spark shuffle partitions and broadcast joins in distributed query engines running on large clusters",
        4L -> base,
        5L -> "another unrelated essay on columnar storage formats page indexes bloom filters and predicate pushdown for analytic scans")
      docs.take(3).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/stream/f1.parquet")
      docs.drop(3).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$dir/stream/f2.parquet")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))

      // run the SAME multi-batch ingest under each provider; collect both
      // the emitted pairs and the state operator's custom metrics (which
      // prove which provider actually served the run)
      def runWith(rocks: Boolean): (Set[(Long, Long, Int)], Set[String]) = {
        val sess = spark.newSession()
        sess.conf.set("spark.sql.shuffle.partitions", "4")
        if (rocks)
          sess.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val streamDocs = sess.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$dir/stream/*.parquet")
        val name = s"lsh_provider_${if (rocks) "rocks" else "hdfs"}"
        val q = Streams.streamingLshCandidates(sess, streamDocs).toDF()
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append())
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val metricKeys = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption)
          .map(_.customMetrics.keySet().toArray.map(_.toString).toSet)
          .getOrElse(Set.empty)
        val pairs = sess.table(name)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        (pairs, metricKeys)
      }

      val (hdfsPairs, hdfsMetrics) = runWith(rocks = false)
      val (rocksPairs, rocksMetrics) = runWith(rocks = true)
      // the provider swap is performance-only: bit-identical candidate sets
      assert(hdfsPairs.nonEmpty)
      assert(rocksPairs === hdfsPairs)
      // and each run really used its provider (RocksDB exposes rocksdb*
      // custom metrics; the HDFS-backed provider exposes none of them)
      assert(rocksMetrics.exists(_.toLowerCase.contains("rocksdb")),
        s"RocksDB run reported no rocksdb metrics: $rocksMetrics")
      assert(!hdfsMetrics.exists(_.toLowerCase.contains("rocksdb")),
        s"HDFS run unexpectedly reported rocksdb metrics: $hdfsMetrics")
    }
  }

  test("streaming LSH bucket state expires past the retention horizon") {
    withTempDir { dir =>
      import org.apache.spark.sql.types._
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire and the birds sing in the tall green trees above the quiet garden"
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))

      def writeGen(docs: Seq[(Long, String)], file: String): Unit =
        docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in/$file.parquet")

      // foreachBatch parquet sink: unlike the memory sink it supports
      // checkpoint RECOVERY, which the cross-run TTL assertion needs
      var lastStateRows = -1L
      def run(cp: String, out: String, retention: java.time.Duration): Set[(Long, Long)] = {
        val streamDocs = spark.readStream.schema(schema).parquet(s"$dir/in/*.parquet")
        val streamed = Streams.streamingLshCandidates(spark, streamDocs, retention).toDF()
        val q = streamed.writeStream
          .outputMode(OutputMode.Append())
          .option("checkpointLocation", s"$dir/$cp")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
              batch.write.mode("overwrite").parquet(s"$dir/$out/batch_$batchId")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        lastStateRows = Option(q.lastProgress)
          .flatMap(p => p.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
        spark.read.parquet(s"$dir/$out/batch_*").select("doc_a", "doc_b").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }

      // 1 s TTL with 5 s inter-generation gaps: the 5x margin keeps a slow
      // generation run on a loaded host from pushing its own batch
      // timestamp past the horizon (flaky-eviction hazard with a 2.5 s gap)
      val shortTtl = java.time.Duration.ofSeconds(1)
      val gapMs = 5000L
      // generation 1: two near-dups — pair within the horizon
      writeGen(Seq(1L -> base, 2L -> base.replace("quiet garden", "silent yard")), "g1")
      val gen1 = run("cp_ttl", "out_ttl", shortTtl)
      assert(gen1.exists { case (a, b) => Set(a, b) == Set(1L, 2L) })

      Thread.sleep(gapMs) // let generation-1 bucket elements expire

      // generation 2: doc 11 is an EXACT copy of doc 1 (guaranteed shared
      // buckets if unexpired) and 12 a near-dup of 11
      writeGen(Seq(11L -> base, 12L -> base.replace("lazy dog", "bored dog")), "g2")
      val gen2 = run("cp_ttl", "out_ttl", shortTtl) -- gen1
      // in-horizon pair (same batch) is unaffected by the TTL ...
      assert(gen2.exists { case (a, b) => Set(a, b) == Set(11L, 12L) })
      // ... while the expired generation-1 history no longer pairs
      assert(!gen2.exists { case (a, b) => a <= 2L || b <= 2L })

      val stateAfterGen2 = lastStateRows

      // STATE-SIZE proof, not just pair-absence: after another horizon
      // passes, a third generation's batch advances the watermark past every
      // gen-1/gen-2 bucket's timeout — their blobs must be REMOVED from the
      // store, leaving only the lone gen-3 doc's buckets (≤ one bucket per
      // band). Without eviction the store would hold every bucket ever
      // touched and this count would grow monotonically.
      Thread.sleep(gapMs)
      writeGen(Seq(21L -> "an entirely different closing paragraph about columnar engines and shuffle topology"), "g3")
      run("cp_ttl", "out_ttl", shortTtl)
      assert(lastStateRows >= 0, "state metrics must be reported")
      assert(lastStateRows < stateAfterGen2,
        s"expired buckets must be removed from the store ($lastStateRows vs $stateAfterGen2)")
      // one in-horizon doc ⇒ ≤ 1 bucket per LSH band (bound derived from
      // the banding scheme, not a literal)
      assert(lastStateRows <= graft.text.Dedup.NumBands,
        s"state must be bounded by the in-horizon docs' buckets, got $lastStateRows")

      // control: LONG retention over the same corpus from a fresh checkpoint
      // proves the cross-generation pairs are LSH-reachable — their absence
      // above is eviction, not bucketing
      val ctrl = run("cp_ctrl", "out_ctrl", Streams.lshDefaultRetention)
      assert(ctrl.contains((1L, 11L))) // exact-dup pair across the generations
    }
  }

  test("mapGroupsWithState running totals converge to the batch per-user totals") {
    val snapshots = Streams.userRunningTotals(spark, Streams.readEventsStream(spark, sf))
    val result = Streams.runAvailableNowToMemory(
      spark, snapshots.toDF(), "running_totals_test", OutputMode.Update())
    // last snapshot per user = final running state
    val finals = result.groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("total_value_cents").as("cents"))
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(coalesce(round(col("value") * 100).cast("long"), lit(0L))).as("cents"))
    val f = finals.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(f === b)
  }

  test("stream-stream LEFT OUTER join: nulls appear iff the watermark closed the window") {
    import java.sql.Timestamp
    val got = Streams.streamStreamLeftJoin.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // batch dual
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        graft.core.Num.cents(col("value")).as("purchase_cents"))
    val joined = clicks.join(
      purchases,
      col("p_user_id") === col("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
    val wm = new Timestamp(math.min(
      clicks.agg(max("click_ts")).head().getTimestamp(0).getTime,
      purchases.agg(max("purchase_ts")).head().getTimestamp(0).getTime) - 3600L * 1000L)
    val want = joined
      .select(col("user_id"), col("click_ts"), col("purchase_ts"), col("purchase_cents"))
      .collect().map { r =>
        (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }.filter { case (_, clickTs, purchase, _) =>
      // matched rows always emit; null rows only once the 30-min window
      // closed strictly below the final watermark
      purchase.isDefined || clickTs.getTime + 30L * 60 * 1000 < wm.getTime
    }.toSet
    assert(got === want)
    // the watermark tail is real: some unmatched clicks were withheld
    val allNulls = joined.filter(col("purchase_ts").isNull).count()
    val emittedNulls = got.count(_._3.isEmpty).toLong
    assert(emittedNulls > 0L && emittedNulls < allNulls)
  }

  test("stream-stream FULL OUTER join: both null legs watermark-gated, matched leg complete") {
    val rows = Streams.streamStreamFullJoin.fn(spark, sf).collect()
    val matched = rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
    val nullPurch = rows.filter(r => !r.isNullAt(1) && r.isNullAt(2)) // unmatched clicks
    val nullClick = rows.filter(r => r.isNullAt(1) && !r.isNullAt(2)) // unmatched purchases
    assert(matched.nonEmpty && nullPurch.nonEmpty && nullClick.nonEmpty)
    // matched leg equals the left join's matched leg (same inner core)
    val leftMatched = Streams.streamStreamLeftJoin.fn(spark, sf).collect()
      .filter(r => !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(matched.map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet === leftMatched)
    // every user in a null leg has no qualifying partner for that row: spot
    // the invariant on the unmatched-purchase leg (all clicks of that user
    // are outside [purchase_ts - 30min, purchase_ts])
    val clicksByUser = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    nullClick.foreach { r =>
      val (u, pts) = (r.getLong(0), r.getTimestamp(2).getTime)
      val partners = clicksByUser.getOrElse(u, Seq.empty[Long])
        .filter(ct => ct <= pts && pts <= ct + 30L * 60 * 1000)
      assert(partners.isEmpty, s"user $u purchase at $pts has a qualifying click")
    }
  }

  test("transformWithState: MapState+ValueState survive across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "4")
    sess.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sess.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val out = ms.toDS()
      .groupByKey(_._1)
      .transformWithState(
        new Streams.TypeStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    val q = out.toDF().writeStream
      .format("memory").queryName("tws_spec").outputMode("update").start()
    // batch 1: user 1 clicks twice (30c, 70c), user 2 views once (10c)
    ms.addData((1L, "click", 30L), (1L, "click", 70L), (2L, "view", 10L))
    q.processAllAvailable()
    val b1 = sess.table("tws_spec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(b1.toSet === Set((1L, "click", 2L, 100L, 2L), (2L, "view", 1L, 10L, 1L)))
    // batch 2: user 1 views once -> MapState gains a key, ValueState (user_n)
    // carries the prior total; the click row re-emits the FULL snapshot
    ms.addData((1L, "view", 5L))
    q.processAllAvailable()
    val b2 = sess.table("tws_spec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .diff(b1)
    assert(b2.toSet === Set((1L, "click", 2L, 100L, 3L), (1L, "view", 1L, 5L, 3L)))
    q.stop()
    // and the gate query's latest-snapshot read equals the batch answer
    val gate = Streams.streamingTwsTypeStats.fn(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(round(col("value") * 100).cast("long"), lit(0L))).as("cents"))
      .withColumn("user_n",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(gate === batch)
  }

  test("incremental parquet sink: each restart processes only new files; idle restart is a no-op") {
    val base = graft.rentals.Scratch.dir(s"graft_incr_sink_spec_${System.nanoTime()}")
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val nEven = events.filter(col("event_id") % 2 === 0).count()
    val nAll = events.count()

    events.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(s"$base/in")
    val afterGen1 = Streams.runIncrementalSinkPhase(spark, base)
    assert(afterGen1 === nEven, "first run sinks exactly generation 1")

    events.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(s"$base/in")
    val afterGen2 = Streams.runIncrementalSinkPhase(spark, base)
    assert(afterGen2 === nAll, "restart processes only the new files, no reprocessing")

    val afterIdle = Streams.runIncrementalSinkPhase(spark, base)
    assert(afterIdle === nAll, "idle restart appends nothing")

    // content equality, not just counts: every event exactly once
    val sunk = spark.read.parquet(s"$base/out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val expected = events
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    assert(sunk.sorted === expected.sorted)
  }

  test("mid-batch crash before sink commit: restart neither loses nor duplicates rows") {
    // Extends the incremental-sink idempotence story to CRASH-consistency:
    // the clean-restart specs above stop between batches; here the sink
    // CRASHES inside a batch, after part of the batch's output is already
    // durable but before the batch commits. The checkpoint must treat the
    // batch as uncommitted, redeliver it on restart, and the
    // overwrite-by-batchId discipline must replace the torn partial write —
    // exactly-once contents, not at-least-once.
    val base = graft.rentals.Scratch.dir(s"graft_crash_sink_${System.nanoTime()}")
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
    events.write.mode("overwrite").parquet(s"$base/in")
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)

    def runOnce(): Option[Throwable] = {
      val streamed = spark.readStream
        .schema(spark.read.parquet(s"$base/in").schema)
        .parquet(s"$base/in/*.parquet")
      val q = streamed.writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$base/cp")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            if (crashArmed.getAndSet(false)) {
              // torn write: half the batch lands durably, then the "process"
              // dies before the batch can commit
              batch.filter(col("event_id") % 2 === 0)
                .write.mode("overwrite").parquet(s"$base/out/batch_$batchId")
              throw new RuntimeException("injected crash before sink commit")
            }
            batch.write.mode("overwrite").parquet(s"$base/out/batch_$batchId")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { q.awaitTermination(); None }
      catch { case e: Throwable => spark.streams.resetTerminated(); Some(e) }
    }

    val firstErr = runOnce()
    assert(firstErr.isDefined, "the injected crash must surface as a query failure")
    // the torn partial IS on disk — precisely the state a naive append sink
    // would double-count after restart
    val torn = spark.read.parquet(s"$base/out/batch_*").count()
    assert(torn > 0 && torn < events.count(), "partial output visible before restart")

    assert(runOnce().isEmpty, "restart completes cleanly")
    val sunk = spark.read.parquet(s"$base/out/batch_*")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expected = events.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(sunk.sorted === expected.sorted, "every event exactly once after crash + restart")
  }
}
