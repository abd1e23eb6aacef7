package graft

import graft.spec.DatasetRef
import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._

class StreamSpec extends SparkSpec {
  import spark.implicits._

  test("AvailableNow continuation: incremental processing across runs") {
    val dir = tempDir("graft_stream")
    val src = s"$dir/src.parquet"; val tgt = s"$dir/tgt"; val ckp = s"$dir/ckp"
    sf("events").limit(100).write.parquet(src)
    val ref = DatasetRef("parquet", dir, "src")

    def run(): Unit = StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, ref),
      df => df.filter(col("value") > 0), tgt, ckp)

    run()
    val firstCount = spark.read.parquet(tgt).count()
    assert(firstCount > 0 && firstCount <= 100)

    // second run with NO new data: nothing re-processed
    run()
    assert(spark.read.parquet(tgt).count() == firstCount)

    // append new files -> only the delta is processed
    sf("events").orderBy(desc("event_id")).limit(40)
      .write.mode("append").parquet(src)
    run()
    val after = spark.read.parquet(tgt).count()
    assert(after > firstCount && after <= firstCount + 40)
  }

  test("watermarked windowed counts over a stream") {
    val dir = tempDir("graft_wstream")
    val src = s"$dir/ev.parquet"; val tgt = s"$dir/win"; val ckp = s"$dir/ckp2"
    sf("events").limit(200).write.parquet(src)
    val ref = DatasetRef("parquet", dir, "ev")
    // Append-mode file sink emits a window only once the watermark
    // passes its end + lateness: most of the 200 events' windows
    // finalize by end-of-stream, the trailing ones stay in state for
    // the next incremental run (and a couple of out-of-order events
    // are legitimately dropped by the watermark).
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, ref),
      df => StreamRunner.windowedCounts(df, "10 minutes", "30 minutes"),
      tgt, ckp)
    val out = spark.read.parquet(tgt)
    assert(out.columns.toSeq ==
      Seq("window_start", "event_type", "n", "sum_value"))
    val emitted = out.agg(sum("n")).as[Long].head()
    assert(emitted > 100L && emitted <= 200L)
  }

  test("stateless corpus ops (pii scan, chunking) run unchanged on streams") {
    val dir = tempDir("graft_cstream")
    val src = s"$dir/docs.parquet"
    sf("documents").limit(30).write.parquet(src)
    val ref = DatasetRef("parquet", dir, "docs")
    // pii: per-row regex counts — no state, append mode, batch parity
    val piiT = s"$dir/pii";
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, ref),
      df => graft.ext.CorpusOps.piiStats(df)
        .select("doc_id", "n_emails", "n_urls", "n_ips", "n_phones", "has_pii"),
      piiT, s"$dir/ckp_pii")
    val batchPii = graft.ext.CorpusOps.piiStats(spark.read.parquet(src))
      .select("doc_id", "n_emails", "n_urls", "n_ips", "n_phones", "has_pii")
    assert(spark.read.parquet(piiT).except(batchPii).isEmpty &&
      batchPii.except(spark.read.parquet(piiT)).isEmpty)
    // chunking: pure per-row explode — same parity law
    val chT = s"$dir/chunks"
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, ref),
      df => graft.ext.CorpusOps.chunkTokens(df, "doc_id", "text", 20, 5),
      chT, s"$dir/ckp_ch")
    val batchCh = graft.ext.CorpusOps.chunkTokens(
      spark.read.parquet(src), "doc_id", "text", 20, 5)
    assert(spark.read.parquet(chT).except(batchCh).isEmpty &&
      batchCh.except(spark.read.parquet(chT)).isEmpty)
    // gopher quality filter: per-row rule chain — same parity law
    val gT = s"$dir/gopher"
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, ref),
      df => graft.ext.TextAnalysis.gopherFilter(df, minWords = 10)
        .select("doc_id", "gopher_keep", "gopher_reason"),
      gT, s"$dir/ckp_g")
    val batchG = graft.ext.TextAnalysis.gopherFilter(
      spark.read.parquet(src), minWords = 10)
      .select("doc_id", "gopher_keep", "gopher_reason")
    assert(spark.read.parquet(gT).except(batchG).isEmpty &&
      batchG.except(spark.read.parquet(gT)).isEmpty)
  }

  test("streaming near-dup flags arrivals against a static signature index") {
    import graft.ext.TextDedup
    val dir = tempDir("graft_ndstream")
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "some other totally unrelated reference document here")
    ).toDF("doc_id", "text")
    val oldSh = TextDedup.shingleTable(old, "doc_id", "text", 3)
    val oldBk = TextDedup.bucketTable(oldSh)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(
      (10L, "the quick brown fox jumps over the lazy dog today", ts("2024-01-01 00:00:01")),
      (11L, "fresh new content with no match in the index at all", ts("2024-01-01 00:00:02"))
    ).toDF("doc_id", "text", "ts").write.parquet(s"$dir/docs.parquet")
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, DatasetRef("parquet", dir, "docs")),
      df => StreamRunner.nearDupStream(df, oldSh, oldBk, "doc_id", "text", "ts"),
      s"$dir/out", s"$dir/ckp")
    val out = spark.read.parquet(s"$dir/out").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 1L)))
    assert(out.head.getDouble(2) == 1.0) // identical text → jaccard 1
  }

  test("law: streaming near-dup vs static index ≡ batch incrementMatches at sf0.01") {
    import graft.ext.TextDedup
    val dir = tempDir("graft_ndlaw")
    val docs = sf("documents")
    val old = docs.filter($"doc_id" < 400)
    // batch = the sf0.01 tail + one guaranteed index near-dup (doc 0's
    // text under a fresh id) so the law can never pass vacuously
    val batch = docs.filter($"doc_id" >= 400).unionByName(
      docs.filter($"doc_id" === 0).withColumn("doc_id", lit(99999L)))
    val oldSh = TextDedup.shingleTable(old, "doc_id", "text", 3)
    val oldBk = TextDedup.bucketTable(oldSh)
    // batch twin, restricted to index matches: old ids sort below new
    // ones, and incrementMatches reports the SMALLEST matching seen id,
    // so "matches the index at all" ⟺ dup_of < 400
    val batchIds = TextDedup.incrementMatches(batch, oldSh, oldBk,
      "doc_id", "text").filter($"dup_of" < 400)
      .select("id").as[Long].collect().toSet
    batch.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.parquet(s"$dir/docs.parquet")
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, DatasetRef("parquet", dir, "docs")),
      df => StreamRunner.nearDupStream(df, oldSh, oldBk, "doc_id", "text", "ts"),
      s"$dir/out", s"$dir/ckp")
    val out = spark.read.parquet(s"$dir/out")
    val streamIds = out.select("id").as[Long].collect().toSet
    assert(streamIds == batchIds, // the law: same flagged-id set
      s"stream-only=${(streamIds -- batchIds).take(5)} batch-only=${(batchIds -- streamIds).take(5)}")
    assert(streamIds.contains(99999L) && streamIds.nonEmpty)
    // every streamed match is exact-verified at the threshold
    assert(out.agg(min("jaccard")).as[Double].head() >= 0.8)
  }

  test("law: streaming winnow overlap vs fingerprint index ≡ batch matcher at sf0.01") {
    import graft.ext.TextDedup
    val dir = tempDir("graft_wnlaw")
    val docs = sf("documents")
    val old = docs.filter($"doc_id" < 400)
    // stream = the tail + one guaranteed overlap (doc 0's text under a
    // fresh id) so the law can never pass vacuously
    val batch = docs.filter($"doc_id" >= 400).unionByName(
      docs.filter($"doc_id" === 0).withColumn("doc_id", lit(99999L)))
    val idxFps = TextDedup.winnowFingerprints(old, "doc_id", "text", k = 8, w = 10)
      .localCheckpoint(true)
    val want = TextDedup.winnowIncrementMatches(batch, idxFps,
      "doc_id", "text", k = 8, w = 10, minShared = 2, maxDf = 50)
      .select("id", "dup_of", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    batch.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.parquet(s"$dir/docs.parquet")
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, DatasetRef("parquet", dir, "docs")),
      df => StreamRunner.winnowDupStream(df, idxFps, "doc_id", "text", "ts",
        k = 8, w = 10, minShared = 2, maxDf = 50),
      s"$dir/out", s"$dir/ckp")
    val got = spark.read.parquet(s"$dir/out")
      .select("id", "dup_of", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, // the law: identical (id, dup_of, n_shared) set
      s"stream-only=${(got -- want).take(5)} batch-only=${(want -- got).take(5)}")
    assert(got.exists(_._1 == 99999L) && got.nonEmpty)
  }

  test("streaming exact dedup drops duplicate keys within the watermark") {
    val dir = tempDir("graft_dstream")
    val src = s"$dir/ev.parquet"; val tgt = s"$dir/dedup"; val ckp = s"$dir/ckp3"
    // duplicate every event id: the stream must emit each id once
    val base = sf("events").limit(100).select($"event_id", $"ts", $"value")
    base.unionByName(base).write.parquet(src)
    val ref = DatasetRef("parquet", dir, "ev")
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, ref),
      df => StreamRunner.dedupStream(df, Seq("event_id")), tgt, ckp)
    val out = spark.read.parquet(tgt)
    assert(out.count() == out.select("event_id").distinct().count())
    assert(out.count() == 100)
  }

  test("law: batch sessionize ≡ session_window minus each user's open session") {
    import graft.ext.EventWindows
    // second-truncated timestamps so both paths see identical instants
    // (sessionize keys state on epoch seconds; session_window on the
    // exact timestamp — sub-second parts would misalign gap boundaries)
    val ev = sf("events").limit(2000)
      .select($"user_id", date_trunc("second", $"ts").as("ts"), $"value")
    // batch flatMapGroupsWithState: every group processed once, no
    // timeouts fire → exactly the CLOSED sessions emit (each user's
    // final session stays in state) — that is the documented contract
    val streamed = StreamRunner.sessionize(spark, ev)
      .select($"userId", $"start", $"n")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    // window twin: all sessions, then drop each user's LAST (the open
    // one sessionize holds back)
    val all = EventWindows.sessions(ev, "30 minutes")
      .select($"user_id", $"session_start", $"n")
      .as[(Long, java.sql.Timestamp, Long)].collect()
    val closed = all.groupBy(_._1).toSeq.flatMap { case (_, ss) =>
      ss.sortBy(_._2.getTime).dropRight(1).toSeq
    }.toSet
    assert(streamed == closed,
      s"stream-only=${(streamed -- closed).take(3)} window-only=${(closed -- streamed).take(3)}")
    assert(streamed.nonEmpty) // non-vacuous at this slice
  }

  test("law: batch funnelStream ≡ EventWindows.funnel stage counts") {
    val ev = sf("events").limit(3000)
      .select($"user_id", $"event_type", $"ts")
    val steps = Seq("view", "click", "purchase")
    val reached = StreamRunner.funnelStream(spark, ev, steps)
      .select($"reached").as[Long].collect()
    val streamed = (1 to steps.size).map(k =>
      reached.count(_ >= k).toLong)
    val b = graft.ext.EventWindows.funnel(ev, steps).head()
    val batch = (0 until steps.size).map(b.getLong)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(batch.head > 0) // non-vacuous at this slice
  }

  test("funnelStream: order respected, state advances one stage at a time") {
    val ev = Seq(
      (1L, "view", "2024-01-01 00:00:01"), (1L, "click", "2024-01-01 00:00:02"),
      (1L, "purchase", "2024-01-01 00:00:03"),
      (2L, "click", "2024-01-01 00:00:01"), (2L, "view", "2024-01-01 00:00:02"),
      (3L, "purchase", "2024-01-01 00:00:01")
    ).map { case (u, e, t) => (u, e, java.sql.Timestamp.valueOf(t)) }
      .toDF("user_id", "event_type", "ts")
    val out = StreamRunner.funnelStream(spark, ev,
        Seq("view", "click", "purchase"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("sessionize (flatMapGroupsWithState) emits closed sessions") {
    val ev = Seq(
      (7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (7L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
      (7L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 5.0)
    ).toDF("user_id", "ts", "value")
    val out = StreamRunner.sessionize(spark, ev)
    // batch execution: the first (closed) session is emitted; the still
    // -open one stays in state
    val rows = out.select("userId", "n", "sumValue").as[(Long, Long, Double)].collect()
    assert(rows.toSeq == Seq((7L, 2L, 3.0)))
  }

  test("timestamp flavors: NTZ event time works through watermark, dedup, funnel, sessionize") {
    // Two-flavor fixture for the streaming/state surface: NTZ parquet
    // (what Spark 3.4+/4.x and arrow writers produce) must flow through
    // withWatermark (which rejects raw NTZ), dropDuplicatesWithinWatermark,
    // and the epoch-keyed mapGroupsWithState paths.
    import org.apache.spark.sql.types.TimestampNTZType
    val dir = tempDir("graft_ntz")
    val base = sf("events").limit(100).select($"event_id", $"user_id",
      $"event_type", $"ts", $"value")
    val ntz = base.withColumn("ts", $"ts".cast(TimestampNTZType))
    val tz = base.withColumn("ts", $"ts".cast("timestamp"))
    ntz.unionByName(ntz).write.parquet(s"$dir/ev.parquet")
    assert(spark.read.parquet(s"$dir/ev.parquet").schema("ts").dataType ==
      TimestampNTZType) // the fixture really is NTZ on disk
    // watermarked dedup over the duplicated NTZ stream → each id once
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, DatasetRef("parquet", dir, "ev")),
      df => StreamRunner.dedupStream(df, Seq("event_id")),
      s"$dir/dedup", s"$dir/ckp_d")
    assert(spark.read.parquet(s"$dir/dedup").count() == 100)
    // watermarked windowed counts run on the NTZ stream
    StreamRunner.runAvailableNow(spark,
      StreamRunner.readStream(spark, DatasetRef("parquet", dir, "ev")),
      df => StreamRunner.windowedCounts(df, "10 minutes", "30 minutes"),
      s"$dir/win", s"$dir/ckp_w")
    assert(spark.read.parquet(s"$dir/win").agg(sum("n")).as[Long].head() > 0L)
    // stateful twins agree across flavors (UTC session: same instants)
    val steps = Seq("view", "click", "purchase")
    def fun(df: org.apache.spark.sql.DataFrame) =
      StreamRunner.funnelStream(spark, df, steps)
        .as[(Long, Long)].collect().toMap
    assert(fun(ntz) == fun(tz))
    def sess(df: org.apache.spark.sql.DataFrame) =
      StreamRunner.sessionize(spark, df)
        .select("userId", "n", "sumValue")
        .as[(Long, Long, Double)].collect().toSet
    assert(sess(ntz) == sess(tz))
  }

  test("law: AvailableNow windowed counts ≡ batch over FULL sf0.1 events, both ts flavors") {
    // The continuation/streaming twin law at bench scale: the same
    // watermarked tumbling aggregation, run (a) as an AvailableNow
    // file stream with incremental restarts and (b) as one batch agg,
    // must agree exactly — for BOTH timestamp flavors (events.ts is
    // TIMESTAMP_NTZ on disk since the Aug-2026 regen; LTZ is the
    // classic flavor). A far-future sentinel appended between runs
    // pushes the persisted watermark past every real window so append
    // mode emits them all; a third run with no new data must change
    // nothing (exactly-once over the checkpoint).
    import org.apache.spark.sql.types.TimestampNTZType
    val ev = graft.sources.Resolver.readParquet(
        spark, "/root/testdata/sf0.1/events.parquet")
      .select($"event_id", $"user_id", $"event_type", $"ts", $"value")
    val dir = tempDir("graft_par_sf01")
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, BigDecimal)] =
      df.select($"window_start".cast("long"), $"event_type", $"n", $"sum_value")
        .as[(Long, String, Long, Double)].collect()
        .map { case (w, t, n, s) =>
          (w, t, n, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP)) }
        .toSet
    // batch twin (flavor-free: TimeKeys anchors the same instants)
    val expected = canon(graft.functions.TimeKeys.withTzTimestamp(ev, "ts")
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type", $"n", $"sum_value"))
    assert(expected.nonEmpty)
    for ((flavor, cast) <- Seq(
      ("ntz", (c: org.apache.spark.sql.Column) => c.cast(TimestampNTZType)),
      ("ltz", (c: org.apache.spark.sql.Column) => c.cast("timestamp")))) {
      val src = s"$dir/ev_$flavor.parquet"
      val tgt = s"$dir/tgt_$flavor"; val ckp = s"$dir/ckp_$flavor"
      val flavored = ev.withColumn("ts", cast($"ts"))
      flavored.write.parquet(src)
      def run(): Unit = StreamRunner.runAvailableNow(spark,
        StreamRunner.readStream(spark, DatasetRef("parquet", dir, s"ev_$flavor")),
        df => StreamRunner.windowedCounts(df), tgt, ckp)
      run()
      val sentinel = Seq((-1L, -1L, "view", "2100-01-01 00:00:00", 0.0))
        .toDF("event_id", "user_id", "event_type", "ts_s", "value")
        .withColumn("ts", cast($"ts_s")).drop("ts_s")
        .select(flavored.columns.map(col).toIndexedSeq: _*)
      sentinel.write.mode("append").parquet(src)
      run()
      val afterSentinel = spark.read.parquet(tgt).count()
      run() // no new data → nothing reprocessed
      assert(spark.read.parquet(tgt).count() == afterSentinel,
        s"$flavor: a no-data restart must be a no-op")
      val got = canon(spark.read.parquet(tgt)
        .filter(year($"window_start") < 2099))
      assert(got == expected, s"$flavor: stream/batch divergence " +
        s"(${got.size} vs ${expected.size} windows)")
    }
  }

  test("streaming lm scoring against a static trained model ≡ batch") {
    val dir = tempDir("graft_lmstream")
    val src = s"$dir/docs.parquet"
    sf("documents").limit(30).write.parquet(src)
    val batchDocs = spark.read.parquet(src)
    val model = graft.ext.TextAnalysis.lmModel(batchDocs, minCount = 2L)
    // stream-static token join + one complete-mode doc aggregation
    val stream = StreamRunner.readStream(spark, DatasetRef("parquet", dir, "docs"))
    val q = graft.ext.TextAnalysis.lmScoreWith(model, stream)
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("lm_stream")
    val want = graft.ext.TextAnalysis.lmScoreWith(model, batchDocs)
      .filter($"n_toks" > 0) // zero-token docs absent on streams (documented)
    assert(got.count() == want.count() &&
      got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("streaming cluster assignment against static trained centroids ≡ batch") {
    val dir = tempDir("graft_clstream")
    val src = s"$dir/emb.parquet"
    sf("embeddings").limit(200).write.parquet(src)
    val batch = spark.read.parquet(src)
    // centroids train on the batch (k×d driver state); arrivals then
    // label against them with the pure-map argmax + one stream-static
    // broadcast join — the production shape for clustering a feed
    val cents = graft.ext.IvfIndex.train(spark, batch, k = 8, iters = 2)
    val stream = StreamRunner.readStream(spark, DatasetRef("parquet", dir, "emb"))
    val q = graft.ext.Clustering.assignWith(stream, cents)
      .select("vec_id", "centroid_id", "centroid_sim")
      .writeStream.format("memory").queryName("cl_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("cl_stream")
    val want = graft.ext.Clustering.assignWith(batch, cents)
      .select("vec_id", "centroid_id", "centroid_sim")
    assert(got.count() == want.count() &&
      got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("streaming rollup maintenance: AvailableNow ≡ batch; replayed batch is a no-op") {
    import graft.ext.RollupOps
    val dir = tempDir("graft_rollstream")
    val src = s"$dir/ev.parquet"; val state = s"$dir/state.parquet"
    val ckp = s"$dir/ckp"
    val ev = sf("events").select("event_type", "value", "user_id").limit(2000)
    ev.repartition(4).write.parquet(src) // ≥ 4 files → ≥ 4 micro-batches
    val keys = Seq("event_type")
    val aggs = RollupOps.parse(Seq("count", "sum:value", "max:user_id"))
    val schema = spark.read.parquet(src).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    StreamRunner.rollupStream(spark, stream(), state, keys, aggs, ckp)
    def rounded(df: org.apache.spark.sql.DataFrame) =
      rows(df.orderBy("event_type")).map(_.map {
        case d: Double => math.rint(d * 1e6) / 1e6
        case v => v
      })
    val got = rounded(RollupOps.finish(
      graft.sources.Resolver.readParquet(spark, state).drop("__batch_id"),
      keys, aggs))
    val want = rounded(RollupOps.finish(
      RollupOps.summarize(spark.read.parquet(src), keys, aggs), keys, aggs))
    assert(got == want, "streamed state must finish to the batch rollup")
    // the state is a snapshot target: committed versions exist and the
    // restart (same checkpoint, nothing new) must commit NOTHING
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = graft.operators.Snapshot.committed(
      fs, new org.apache.hadoop.fs.Path(state)).map(_._1)
    assert(vs.nonEmpty)
    StreamRunner.rollupStream(spark, stream(), state, keys, aggs, ckp)
    val vs2 = graft.operators.Snapshot.committed(
      fs, new org.apache.hadoop.fs.Path(state)).map(_._1)
    assert(vs2 == vs, "restart with no new data must not commit a version")
    // idempotence guard directly: re-running batch id 0 must be skipped
    // (its id ≤ the recorded __batch_id)
    val bid = graft.sources.Resolver.readParquet(spark, state)
      .agg(max("__batch_id")).as[Long].head()
    assert(bid >= 1L, "multiple micro-batches expected")
  }

  test("--stream --rollup maintains the state table end-to-end via the CLI") {
    import graft.ext.RollupOps
    val dir = tempDir("graft_rollcli")
    sf("events").select("event_type", "value", "user_id").limit(1500)
      .coalesce(2).write.parquet(s"$dir/ev.parquet")
    val (job, opts) = graft.cli.Main.parse(Array(
      "-s", s"parquet/$dir/ev", "-t", s"parquet/$dir/state",
      "--stream", "--rollup", "event_type;count;sum:value", "-y"))
    graft.cli.Main.execute(spark, job, opts)
    val keys = Seq("event_type")
    val aggs = RollupOps.parse(Seq("count", "sum:value"))
    def rounded(df: org.apache.spark.sql.DataFrame) =
      rows(df.orderBy("event_type")).map(_.map {
        case d: Double => math.rint(d * 1e6) / 1e6
        case v => v
      })
    val got = rounded(RollupOps.finish(
      graft.sources.Resolver.readParquet(spark, s"$dir/state.parquet")
        .drop("__batch_id", "__run_id"), keys, aggs))
    val want = rounded(RollupOps.finish(RollupOps.summarize(
      spark.read.parquet(s"$dir/ev.parquet"), keys, aggs), keys, aggs))
    assert(got == want, "CLI-maintained state must finish to the batch rollup")
    // filters compose: a fresh state under a source filter
    val (job2, opts2) = graft.cli.Main.parse(Array(
      "-s", s"parquet/$dir/ev", "-q", "event_type=click",
      "-t", s"parquet/$dir/state2",
      "--stream", "--rollup", "event_type;count", "-y"))
    graft.cli.Main.execute(spark, job2, opts2)
    val n = graft.sources.Resolver.readParquet(spark, s"$dir/state2.parquet")
      .agg(sum("__n")).as[Long].head()
    assert(n == spark.read.parquet(s"$dir/ev.parquet")
      .filter($"event_type" === "click").count())
  }

  test("streaming rollup: zero-row pre-existing state does not wedge the run") {
    import graft.ext.RollupOps
    val dir = tempDir("graft_rollempty")
    val src = s"$dir/ev.parquet"; val state = s"$dir/state.parquet"
    val ev = sf("events").select("event_type", "value", "user_id").limit(500)
    ev.coalesce(1).write.parquet(src)
    val keys = Seq("event_type")
    val aggs = RollupOps.parse(Seq("count", "sum:value"))
    // a zero-row state table (what an empty first micro-batch leaves
    // behind): max(__batch_id) is NULL — must read as "nothing
    // applied", not NPE
    graft.operators.WriteOps.atomicOverwrite(spark,
      RollupOps.summarize(spark.read.parquet(src), keys, aggs)
        .withColumn("__batch_id", lit(0L)).limit(0),
      state, indexBy = keys, commitMode = "snapshot")
    val schema = spark.read.parquet(src).schema
    StreamRunner.rollupStream(spark,
      spark.readStream.schema(schema).parquet(src), state, keys, aggs,
      s"$dir/ckp")
    val got = rows(RollupOps.finish(
      graft.sources.Resolver.readParquet(spark, state)
        .drop("__batch_id", "__run_id"), keys, aggs).orderBy("event_type"))
    val want = rows(RollupOps.finish(
      RollupOps.summarize(spark.read.parquet(src), keys, aggs), keys, aggs)
      .orderBy("event_type"))
    assert(got == want)
  }

  test("streaming rollup: recreated checkpoint (new query id) re-applies, not silently drops") {
    import graft.ext.RollupOps
    val dir = tempDir("graft_rollckp")
    val src = s"$dir/ev.parquet"; val state = s"$dir/state.parquet"
    val ev = sf("events").select("event_type", "value", "user_id").limit(500)
    ev.coalesce(1).write.parquet(src)
    val keys = Seq("event_type")
    val aggs = RollupOps.parse(Seq("count"))
    val schema = spark.read.parquet(src).schema
    def run(ckp: String) = StreamRunner.rollupStream(spark,
      spark.readStream.schema(schema).parquet(src), state, keys, aggs, ckp)
    run(s"$dir/ckp_a")
    val n1 = graft.sources.Resolver.readParquet(spark, state)
      .agg(sum("__n")).as[Long].head()
    // a FRESH checkpoint replays batch id 0 under a new query id: the
    // idempotence key is (query id, batch id), so the batch APPLIES
    // (Delta txn-appId semantics) instead of being silently dropped
    // because 0 <= the recorded id
    run(s"$dir/ckp_b")
    val n2 = graft.sources.Resolver.readParquet(spark, state)
      .agg(sum("__n")).as[Long].head()
    assert(n2 == 2 * n1, s"fresh checkpoint must re-apply: $n1 -> $n2")
  }
}
