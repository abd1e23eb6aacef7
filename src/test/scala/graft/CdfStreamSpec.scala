package graft

import graft.operators.{PrunedMerge, Snapshot, WriteOps}
import graft.spec.{DatasetRef, TargetSpec, WriteOp}
import graft.streaming.CdfStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming CDF consumer laws: the checkpointed incremental stream
  * must equal the batch changelog across every commit class (merge,
  * DV delete, predicate delete, ADD-COLUMN widening), resume from its
  * cursor across restarts, bound its micro-batches, stay loud when
  * the cursor falls behind vacuum retention, and close the loop into
  * a downstream rollup maintained from change rows alone.
  */
class CdfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  private def seedTable(p: String): Unit =
    WriteOps.atomicOverwrite(spark,
      (0L until 50L).map(i => (i, s"v$i", (i % 5).toInt)).toDF("id", "txt", "grp"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 10)

  private def upsert(p: String, dir: String, ids: Seq[Long], tag: String): Unit = {
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 10)
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      ids.map(i => (i, s"$tag$i", 9)).toDF("id", "txt", "grp"), t, p).isDefined)
  }

  test("stream == batch changelog across merge/DV/predicate/widening; restart resumes from cursor") {
    val dir = tempDir("cdf_law")
    val p = s"$dir/t.parquet"
    val ckpt = s"$dir/ckpt"
    seedTable(p)                                             // v1
    Snapshot.deleteByKeys(spark, p, Seq(3L, 4L).toDF("id"),
      keepVersions = 10)                                     // v2 (DV)
    upsert(p, dir, Seq(0L, 1L, 4L), "A")                     // v3 (merge, 4 re-asserted)
    // an increment carries the schema AS OF its commits — a pre-widening
    // increment is narrower than the final schema (the consumer saw the
    // table's truth at that time). Collect as name→value maps so the
    // law comparison can null-pad to the final shape.
    val got = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Int = CdfStream.runAvailableNow(spark, p, Seq("id"), ckpt,
      startingVersion = Some(1L)) { (inc, from, to) =>
      val cols = inc.columns.toIndexedSeq
      got ++= inc.collect().map(r =>
        cols.zipWithIndex.map { case (c, i) =>
          c -> String.valueOf(r.get(i)) }.toMap)
      seen += ((from, to))
    }
    assert(drain() == 1 && seen == Seq((1L, 3L)))
    // widening ADD COLUMN commit (REPLACE is a legal history step)    v4
    val widened = graft.sources.Resolver.readParquet(spark, p)
      .withColumn("extra", col("id") * 2)
    WriteOps.atomicOverwrite(spark, widened, p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 10)
    Snapshot.deleteByPredicate(spark, p, "grp = 2", keepVersions = 10) // v5
    // RESTART: a fresh run resumes from the durable cursor — only v4/v5
    assert(drain() == 1 && seen.last == (3L, 5L))
    val afterResume = got.size
    // nothing re-emitted, and the stream is DRAINED (third run: 0 batches)
    assert(drain() == 0 && got.size == afterResume)
    // LAW: the union of all streamed increments == the batch changelog
    // (streamed rows null-padded to the final widened schema, exactly
    // what a from-v1 reader under the evolved schema sees)
    val batchDf = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
    val batch = canon(batchDf)
    val finalCols = batchDf.columns.sorted.toIndexedSeq
    val streamed = got
      .map(m => finalCols.map(c => m.getOrElse(c, "null")).mkString("|"))
      .sorted.toSeq
    assert(streamed == batch,
      s"stream (${streamed.size} rows) must equal batch changelog (${batch.size})")
  }

  test("maxVersionsPerBatch bounds each micro-batch; cursor is durable after each") {
    val dir = tempDir("cdf_rate")
    val p = s"$dir/t.parquet"
    val ckpt = s"$dir/ckpt"
    seedTable(p)
    for (b <- 1 to 3)
      Snapshot.deleteByKeys(spark, p, Seq(b.toLong).toDF("id"), keepVersions = 10)
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val n = CdfStream.runAvailableNow(spark, p, Seq("id"), ckpt,
      startingVersion = Some(1L), maxVersionsPerBatch = 1) { (inc, from, to) =>
      spans += ((from, to))
      // each increment carries exactly its own commit's rows
      assert(inc.select("_commit_version").distinct()
        .as[Long].collect().toSeq == Seq(to))
    }
    assert(n == 3 && spans == Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(CdfStream.cursor(fs, new Path(ckpt)).contains(4L))
  }

  test("a cursor that fell behind vacuum retention errors LOUDLY") {
    val dir = tempDir("cdf_vac")
    val p = s"$dir/t.parquet"
    val ckpt = s"$dir/ckpt"
    seedTable(p)
    Snapshot.deleteByKeys(spark, p, Seq(1L).toDF("id"), keepVersions = 10)
    // establish the cursor at v1, then let vacuum outrun it
    CdfStream.runAvailableNow(spark, p, Seq("id"), ckpt,
      startingVersion = Some(1L)) { (_, _, _) => () }
    for (b <- 10 to 14)
      Snapshot.deleteByKeys(spark, p, Seq(b.toLong).toDF("id"), keepVersions = 10)
    Snapshot.vacuumLocked(fs, new Path(p), 2)
    val e = intercept[IllegalArgumentException] {
      CdfStream.runAvailableNow(spark, p, Seq("id"), ckpt) { (_, _, _) => () }
    }
    assert(e.getMessage.contains("fallen behind"),
      s"want the changelog retention error, got: ${e.getMessage}")
  }

  test("cdfToRollup: downstream sum/count state from change rows alone equals recompute") {
    val dir = tempDir("cdf_roll")
    val p = s"$dir/t.parquet"
    seedTable(p)                                              // v1
    // maintain per-grp count + sum(id) from CDC increments only
    def drain(): Int = CdfStream.cdfToRollup(spark, p, Seq("id"),
      keys = Seq("grp"), sumCols = Seq("id"),
      statePath = s"$dir/state.parquet", checkpointDir = s"$dir/ckpt",
      startingVersion = Some(1L))
    Snapshot.deleteByKeys(spark, p, Seq(0L, 5L, 10L).toDF("id"),
      keepVersions = 10)                                      // v2
    upsert(p, dir, Seq(0L, 7L), "B")                          // v3: 0 back (grp 9), 7 moves to grp 9
    assert(drain() == 1)
    Snapshot.deleteByPredicate(spark, p, "grp = 3", keepVersions = 10) // v4
    assert(drain() == 1)
    // the state must equal the rollup recomputed from the head table,
    // RELATIVE to the v1 baseline it started from (startingVersion=1
    // means the stream saw only changes after v1, so add v1's rollup)
    val v1 = graft.sources.Resolver.readParquet(spark, p, Some(1L))
    val head = graft.sources.Resolver.readParquet(spark, p)
    val expect = head.groupBy("grp")
      .agg(count(lit(1)).as("h_cnt"), sum("id").as("h_sum"))
      .join(v1.groupBy("grp")
        .agg(count(lit(1)).as("b_cnt"), sum("id").as("b_sum")), Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("h_cnt"), lit(0L)) - coalesce(col("b_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("h_sum"), lit(0L)) - coalesce(col("b_sum"), lit(0L))).as("sum_id"))
      .filter(col("cnt") =!= 0L)
    val state = graft.sources.Resolver.readParquet(spark, s"$dir/state.parquet")
      .drop("__cdf_version")
    assert(canon(state) == canon(expect),
      "CDC-maintained rollup must equal the recomputed delta")
  }

  test("cdfToRollup: crash after state write + new commits before restart must not double-count") {
    // The r12 ADVICE crash window: the process dies AFTER the state
    // write but BEFORE the cursor commit, and NEW table commits land
    // before restart. The replayed increment then spans
    // (staleFrom, newHead] with newHead > appliedVersion — an
    // all-or-nothing final-version guard evaluates false and silently
    // re-applies the already-applied prefix. The fix (cursor
    // fast-forward to the state's __cdf_version + per-commit filter)
    // must keep the state exactly equal to the recompute.
    val dir = tempDir("cdf_crash")
    val p = s"$dir/t.parquet"
    val ckpt = s"$dir/ckpt"
    seedTable(p)                                              // v1
    def drain(): Int = CdfStream.cdfToRollup(spark, p, Seq("id"),
      keys = Seq("grp"), sumCols = Seq("id"),
      statePath = s"$dir/state.parquet", checkpointDir = s"$dir/ckpt",
      startingVersion = Some(1L))
    Snapshot.deleteByKeys(spark, p, Seq(0L, 5L, 10L).toDF("id"),
      keepVersions = 10)                                      // v2
    assert(drain() == 1)                                      // state @ v2
    // simulate the crash: roll the DURABLE cursor back to the seed
    // (state stays at v2 — exactly "state written, cursor not")
    val cf = fs.listStatus(new Path(ckpt)).map(_.getPath)
      .filter(_.getName.startsWith("cursor-")).sortBy(_.getName)
    cf.drop(1).foreach(f => fs.delete(f, false))
    assert(CdfStream.cursor(fs, new Path(ckpt)).contains(1L))
    // new commits land BEFORE the restart
    Snapshot.deleteByKeys(spark, p, Seq(20L, 21L).toDF("id"),
      keepVersions = 10)                                      // v3
    assert(drain() >= 1)                                      // restart
    val v1 = graft.sources.Resolver.readParquet(spark, p, Some(1L))
    val head = graft.sources.Resolver.readParquet(spark, p)
    val expect = head.groupBy("grp")
      .agg(count(lit(1)).as("h_cnt"), sum("id").as("h_sum"))
      .join(v1.groupBy("grp")
        .agg(count(lit(1)).as("b_cnt"), sum("id").as("b_sum")), Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("h_cnt"), lit(0L)) - coalesce(col("b_cnt"), lit(0L))).as("cnt"),
        (coalesce(col("h_sum"), lit(0L)) - coalesce(col("b_sum"), lit(0L))).as("sum_id"))
      .filter(col("cnt") =!= 0L)
    val state = graft.sources.Resolver.readParquet(spark, s"$dir/state.parquet")
      .drop("__cdf_version")
    assert(canon(state) == canon(expect),
      "replay across the crash window must not double-count")
    // and the drained stream stays drained
    assert(drain() == 0)
  }

  test("spanning drain: one net (from, head] batch equals the per-commit union") {
    val dir = tempDir("cdf_span")
    val p = s"$dir/t.parquet"
    seedTable(p)                                              // v1
    Snapshot.deleteByKeys(spark, p, Seq(3L).toDF("id"), keepVersions = 10) // v2
    upsert(p, dir, Seq(3L, 6L), "S")                          // v3: 3 back, 6 revised
    Snapshot.upsertAppend(spark, p, Seq((99L, "new", 1)).toDF("id", "txt", "grp"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 10)      // v4
    Snapshot.deleteByKeys(spark, p, Seq(99L).toDF("id"), keepVersions = 10) // v5
    var batches = 0
    var got: Seq[String] = Nil
    CdfStream.runAvailableNow(spark, p, Seq("id"), s"$dir/ck1",
      startingVersion = Some(1L), spanningBatches = true) { (inc, _, _) =>
      batches += 1; got = canon(inc.drop("_commit_version"))
    }
    assert(batches == 1, "a spanning drain is ONE batch for the whole backlog")
    // the net span diff == the direct v1→v5 changelog; churn (99
    // inserted then deleted within the span) telescopes away
    val direct = canon(Snapshot.changelog(spark, p, 1L, 5L, Seq("id"))
      .drop("_commit_version"))
    assert(got == direct)
    assert(!got.exists(_.contains("99")), "within-span churn must telescope away")
  }

  test("spanning composition law: bounded spanning ≡ unbounded spanning ≡ consecutive for a stateless consumer") {
    // A STATELESS (latest-state) consumer folds increments by pk:
    // insert/update_postimage asserts the image, delete retracts,
    // preimages are ignored. The law: however the backlog is batched —
    // one per-commit diff each (consecutive), one spanning diff per
    // bounded batch, or ONE spanning diff for everything — the folded
    // final state is identical, because each (from, to] span diff IS
    // the net change of the span and folding is associative over
    // adjacent spans. This is what licenses draining a 1,000-commit
    // backlog as ceil(1000/bound) jobs instead of 1,000.
    val dir = tempDir("cdf_complaw")
    val p = s"$dir/t.parquet"
    seedTable(p)                                              // v1
    Snapshot.deleteByKeys(spark, p, Seq(3L, 7L).toDF("id"), keepVersions = 20) // v2
    upsert(p, dir, Seq(3L, 11L), "A")                         // v3: 3 back
    Snapshot.upsertAppend(spark, p, Seq((99L, "n", 1)).toDF("id", "txt", "grp"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 20)      // v4
    Snapshot.deleteByKeys(spark, p, Seq(99L, 11L).toDF("id"), keepVersions = 20) // v5
    upsert(p, dir, Seq(0L, 99L), "B")                         // v6: 99 back
    Snapshot.deleteByPredicate(spark, p, "grp = 4", keepVersions = 20) // v7
    def fold(spanning: Boolean, bound: Int): (Int, Map[String, String]) = {
      val state = scala.collection.mutable.Map.empty[String, String]
      val n = CdfStream.runAvailableNow(spark, p, Seq("id"),
        s"$dir/ck_${spanning}_$bound", startingVersion = Some(1L),
        maxVersionsPerBatch = bound, spanningBatches = spanning) { (inc, _, _) =>
        // fold in commit order WITHIN the increment (consecutive mode
        // tags rows with their own commit; spanning tags toV)
        inc.orderBy("_commit_version").collect().foreach { r =>
          val id = String.valueOf(r.getAs[Any]("id"))
          r.getAs[String]("_change_type") match {
            case "insert" | "update_postimage" =>
              state(id) = String.valueOf(r.getAs[Any]("txt"))
            case "delete" => state.remove(id); ()
            case _ => ()
          }
        }
      }
      (n, state.toMap)
    }
    val (nCons, consec) = fold(spanning = false, bound = 1)
    val (nSpan, spanned) = fold(spanning = true, bound = 0)
    val (nBnd, bounded) = fold(spanning = true, bound = 2)
    assert(nCons == 6, s"consecutive = one batch per commit, got $nCons")
    assert(nSpan == 1, "unbounded spanning = ONE batch for the backlog")
    assert(nBnd == 3, s"bounded spanning = ceil(6/2) batches, got $nBnd")
    assert(spanned == consec, "spanning must fold to the consecutive state")
    assert(bounded == consec, "bounded spanning must fold to the same state")
    // and the folded state agrees with the head table on every key it holds
    val head = graft.sources.Resolver.readParquet(spark, p)
      .select(col("id").cast("string"), col("txt")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    consec.foreach { case (id, txt) =>
      assert(head.get(id).contains(txt), s"folded $id=$txt vs head ${head.get(id)}")
    }
    assert(consec.keySet.intersect(Set("7")).isEmpty, "deleted keys stay out")
  }

  test("cdfToSignatureIndex: dedup index maintained from change rows equals the bulk rebuild") {
    import graft.ext.TextDedup
    val dir = tempDir("cdf_sigidx")
    val p = s"$dir/docs.parquet"
    val ckpt = s"$dir/ckpt"
    def text(i: Long, tag: String): String =
      (0 until 20).map(j => s"w$tag${i}x$j").mkString(" ")
    // seed: 30 docs; 25/26 planted exact dups (same text)
    val seed = (0L until 30L).map(i =>
      (i, if (i == 26L) text(25L, "s") else text(i, "s"))).toDF("doc_id", "text")
    WriteOps.atomicOverwrite(spark, seed, p, indexBy = Seq("doc_id"),
      maxRecordsPerFile = 8, commitMode = "snapshot", keepVersions = 10)
    def drain(): Int = CdfStream.cdfToSignatureIndex(spark, p,
      "doc_id", "text", s"$dir/idx", ckpt, n = 3, k = 32, bands = 8,
      startingVersion = Some(1L), keepVersions = 8)
    def maintained() = (
      graft.sources.Resolver.readParquet(spark, s"$dir/idx/shingles.parquet"),
      graft.sources.Resolver.readParquet(spark, s"$dir/idx/buckets.parquet"))
    def lawVsBulk(): Unit = {
      val corpus = graft.sources.Resolver.readParquet(spark, p)
      val sh = TextDedup.shingleTable(corpus, "doc_id", "text", 3)
      val bk = TextDedup.bucketTable(sh, 32, 8)
      val (msh, mbk) = maintained()
      // shingle arrays stringified: the row compare is array-blind
      def c1(df: DataFrame) = canon(df.withColumn("sh",
        concat_ws(",", col("sh").cast("array<string>"))))
      assert(c1(msh) == c1(sh), "maintained shingles must equal bulk rebuild")
      assert(canon(mbk) == canon(bk), "maintained buckets must equal bulk rebuild")
    }
    assert(drain() == 0) // bootstrap only: no commits past the seed
    lawVsBulk()
    // corpus mutates: DV-delete 0..4, revise 5..9 (7 becomes too short
    // to ever match — must LEAVE the index), append-insert copies of
    // 10..14 under fresh ids
    Snapshot.deleteByKeys(spark, p, (0L until 5L).toDF("doc_id"),
      keepVersions = 10)
    Snapshot.upsertAppend(spark, p,
      (5L until 10L).map(i =>
        (i, if (i == 7L) "ab" else text(i, "r"))).toDF("doc_id", "text"),
      Seq("doc_id"), indexBy = Seq("doc_id"), keepVersions = 10)
    Snapshot.upsertAppend(spark, p,
      (10L until 15L).map(i => (i + 100L, text(i, "s"))).toDF("doc_id", "text"),
      Seq("doc_id"), indexBy = Seq("doc_id"), keepVersions = 10)
    assert(drain() > 0)
    lawVsBulk()
    val (msh, _) = maintained()
    assert(msh.filter(col("id").isin(0L, 1L, 7L)).isEmpty,
      "deleted and shingle-less docs must leave the index")
    // incrementMatches against the MAINTAINED index ≡ a fresh one: the
    // new batch copies current docs (110 = copy of 10's copy, 25/26 dups)
    val batch = Seq((1000L, text(10L, "s")), (1001L, text(25L, "s")),
      (1002L, text(3L, "zz"))).toDF("doc_id", "text")
    val (s1, b1) = maintained()
    val viaMaintained = TextDedup.incrementMatches(batch, s1, b1,
      "doc_id", "text", n = 3, threshold = 0.8, k = 32, bands = 8)
    val corpus = graft.sources.Resolver.readParquet(spark, p)
    val freshSh = TextDedup.shingleTable(corpus, "doc_id", "text", 3)
    val viaFresh = TextDedup.incrementMatches(batch, freshSh,
      TextDedup.bucketTable(freshSh, 32, 8),
      "doc_id", "text", n = 3, threshold = 0.8, k = 32, bands = 8)
    assert(canon(viaMaintained) == canon(viaFresh),
      "flagging through the maintained index must equal a fresh rebuild")
    assert(rows(viaMaintained.select("id", "dup_of").orderBy("id")) ==
      Seq(Seq(1000L, 10L), Seq(1001L, 25L)),
      "exact copies must flag their smallest seen source; novel text must not")
    // replay idempotence (at-least-once): wipe the cursor and re-drain
    // the whole history — the index converges to the same content
    fs.delete(new Path(ckpt), true)
    assert(drain() > 0)
    lawVsBulk()
    // drained stream: zero batches
    assert(drain() == 0)
  }

  test("cdfToSignatureIndex: ONE commit per table per increment; a crash between tables rolls forward at the next drain") {
    import graft.ext.TextDedup
    val dir = tempDir("cdf_siggrp")
    val p = s"$dir/docs.parquet"
    val ckpt = s"$dir/ckpt"
    def text(i: Long, tag: String): String =
      (0 until 20).map(j => s"w$tag${i}x$j").mkString(" ")
    WriteOps.atomicOverwrite(spark,
      (0L until 20L).map(i => (i, text(i, "s"))).toDF("doc_id", "text"),
      p, indexBy = Seq("doc_id"), maxRecordsPerFile = 8,
      commitMode = "snapshot", keepVersions = 10)
    def drain(): Int = CdfStream.cdfToSignatureIndex(spark, p,
      "doc_id", "text", s"$dir/idx", ckpt, n = 3, k = 32, bands = 8,
      startingVersion = Some(1L), keepVersions = 8)
    def headV(path: String): Long =
      Snapshot.resolveVersion(fs, new Path(path), None)._1
    val (shP, bkP) = (s"$dir/idx/shingles.parquet", s"$dir/idx/buckets.parquet")
    assert(drain() == 0) // bootstrap
    val (sh0, bk0) = (headV(shP), headV(bkP))
    // an increment carrying BOTH removals and assertions lands as ONE
    // commit per index table (was 4 total before commit groups)
    Snapshot.deleteByKeys(spark, p, Seq(0L, 1L).toDF("doc_id"), keepVersions = 10)
    Snapshot.upsertAppend(spark, p,
      Seq((5L, text(5L, "r"))).toDF("doc_id", "text"), Seq("doc_id"),
      indexBy = Seq("doc_id"), keepVersions = 10)
    assert(drain() == 1)
    assert(headV(shP) == sh0 + 1 && headV(bkP) == bk0 + 1,
      "each index table must advance by EXACTLY one commit per increment")
    // crash between the two table commits: shingles advanced, buckets
    // did not, the group intent is durable
    Snapshot.deleteByKeys(spark, p, Seq(2L, 3L).toDF("doc_id"), keepVersions = 10)
    Snapshot.groupCrashAfterParts = 1
    try intercept[IllegalStateException] { drain() }
    finally Snapshot.groupCrashAfterParts = -1
    val behindOk = headV(shP) == sh0 + 2 && headV(bkP) == bk0 + 1 ||
      headV(shP) == sh0 + 1 && headV(bkP) == bk0 + 2
    assert(behindOk, s"exactly one table committed before the crash " +
      s"(sh ${headV(shP) - sh0}, bk ${headV(bkP) - bk0})")
    // next startup recovers the group FIRST, then re-drains the span
    // (the cursor never advanced) — both tables converge to the bulk
    // rebuild of the current corpus
    assert(drain() >= 1)
    val corpus = graft.sources.Resolver.readParquet(spark, p)
    val sh = TextDedup.shingleTable(corpus, "doc_id", "text", 3)
    val bk = TextDedup.bucketTable(sh, 32, 8)
    def c1(df: DataFrame) = canon(df.withColumn("sh",
      concat_ws(",", col("sh").cast("array<string>"))))
    assert(c1(graft.sources.Resolver.readParquet(spark, shP)) == c1(sh),
      "post-recovery shingles must equal the bulk rebuild")
    assert(canon(graft.sources.Resolver.readParquet(spark, bkP)) == canon(bk),
      "post-recovery buckets must equal the bulk rebuild")
    // no pending intent remains
    assert(Snapshot.recoverGroups(spark.sparkContext.hadoopConfiguration,
      s"$dir/idx/_txn") == 0)
    assert(drain() == 0)
  }
}
