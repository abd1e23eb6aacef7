package graft

import graft.operators.{Snapshot, WriteOps}
import graft.operators.Snapshot.{ColEnv, Entry, Manifest, ReadPred}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** READ-TIME manifest-envelope file skipping (r15): a selective read
  * of a snapshot table plans only the members whose recorded per-file
  * key envelopes (or hive partition-dir values) may hold a matching
  * row — zero file I/O in the planner, exact filters above the scan
  * as the correctness gate. The white-box tests steer the planner
  * with FALSIFIED envelopes to prove the file set is
  * metadata-driven; the end-to-end tests prove exactness against the
  * unpruned read across DV tombstones, partitions, the query DSL and
  * the `format("graft")` interop surface. The 6M-row/3000-file price
  * lives in ScaleBench12.
  */
class EnvelopeSkipSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy(df.columns.map(col).toIndexedSeq: _*))

  private val ddl = "id BIGINT, txt STRING"

  private def env(lo: Long, hi: Long, nulls: Boolean = false) =
    Map("id" -> ColEnv(Some(lo), Some(hi), nulls))

  // ── pure planner: the file set follows the ENVELOPE, not the data ──

  test("pruneEntries plans by envelope intersection per conjunct shape") {
    val m = Manifest(ddl, Nil, Nil)
    val es = Seq(
      Entry("a.parquet", 1L, envs = Some(env(0L, 9L))),
      Entry("b.parquet", 1L, envs = Some(env(10L, 19L, nulls = true))),
      Entry("c.parquet", 1L, envs = Some(Map("id" ->
        ColEnv(None, None, hasNulls = true)))),          // known all-null
      Entry("d.parquet", 1L))                            // no envelope
    def plan(p: ReadPred*): Set[String] =
      Snapshot.pruneEntries(spark, m, es, p.toSeq).map(_.rel).toSet
    assert(plan(ReadPred.Cmp("id", "eq", "12")) ==
      Set("b.parquet", "d.parquet"))
    assert(plan(ReadPred.Cmp("id", "gt", "9")) ==
      Set("b.parquet", "d.parquet"))
    assert(plan(ReadPred.Cmp("id", "gte", 9L)) ==
      Set("a.parquet", "b.parquet", "d.parquet"))
    assert(plan(ReadPred.Cmp("id", "lt", 10L)) ==
      Set("a.parquet", "d.parquet"))
    assert(plan(ReadPred.Cmp("id", "lte", "10")) ==
      Set("a.parquet", "b.parquet", "d.parquet"))
    assert(plan(ReadPred.In("id", Seq("5", "15"))) ==
      Set("a.parquet", "b.parquet", "d.parquet"))
    assert(plan(ReadPred.IsNull("id")) ==
      Set("b.parquet", "c.parquet", "d.parquet"))
    assert(plan(ReadPred.NotNull("id")) ==
      Set("a.parquet", "b.parquet", "d.parquet"))
    // conjunction: every conjunct must stay satisfiable
    assert(plan(ReadPred.Cmp("id", "gte", "5"),
      ReadPred.Cmp("id", "lte", "7")) == Set("a.parquet", "d.parquet"))
    // unknown column / unsupported type / unparseable literal → no prune
    assert(plan(ReadPred.Cmp("nope", "eq", "1")).size == 4)
    assert(plan(ReadPred.Cmp("txt", "eq", "x")).size == 4)
    assert(plan(ReadPred.Cmp("id", "eq", "abc")).size == 4)
    // one unconvertible IN member disables the whole conjunct
    assert(plan(ReadPred.In("id", Seq("5", "abc"))).size == 4)
  }

  test("falsified envelopes steer the planned file set (metadata-driven, no data I/O)") {
    val dir = tempDir("eskip_falsified")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val root = new Path(p)
    val (_, vdir) = Snapshot.resolveVersion(fs, root, None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.entries.forall(_.envs.exists(_.contains("id"))),
      "sorted writer must record id envelopes")
    // row 42 lives in exactly one file; FALSIFY that file's envelope
    // to [900, 999] — the planner must now EXCLUDE it on id=42 and
    // INCLUDE it on id=950, although the data never moved
    val victim = m.entries.find(_.envs.exists(_.get("id").exists(ce =>
      ce.min.exists(_ <= 42L) && ce.max.exists(_ >= 42L)))).get
    val falsified = m.copy(entries = m.entries.map(e =>
      if (e.rel == victim.rel)
        e.copy(envs = Some(Map("id" -> ColEnv(Some(900L), Some(999L), false))))
      else e))
    Snapshot.commitVersion(fs, root, falsified, keepVersions = 4)
    Snapshot.clearResolvedCache()
    def files(preds: ReadPred*): Set[String] =
      Snapshot.readAt(spark, p, skipping = preds.toSeq)
        .inputFiles.map(f => new Path(f).getName).toSet
    val all = files()
    assert(all.size == m.entries.size)
    val at42 = files(ReadPred.Cmp("id", "eq", "42"))
    assert(!at42.contains(new Path(victim.rel).getName),
      "the falsified envelope must exclude the victim file at id=42")
    val at950 = files(ReadPred.Cmp("id", "eq", "950"))
    assert(at950 == Set(new Path(victim.rel).getName),
      "id=950 must plan exactly the falsified file")
    // and therefore the filtered read MISSES row 42 — proof the plan
    // came from the manifest envelope, not from opening files
    assert(Snapshot.readAt(spark, p,
        skipping = Seq(ReadPred.Cmp("id", "eq", "42")))
      .filter(col("id") === 42).count() == 0)
  }

  // ── end-to-end exactness + the pruning observable ─────────────────

  test("skipped reads are exact and plan O(matching files); DV tombstones compose") {
    val dir = tempDir("eskip_e2e")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    // DV-delete a band, then upsert-append a revision (adds a batch
    // file + pk tombstone) — the skip plan must compose with both
    Snapshot.deleteByKeys(spark, p, (20L until 30L).toDF("id"),
      keepVersions = 4)
    Snapshot.upsertAppend(spark, p,
      Seq((40L, "rev40"), (777L, "new777")).toDF("id", "txt"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 4)
    val full = graft.sources.Resolver.readParquet(spark, p)
    def skipped(preds: Seq[ReadPred], exact: DataFrame => DataFrame)
        : DataFrame =
      exact(Snapshot.readAt(spark, p, skipping = preds))
    // point read: plans a small file set, result exact
    val pt = Snapshot.readAt(spark, p,
      skipping = Seq(ReadPred.Cmp("id", "eq", "40")))
    assert(pt.inputFiles.length < full.inputFiles.length / 2,
      s"point read must prune (planned ${pt.inputFiles.length} of " +
        s"${full.inputFiles.length})")
    assert(sortedRows(pt.filter(col("id") === 40)) ==
      sortedRows(full.filter(col("id") === 40)))
    assert(rows(pt.filter(col("id") === 40)) == Seq(Seq(40L, "rev40")))
    // range read across the tombstoned band
    val rg = skipped(Seq(ReadPred.Cmp("id", "gte", "15"),
      ReadPred.Cmp("id", "lte", "34")),
      _.filter(col("id") >= 15 && col("id") <= 34))
    assert(sortedRows(rg) ==
      sortedRows(full.filter(col("id") >= 15 && col("id") <= 34)))
    assert(rg.count() == 10L) // 15..34 minus deleted 20..29
    // a deleted key: pruned plan still applies the tombstone
    assert(skipped(Seq(ReadPred.Cmp("id", "eq", "25")),
      _.filter(col("id") === 25)).isEmpty)
    // IN set
    val in = skipped(Seq(ReadPred.In("id", Seq("3", "197", "777"))),
      _.filter(col("id").isin(3, 197, 777)))
    assert(in.count() == 3)
  }

  test("hive partition values prune as point envelopes") {
    val dir = tempDir("eskip_part")
    val p = s"$dir/t.parquet"
    val df = (0L until 90L).map(i => (i, i % 3, s"v$i"))
      .toDF("id", "grp", "txt")
    WriteOps.atomicOverwrite(spark, df, p, partitionBy = Seq("grp"),
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val full = Snapshot.readAt(spark, p)
    val one = Snapshot.readAt(spark, p,
      skipping = Seq(ReadPred.Cmp("grp", "eq", "1")))
    assert(one.inputFiles.forall(_.contains("grp=1")),
      "only the matching partition's members may be planned")
    assert(sortedRows(one.filter(col("grp") === 1)) ==
      sortedRows(full.filter(col("grp") === 1)))
    // composed partition + data-column conjuncts
    val both = Snapshot.readAt(spark, p, skipping = Seq(
      ReadPred.Cmp("grp", "eq", "2"), ReadPred.Cmp("id", "lt", "30")))
    assert(both.inputFiles.length < one.inputFiles.length)
    assert(sortedRows(both.filter(col("grp") === 2 && col("id") < 30)) ==
      sortedRows(full.filter(col("grp") === 2 && col("id") < 30)))
  }

  test("timestamp envelopes prune with Spark's own cast semantics") {
    val dir = tempDir("eskip_ts")
    val p = s"$dir/t.parquet"
    val df = spark.range(0, 96).select(col("id"),
      expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,id,0,0)")
        .as("ts"))
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("ts"),
      maxRecordsPerFile = 8, commitMode = "snapshot", keepVersions = 4)
    val full = Snapshot.readAt(spark, p)
    val day2 = Snapshot.readAt(spark, p, skipping = Seq(
      ReadPred.Cmp("ts", "gte", "2024-01-02 00:00:00"),
      ReadPred.Cmp("ts", "lt", "2024-01-03 00:00:00")))
    assert(day2.inputFiles.length < full.inputFiles.length,
      "timestamp range must prune members")
    val exact = full.filter(col("ts") >= lit("2024-01-02 00:00:00") &&
      col("ts") < lit("2024-01-03 00:00:00"))
    assert(sortedRows(day2.filter(col("ts") >= lit("2024-01-02 00:00:00") &&
      col("ts") < lit("2024-01-03 00:00:00"))) == sortedRows(exact))
    assert(exact.count() == 24)
  }

  // ── surfaces: query DSL and format("graft") ───────────────────────

  test("the query DSL's prunable conjuncts reach the snapshot planner") {
    val dir = tempDir("eskip_dsl")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val ref = graft.spec.DatasetRef.parse(s"parquet/$dir/t")
    val full = graft.sources.Resolver.read(spark, ref)
    // Planner.sourceFrame = the CLI/runner path: skip + exact filter
    val src = graft.spec.SourceSpec(ref,
      query = Seq("id__gte" -> "31", "id__lte" -> "39"))
    val frame = graft.engine.Planner.sourceFrame(spark, src)
    assert(frame.inputFiles.length < full.inputFiles.length / 2,
      s"DSL range must prune (${frame.inputFiles.length} of " +
        s"${full.inputFiles.length})")
    assert(frame.count() == 9)
    // unprunable ops still work (and don't over-prune)
    val ne = graft.engine.Planner.sourceFrame(spark,
      graft.spec.SourceSpec(ref, query = Seq("id__ne" -> "5")))
    assert(ne.count() == 99)
  }

  test("--tq update on a sorted snapshot target rewrites only tq-intersecting files") {
    import graft.spec.{DatasetRef, TargetSpec, WriteOp}
    val dir = tempDir("eskip_tq")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val before = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    // the batch touches EVERY file by key; the --tq restriction is
    // what must prune the rewrite down to the id<30 band
    val batch = (0L until 200L).map(i => (i, s"UPD$i")).toDF("id", "txt")
    val tq = Seq("id__lt" -> "30")
    val target = graft.sources.Resolver.readParquet(spark, p)
    val expected = sortedRows(
      graft.operators.WriteOps.update(target, batch, Seq("id"), tq))
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Update,
      pk = Seq("id"), query = tq, indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 4)
    val st = graft.operators.PrunedMerge.merge(spark, target, batch, t, p)
    assert(st.isDefined, "the tq-restricted update must take the merge path")
    assert(st.get.filesRewritten <= 3 && st.get.filesTotal == 20,
      s"only the tq-intersecting band may be rewritten, got $st")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == expected)
    // untouched members stay byte-identical BY REFERENCE in the new
    // manifest (same rel, same bytes)
    val after = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    val beforeByRel = before.dataEntries.map(e => e.rel -> e.bytes).toMap
    val carried = after.dataEntries.filter(e => beforeByRel.contains(e.rel))
    assert(carried.size >= 17 &&
      carried.forall(e => beforeByRel(e.rel) == e.bytes),
      "tq-disjoint members must carry by reference")
    // r17: an upsert with the same tq ALSO prunes (the excluded
    // files' keys ride pk-only into the insert half's existence
    // domain, so no matched key becomes a phantom insert) — the
    // result stays exact AND the rewrite stays banded
    val target2 = graft.sources.Resolver.readParquet(spark, p)
    val expected2 = sortedRows(graft.operators.WriteOps.upsert(
      target2, batch, Seq("id"), tq))
    val st2 = graft.operators.PrunedMerge.merge(spark, target2, batch,
      t.copy(op = WriteOp.Upsert), p)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == expected2,
      s"upsert with tq must stay exact (stats $st2)")
    assert(st2.exists(_.filesRewritten <= 3),
      s"r17: the tq-restricted upsert must rewrite only the " +
        s"tq-intersecting band, got $st2")
  }

  test("--tq upsert (r17): excluded files carry by reference, their " +
    "LIVE keys veto inserts, DV-dead keys do not") {
    import graft.spec.{DatasetRef, TargetSpec, WriteOp}
    val dir = tempDir("eskip_tqup")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    // a DV-tombstoned key in a tq-EXCLUDED file: its dead row must
    // not veto the batch's re-insert of the same key
    Snapshot.deleteByKeys(spark, p, Seq(150L).toDF("id"), keepVersions = 4)
    val before = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    val batch = (
      (0L until 5L).map(i => (i, s"UPD$i")) ++      // tq band: update
      (100L until 105L).map(i => (i, s"NO$i")) ++   // live outside tq: no-op
      Seq((150L, "BACK150"),                        // DV-dead: re-insert
        (900L, "NEW900"), (901L, "NEW901"))         // fresh: insert
    ).toDF("id", "txt")
    val tq = Seq("id__lt" -> "30")
    val target = graft.sources.Resolver.readParquet(spark, p)
    val expected = sortedRows(
      graft.operators.WriteOps.upsert(target, batch, Seq("id"), tq))
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), query = tq, indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 4)
    val st = graft.operators.PrunedMerge.merge(spark, target, batch, t, p)
    assert(st.isDefined, "the tq-restricted upsert must take the merge path")
    assert(st.get.filesRewritten <= 3,
      s"only the tq band may rewrite; excluded files cost key IO, not " +
        s"row IO — got $st")
    val got = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    assert(got == expected, "pruned upsert must equal the full-frame op")
    // the semantics spelled out: outside-tq keys untouched AND not
    // duplicated; the tombstoned key re-inserted; fresh keys inserted
    val after = graft.sources.Resolver.readParquet(spark, p)
    assert(rows(after.filter(col("id") === 100L)) == Seq(Seq(100L, "v100")))
    assert(after.filter(col("id") === 100L).count() == 1L)
    assert(rows(after.filter(col("id") === 150L)) == Seq(Seq(150L, "BACK150")))
    assert(rows(after.filter(col("id") === 900L)) == Seq(Seq(900L, "NEW900")))
    assert(rows(after.filter(col("id") === 2L)) == Seq(Seq(2L, "UPD2")))
    // excluded members carried by reference (same rel, same bytes)
    val afterM = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    val beforeByRel = before.dataEntries.map(e => e.rel -> e.bytes).toMap
    val carried = afterM.dataEntries.filter(e => beforeByRel.contains(e.rel))
    assert(carried.size >= 17 &&
      carried.forall(e => beforeByRel(e.rel) == e.bytes),
      "tq-excluded members must carry by reference")
  }

  // ── STRING keys (r16): truncated byte bounds ──────────────────────

  private def benv(lo: String, hi: String, nulls: Boolean = false) =
    Map("k" -> ColEnv(None, None, nulls,
      Some(Snapshot.BytesBounds.hex(lo.getBytes("UTF-8"))),
      Some(Snapshot.BytesBounds.hex(hi.getBytes("UTF-8")))))

  test("pruneEntries plans string columns by truncated byte bounds") {
    val m = Manifest("k STRING, id BIGINT", Nil, Nil)
    val es = Seq(
      Entry("a.parquet", 1L, envs = Some(benv("apple", "banana"))),
      Entry("b.parquet", 1L, envs = Some(benv("cherry", "grape", nulls = true))),
      Entry("c.parquet", 1L, envs = Some(Map("k" ->
        ColEnv(None, None, hasNulls = true)))),          // known all-null
      Entry("d.parquet", 1L),                            // no envelope
      // unbounded upper (the all-0xFF shape): bmin only
      Entry("e.parquet", 1L, envs = Some(Map("k" -> ColEnv(None, None, false,
        Some(Snapshot.BytesBounds.hex("zz".getBytes("UTF-8"))), None)))))
    def plan(p: ReadPred*): Set[String] =
      Snapshot.pruneEntries(spark, m, es, p.toSeq).map(_.rel).toSet
    assert(plan(ReadPred.Cmp("k", "eq", "apricot")) ==
      Set("a.parquet", "d.parquet"))
    assert(plan(ReadPred.Cmp("k", "eq", "carrot")) ==
      Set("d.parquet"))
    assert(plan(ReadPred.Cmp("k", "gte", "grape")) ==
      Set("b.parquet", "d.parquet", "e.parquet"))
    // gt uses the byte successor: 'grape'+0x00 exceeds b's exact max
    // — strictly-greater correctly drops the file whose max IS the
    // literal (the long domain's x+1 analog)
    assert(plan(ReadPred.Cmp("k", "gt", "grape")) ==
      Set("d.parquet", "e.parquet"))
    assert(plan(ReadPred.Cmp("k", "gt", "zzz")) ==
      Set("d.parquet", "e.parquet"))
    assert(plan(ReadPred.Cmp("k", "lt", "cherry")) ==
      Set("a.parquet", "d.parquet"))
    assert(plan(ReadPred.Cmp("k", "lte", "cherry")) ==
      Set("a.parquet", "b.parquet", "d.parquet"))
    assert(plan(ReadPred.In("k", Seq("apricot", "fig"))) ==
      Set("a.parquet", "b.parquet", "d.parquet"))
    assert(plan(ReadPred.IsNull("k")) ==
      Set("b.parquet", "c.parquet", "d.parquet"))
    assert(plan(ReadPred.NotNull("k")) ==
      Set("a.parquet", "b.parquet", "d.parquet", "e.parquet"))
    // conjunction across a long and a string column composes
    assert(plan(ReadPred.Cmp("k", "gte", "cherry"),
      ReadPred.Cmp("k", "lte", "fig")) == Set("b.parquet", "d.parquet"))
  }

  test("string falsified envelopes steer the planned file set") {
    val dir = tempDir("eskip_str_falsified")
    val p = s"$dir/t.parquet"
    // hex-digest-shaped keys — the LLM-corpus common case
    val df = (0 until 100).map(i => (f"doc$i%04d", i.toLong))
      .toDF("k", "id")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("k"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 4)
    val root = new Path(p)
    val (_, vdir) = Snapshot.resolveVersion(fs, root, None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.entries.forall(_.envs.exists(_.get("k").exists(e =>
      e.bmin.isDefined && e.bmax.isDefined))),
      s"sorted writer must record BYTE envelopes for the string key: " +
        s"${m.entries.map(_.envs)}")
    // the key domain is ≤16 bytes, so recorded bounds are EXACT hex
    val victim = m.entries.find(_.envs.exists(_.get("k").exists(e =>
      e.bmin.exists(_ <= Snapshot.BytesBounds.hex("doc0042".getBytes)) &&
        e.bmax.exists(_ >= Snapshot.BytesBounds.hex("doc0042".getBytes))))).get
    val lied = benv("zzz0000", "zzz9999")("k")
    val falsified = m.copy(entries = m.entries.map(e =>
      if (e.rel == victim.rel) e.copy(envs = Some(Map("k" -> lied))) else e))
    Snapshot.commitVersion(fs, root, falsified, keepVersions = 4)
    Snapshot.clearResolvedCache()
    def files(preds: ReadPred*): Set[String] =
      Snapshot.readAt(spark, p, skipping = preds.toSeq)
        .inputFiles.map(f => new Path(f).getName).toSet
    val at42 = files(ReadPred.Cmp("k", "eq", "doc0042"))
    assert(!at42.contains(new Path(victim.rel).getName),
      "the falsified byte envelope must exclude the victim at k=doc0042")
    assert(files(ReadPred.Cmp("k", "eq", "zzz5555")) ==
      Set(new Path(victim.rel).getName),
      "k=zzz5555 must plan exactly the falsified file")
    // therefore the skipped read misses the row — plan is metadata-born
    assert(Snapshot.readAt(spark, p,
        skipping = Seq(ReadPred.Cmp("k", "eq", "doc0042")))
      .filter(col("k") === "doc0042").count() == 0)
  }

  test("keys sharing a ≥16-byte prefix truncate without over-pruning") {
    val dir = tempDir("eskip_str_prefix")
    val p = s"$dir/t.parquet"
    // every key extends one 24-byte prefix: all truncated bounds
    // collapse to the same [prefix16, prefix16+1) window
    val pre = "https://example.com/very-long/"
    val df = (0 until 80).map(i => (f"$pre$i%04d", i.toLong)).toDF("k", "id")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("k"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 4)
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    val m = Snapshot.manifestAt(fs, vdir).get
    val envs = m.dataEntries.flatMap(_.envs.flatMap(_.get("k")))
    assert(envs.nonEmpty && envs.forall(e =>
      e.bmin.exists(_.length == Snapshot.BytesBounds.TruncateLen * 2)),
      "bounds must be truncated to 16 bytes")
    val full = Snapshot.readAt(spark, p)
    // a point probe CANNOT distinguish files here — it must keep all
    // (superset-pruning, never a wrong drop) and stay exact
    val probe = Snapshot.readAt(spark, p,
      skipping = Seq(ReadPred.Cmp("k", "eq", s"${pre}0042")))
    assert(probe.inputFiles.length == full.inputFiles.length,
      "shared-prefix truncation must not prune (identical envelopes)")
    assert(rows(probe.filter(col("k") === s"${pre}0042")) ==
      Seq(Seq(s"${pre}0042", 42L)))
    // a probe OUTSIDE the shared window still prunes everything
    val out = Snapshot.readAt(spark, p,
      skipping = Seq(ReadPred.Cmp("k", "eq", "aaaa")))
    assert(out.inputFiles.isEmpty,
      "a key below the shared prefix window must prune every member")
    // and the DISTINGUISHING case: keys split below the 16-byte mark
    // prune normally even though each is longer than 16 bytes
    val p2 = s"$dir/t2.parquet"
    val df2 = (0 until 80).map { i =>
      val bucket = ('a' + i / 10).toChar // 8 distinct first bytes
      (s"$bucket$pre$i%04d", i.toLong)
    }.toDF("k", "id")
    WriteOps.atomicOverwrite(spark, df2, p2, indexBy = Seq("k"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 4)
    val full2 = Snapshot.readAt(spark, p2)
    val one2 = Snapshot.readAt(spark, p2,
      skipping = Seq(ReadPred.Cmp("k", "gte", "c"),
        ReadPred.Cmp("k", "lt", "d")))
    assert(one2.inputFiles.length < full2.inputFiles.length / 2,
      s"first-byte split must prune (${one2.inputFiles.length} of " +
        s"${full2.inputFiles.length})")
    assert(sortedRows(one2.filter(col("k") >= "c" && col("k") < "d")) ==
      sortedRows(full2.filter(col("k") >= "c" && col("k") < "d")))
  }

  test("string hive partition values prune as byte point envelopes") {
    val dir = tempDir("eskip_str_part")
    val p = s"$dir/t.parquet"
    val df = (0L until 90L).map(i => (i, Seq("en", "de", "fr")(i.toInt % 3),
      s"v$i")).toDF("id", "lang", "txt")
    WriteOps.atomicOverwrite(spark, df, p, partitionBy = Seq("lang"),
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val full = Snapshot.readAt(spark, p)
    val de = Snapshot.readAt(spark, p,
      skipping = Seq(ReadPred.Cmp("lang", "eq", "de")))
    assert(de.inputFiles.nonEmpty && de.inputFiles.forall(_.contains("lang=de")),
      "only the matching string partition's members may be planned")
    assert(sortedRows(de.filter(col("lang") === "de")) ==
      sortedRows(full.filter(col("lang") === "de")))
  }

  test("string DSL conjuncts and format(\"graft\") pushdown prune string keys") {
    val dir = tempDir("eskip_str_surfaces")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0 until 100).map(i => (f"key$i%04d", i.toLong)).toDF("k", "id"), p,
      indexBy = Seq("k"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val ref = graft.spec.DatasetRef.parse(s"parquet/$dir/t")
    val full = graft.sources.Resolver.read(spark, ref)
    val frame = graft.engine.Planner.sourceFrame(spark, graft.spec.SourceSpec(
      ref, query = Seq("k__gte" -> "key0031", "k__lte" -> "key0039")))
    assert(frame.inputFiles.length < full.inputFiles.length / 2,
      s"DSL string range must prune (${frame.inputFiles.length} of " +
        s"${full.inputFiles.length})")
    assert(frame.count() == 9)
    val t = spark.read.format("graft").load(p)
    val got = t.filter(col("k") === "key0042").select("k", "id")
    assert(rows(got) == Seq(Seq("key0042", 42L)))
    val (kept, total) = Snapshot.lastSkipPlan
    assert(total == 10 && kept <= 1,
      s"V1 string pushdown must prune the plan (kept $kept of $total)")
  }

  test("format(\"graft\") pushes its filters into envelope planning") {
    val dir = tempDir("eskip_dsv1")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 100L).map(i => (i, i % 5, s"v$i")).toDF("id", "k", "txt"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 4)
    val t = spark.read.format("graft").load(p)
    val got = t.filter(col("id") === 42 || col("id") === 43)
      .select("id", "txt").orderBy("id")
    assert(rows(got) == Seq(Seq(42L, "v42"), Seq(43L, "v43")))
    // white-box: the relation's buildScan must have planned a pruned
    // member set for the IN-shaped pushdown
    val (kept, total) = Snapshot.lastSkipPlan
    assert(total == 10 && kept <= 2,
      s"V1 pushdown must prune the plan (kept $kept of $total)")
  }
}
