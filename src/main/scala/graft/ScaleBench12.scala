package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** ScaleBench12 (r15): READ-TIME manifest-envelope file skipping at the
  * judge-prescribed shape — a 6M-row / 3000-file sorted snapshot table,
  * where a pk point-read must plan O(matching files) from the manifest
  * alone (zero footer I/O in the planner) and open exactly the planned
  * files. Prices the skip plan against the full-member read and proves:
  *
  *   1. a point read plans ≤2 of 3000 members (the key straddles at
  *      most one file boundary) and `inputFiles` == the planned set —
  *      "footer reads to match";
  *   2. a 1% range read plans ~1% of members, exact row count;
  *   3. the pruned plan's wall-clock beats the unpruned filter read by
  *      a wide margin (the unpruned read opens all 3000 footers);
  *   4. planning cost itself is driver-cheap (O(members) envelope
  *      intersections, no I/O) — measured standalone on the resolved
  *      manifest.
  *
  * At 100 TB the same shape is the difference between a point read
  * costing 3 GETs and costing 100k footer GETs.
  */
object ScaleBench12 {

  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    results(name) = math.rint(sec * 100) / 100
    println(f"SCALE12 $name%-32s ${sec}%8.2f s")
    writeReport()
    r
  }

  private def esc(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeReport(): Unit = {
    val fields = notes.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }.toSeq :+
      s""""times": {${results.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}"""
    val json = fields.mkString("{", ", ", "}")
    try {
      val p = java.nio.file.Paths.get("target/scalebench12.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json)
      ()
    } catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.Snapshot
    import graft.operators.Snapshot.ReadPred

    val out = "/tmp/graft_scale12"
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)
    fs.mkdirs(new Path(out))

    val nRows = 6_000_000L
    val p = s"$out/t.parquet"
    timed("seed_6m_3000files") {
      // the sorted writer range-lays on doc_id; 2000 rows/file splits
      // the 6M rows into ~3000 members, each with a manifest envelope
      val table = spark.range(nRows).select($"id".as("doc_id"),
        md5($"id".cast("string")).as("payload"))
      graft.operators.WriteOps.atomicOverwrite(spark, table, p,
        indexBy = Seq("doc_id"), maxRecordsPerFile = 2000,
        commitMode = "snapshot", keepVersions = 2)
    }
    val root = new Path(p)
    val m = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, root, None)._2).get
    val total = m.dataEntries.size
    require(total >= 2900, s"expected ~3000 members, got $total")
    require(m.dataEntries.forall(_.envs.exists(_.contains("doc_id"))),
      "every member must carry a manifest doc_id envelope")
    notes("members") = total.toString

    // ── 1) pk point read: O(matching files), footer reads to match ──
    val key = 4_242_424L
    var pointFiles = 0
    val nPoint = timed("point_read_skip") {
      val df = Snapshot.readAt(spark, p,
        skipping = Seq(ReadPred.Cmp("doc_id", "eq", key)))
      pointFiles = df.inputFiles.length
      df.filter($"doc_id" === key).count()
    }
    val (kept, tot) = Snapshot.lastSkipPlan
    require(nPoint == 1L, s"point read must find the row, got $nPoint")
    require(tot == total && kept <= 2,
      s"point read must plan O(matching files): kept $kept of $tot")
    require(pointFiles == kept,
      s"the scan must open EXACTLY the planned members " +
        s"($pointFiles opened vs $kept planned)")
    notes("point_plan") = s"kept=$kept of=$tot opened=$pointFiles"

    // ── 2) 1% range read: plans ~1% of members, exact rows ──────────
    val lo = 3_000_000L; val hi = 3_059_999L // 60k rows ≈ 1%
    val nRange = timed("range_1pct_read_skip") {
      Snapshot.readAt(spark, p, skipping = Seq(
          ReadPred.Cmp("doc_id", "gte", lo), ReadPred.Cmp("doc_id", "lte", hi)))
        .filter($"doc_id".between(lo, hi)).count()
    }
    val (keptR, _) = Snapshot.lastSkipPlan
    require(nRange == hi - lo + 1, s"range rows: $nRange")
    require(keptR <= total / 50,
      s"1% range must plan ≤2% of members, kept $keptR of $total")
    notes("range_plan") = s"kept=$keptR of=$total"

    // ── 3) the same point read WITHOUT skipping (pre-r15 shape) ──────
    val nFull = timed("point_read_noskip") {
      Snapshot.readAt(spark, p).filter($"doc_id" === key).count()
    }
    require(nFull == 1L)
    notes("speedup_point") = f"${results("point_read_noskip") /
      math.max(results("point_read_skip"), 0.01)}%.1fx " +
      s"(noskip opens all $total members)"

    // ── 4) planning cost alone: driver-side, zero I/O ────────────────
    timed("plan_cost_1000x") {
      var i = 0
      while (i < 1000) {
        Snapshot.pruneEntries(spark, m, m.dataEntries,
          Seq(ReadPred.Cmp("doc_id", "eq", key + i)))
        i += 1
      }
    }
    notes("plan_cost") = f"${results("plan_cost_1000x") * 1000 / 1000}%.2f ms/plan over $total members"

    // ── 4b) r16 STRING-pk twin: 6M rows keyed on md5 hex digests
    // (32 chars > the 16-byte truncation — the truncated-bound path
    // is live), sorted layout → a point read and a prefix range must
    // plan O(matching files) from the byte-bound envelopes ───────────
    val ps = s"$out/ts.parquet"
    timed("seed_str_6m_3000files") {
      val table = spark.range(nRows).select(
        md5($"id".cast("string")).as("k"), $"id".as("v"))
      graft.operators.WriteOps.atomicOverwrite(spark, table, ps,
        indexBy = Seq("k"), maxRecordsPerFile = 2000,
        commitMode = "snapshot", keepVersions = 2)
    }
    val ms = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(ps), None)._2).get
    val totalS = ms.dataEntries.size
    require(totalS >= 2900, s"expected ~3000 string-pk members, got $totalS")
    require(ms.dataEntries.forall(_.envs.exists(_.get("k").exists(e =>
      e.bmin.isDefined))), "every member must carry a byte-bound k envelope")
    val sKey = // an existing digest, computed driver-side
      java.security.MessageDigest.getInstance("MD5")
        .digest("4242424".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    var sPointFiles = 0
    val nSPoint = timed("str_point_read_skip") {
      val df = Snapshot.readAt(spark, ps,
        skipping = Seq(ReadPred.Cmp("k", "eq", sKey)))
      sPointFiles = df.inputFiles.length
      df.filter($"k" === sKey).count()
    }
    val (keptS, totS) = Snapshot.lastSkipPlan
    require(nSPoint == 1L, s"string point read must find the row, got $nSPoint")
    require(totS == totalS && keptS <= 2,
      s"string point read must plan O(matching files): kept $keptS of $totS")
    require(sPointFiles == keptS,
      s"the scan must open EXACTLY the planned members " +
        s"($sPointFiles opened vs $keptS planned)")
    notes("str_point_plan") = s"kept=$keptS of=$totS opened=$sPointFiles"
    // hex-prefix range ≈ 1/64 of the key space
    val nSRange = timed("str_range_read_skip") {
      Snapshot.readAt(spark, ps, skipping = Seq(
          ReadPred.Cmp("k", "gte", "30"), ReadPred.Cmp("k", "lt", "34")))
        .filter($"k" >= "30" && $"k" < "34").count()
    }
    val (keptSR, _) = Snapshot.lastSkipPlan
    require(math.abs(nSRange - nRows / 64.0) < nRows / 640.0,
      s"~1/64 of rows expected, got $nSRange")
    require(keptSR <= totalS / 32,
      s"1/64 hex range must plan ≤1/32 of members, kept $keptSR of $totalS")
    notes("str_range_plan") = s"kept=$keptSR of=$totalS rows=$nSRange"
    // string-pk MERGE plans from the manifest byte bounds: a 1k-key
    // upsert rewrites only the intersecting files, and the plan pays
    // ZERO footer reads (manifestEnvelopes path — the white-box
    // falsification proof lives in PrunedMergeSpec)
    val mergeStats = timed("str_merge_1k_upsert") {
      val batch = spark.range(0, 1000)
        .select(md5(($"id" * 6000).cast("string")).as("k"),
          (- $"id").as("v"))
      graft.operators.PrunedMerge.merge(spark,
        graft.sources.Resolver.readParquet(spark, ps), batch,
        graft.spec.TargetSpec(
          graft.spec.DatasetRef("parquet", out, "ts"),
          op = graft.spec.WriteOp.Upsert, pk = Seq("k"),
          indexBy = Seq("k"), commitMode = "snapshot", keepVersions = 2),
        ps).get
    }
    require(mergeStats.filesRewritten < totalS / 2,
      s"string-pk merge must prune: $mergeStats")
    notes("str_merge") = s"rewrote=${mergeStats.filesRewritten} of=$totalS"

    // ── 4c) r16 metadata-only count: zero Spark jobs, driver-instant ─
    timed("metadata_count") {
      // the upsert's batch keys all existed (md5 of multiples of 6000,
      // every one < 6M), so the table still holds exactly nRows — and
      // the merge-rewritten files re-recorded their rows
      val n = Snapshot.metadataPlan(spark, ps, None, Nil, Seq("count" -> "*"))
        .collect { case (partials, None, _) => partials.head.covered.get }
        .getOrElse(sys.error("metadata count must be available on this table"))
      require(n == nRows, s"metadata count $n != $nRows")
    }
    notes("metadata_count") = f"${results("metadata_count")}%.3fs driver-side"

    // ── 4d) r17 (verdict #4): the V1 `format("graft")` interop
    // boundary tax, measured at 6M — the same FULL materialization
    // (every row, every column folded into one aggregate) through the
    // engine read vs the external V1 relation. The V1 path documents
    // a per-row boundary conversion (PrunedFilteredScan returns Row);
    // this prices it: ≥1.5× would demand the DSv2 Table, below that
    // the trade (one battle-tested inner plan, pushed filters steering
    // member pruning) stands and the number goes to BASELINE.md. ─────
    def fullMat(df: org.apache.spark.sql.DataFrame): Long =
      df.agg((sum(length($"payload")) + sum($"doc_id")).cast("long"))
        .head().getLong(0)
    def minOf3(name: String)(f: => Long): Long = {
      var check = 0L
      var best = Double.MaxValue
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        check = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      results(name) = math.rint(best * 100) / 100
      println(f"SCALE12 $name%-32s ${best}%8.2f s (min of 3)")
      writeReport()
      check
    }
    val engFull = minOf3("interop_engine_full") {
      fullMat(graft.sources.Resolver.readParquet(spark, p)) }
    val v1Full = minOf3("interop_v1_full") {
      fullMat(spark.read.format("graft").load(p)) }
    require(v1Full == engFull, "both surfaces must materialize the same rows")
    val tax = results("interop_v1_full") /
      math.max(results("interop_engine_full"), 0.01)
    notes("interop_v1_tax") = f"x$tax%.2f at 6M full materialization " +
      f"(v1 ${results("interop_v1_full")}%.2fs vs engine " +
      f"${results("interop_engine_full")}%.2fs; decision bar: ≥1.5x → DSv2)"

    // ── 5) r15 orphan journal: per-commit vacuum cost is FLAT in pool
    // size (the pre-r15 checkpoint-commit full sweep listed the pool).
    // Fabricated pools (zero-byte members + a manifest listing them),
    // 100 journaled crash orphans each — the incremental vacuum must
    // collect exactly the orphans at the same cost for 20k and 200k
    // members, while the audit full sweep pays the listing. ─────────
    def mkPool(n: Int): Path = {
      val root = new Path(s"$out/pool_$n.parquet")
      val dd = graft.operators.Snapshot.dataDir(root)
      fs.mkdirs(dd)
      val base = java.nio.file.Paths.get(dd.toUri.getPath)
      val rels = (0 until n).map(i => f"f$i%07d.parquet")
      rels.foreach(r => java.nio.file.Files.createFile(base.resolve(r)))
      graft.operators.Snapshot.commitVersion(fs, root,
        graft.operators.Snapshot.Manifest("id BIGINT",
          Nil, rels.map(r => graft.operators.Snapshot.Entry(r, 1L))),
        keepVersions = 2)
      // 100 journaled crash orphans (a writer that pooled then died)
      val orphans = (0 until 100).map(i => f"orph$i%04d.parquet")
      orphans.foreach(r => java.nio.file.Files.createFile(base.resolve(r)))
      val jd = new Path(root, "_stage_journal")
      fs.mkdirs(jd)
      val jp = new Path(jd, s"j0000000000000_crash$n")
      val o = fs.create(jp, true)
      o.write((orphans.map("_data/" + _).mkString("\n") + "\n#end\n").getBytes)
      o.close()
      fs.setTimes(jp, System.currentTimeMillis() - 20 * 60 * 1000L, -1)
      root
    }
    val p20 = timed("fabricate_pool_20k") { mkPool(20_000) }
    val p200 = timed("fabricate_pool_200k") { mkPool(200_000) }
    // COLD sweep (r16): drop the resolved cache so the 200k term pays
    // the real cold path — with list-checkpointed membership (≥50k
    // entries) the journal sweep probes O(parts + one part) instead of
    // parsing the full manifest, so cold is flat 20k→200k
    graft.operators.Snapshot.clearResolvedCache()
    timed("vacuum_incr_20k_cold") {
      graft.operators.Snapshot.vacuum(fs, p20, 2, fullSweep = false)
    }
    timed("vacuum_incr_200k_cold") {
      graft.operators.Snapshot.vacuum(fs, p200, 2, fullSweep = false)
    }
    Seq(p20, p200).foreach { r =>
      val dd = graft.operators.Snapshot.dataDir(r)
      require(!fs.exists(new Path(dd, "orph0000.parquet")),
        s"journaled orphans must be collected at $r")
      require(fs.exists(new Path(dd, "f0000000.parquet")),
        s"referenced members must survive at $r")
    }
    timed("vacuum_full_200k") {
      graft.operators.Snapshot.vacuum(fs, p200, 2, fullSweep = true)
    }
    val flat = results("vacuum_incr_200k_cold") /
      math.max(results("vacuum_incr_20k_cold"), 0.005)
    notes("vacuum_flat_claim") = f"COLD incr 20k=${results("vacuum_incr_20k_cold")}%.3fs " +
      f"200k=${results("vacuum_incr_200k_cold")}%.3fs (ratio $flat%.2f, gate <=3 " +
      f"on small absolutes); full audit at 200k=${results("vacuum_full_200k")}%.2fs"
    // r17 (ADVICE): the FLATNESS ratio is the gate — an absolute
    // wall-clock bound on a box whose same-code runs swing 20-25%
    // fails healthy runs on weather. The absolute stays as a generous
    // backstop against a silent return of the full-manifest parse
    // (which costs seconds at 200k, not fractions).
    require(flat <= 3.0 || results("vacuum_incr_200k_cold") < 0.5,
      f"COLD incremental vacuum must be flat in pool size: 20k=" +
        f"${results("vacuum_incr_20k_cold")}%.3fs 200k=" +
        f"${results("vacuum_incr_200k_cold")}%.3fs (ratio $flat%.2f)")

    println("SCALE12 done: " + results.map { case (k, v) => s"$k=$v" }.mkString(" "))
  }
}
