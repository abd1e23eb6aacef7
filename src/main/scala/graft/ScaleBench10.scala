package graft

import graft.operators.Snapshot
import graft.operators.Snapshot.{ColEnv, Entry, Manifest}
import org.apache.hadoop.fs.Path

/** Scale-stress phase 10 (round 13): the MANIFEST layer at 100k
  * entries — the r12 verdict's "measure, then shard" item. The flat
  * monolithic manifest was proven to 3,015 files; a 100 TB table has
  * 10⁵–10⁶, and the monolith is rewritten per commit and re-read per
  * plan. This phase prices the metadata layer ALONE (synthetic
  * entries — no data files; every number below is pure manifest
  * I/O + parse cost, which is exactly the contested resource). The
  * monolithic price it was first measured against (0.349 s and 6.0 MB
  * per 100k-entry commit) is kept in `SCALEBENCH10_r13.json`; there is
  * no monolithic commit mode left to re-run, so phase 1 is gone (the
  * later phases keep their numbers).
  *
  *   2. DELTA: 10 incremental commits each touching 4 of 100k entries
  *      — per-commit wall/bytes (claim: O(changed) ≈ hundreds of
  *      bytes), cold resolution of a 10-deep chain, warm (cached)
  *      resolution.
  *   3. SCALE-INVARIANCE: the same delta workload over a 3k-entry
  *      table — the verdict's "commit cost at 100k within ~2× of the
  *      3k cost" gate, which only holds when commits stopped being
  *      O(files).
  *   4. EXACTNESS: after the mixed history, the delta-resolved head
  *      equals the membership maintained in memory, checkpoint
  *      cadence holds, and vacuum's chain promotion keeps every
  *      retained version resolvable after retention outruns the
  *      original checkpoint.
  *   5. INCREMENTAL VACUUM over a REAL 20k-file pool: steady-state
  *      delta commits GC dereferenced files from the successor diff
  *      with ZERO pool listing; the phase prices an idle incremental
  *      vacuum vs the full O(listing) sweep, and verifies exact GC
  *      (dead files deleted the commit their last referent leaves
  *      retention, live files untouched, orphans left to the sweep).
  *   6. CDC BACKLOG DRAIN over 100 real commits (the r12 verdict's
  *      catch-up gate): the consecutive per-commit consumer pays
  *      O(versions) Spark jobs; the r13 SPANNING drain pays a
  *      handful, its net rows reconstruct the exact head state from
  *      the seed snapshot, and wall-clock drops accordingly.
  *
  * Run: sbt -batch 'runMain graft.ScaleBench10'. JSON lands in
  * target/scalebench10.json.
  */
object ScaleBench10 {

  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    results(name) = math.rint(sec * 1000) / 1000
    println(f"SCALE10 $name%-36s ${sec}%8.3f s")
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
      val p = java.nio.file.Paths.get("target/scalebench10.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, json)
      ()
    } catch { case _: Throwable => () }
  }

  /** Spark jobs `f` starts, counted by the engine's job ledger. */
  private def countJobs[T](spark: org.apache.spark.sql.SparkSession)(f: => T): (Int, T) = {
    val m = new graft.engine.Metrics()
    val r = m.record(spark)(f)
    (m.jobs.size, r)
  }

  private def entry(i: Long, seq: Long): Entry =
    Entry(f"part=${i % 256}%03d/f$i%07d.parquet", 1L << 20,
      envs = Some(Map("id" -> ColEnv(Some(i * 1000), Some(i * 1000 + 999), false))),
      seq = seq)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = "/tmp/graft_scale10"
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)
    fs.mkdirs(new Path(out))
    val ddl = "id BIGINT, txt STRING, grp INT"

    def versionBytes(root: Path): Long =
      graft.operators.Versioned.list(fs, root).map { case (_, p, _) =>
        (try fs.listStatus(p)
         catch { case scala.util.control.NonFatal(_) =>
           Array.empty[org.apache.hadoop.fs.FileStatus] })
          .filter(_.isFile).map(_.getLen).sum
      }.sum

    /** `commits` incremental commits (each: drop 2 entries, add 2
      * fresh) over a table seeded with n entries, through the
      * production incremental-writer path ([[Snapshot.commitRebase]]:
      * explicit removed/added, O(changed) commit); returns (avg commit
      * sec, bytes written by the incremental commits, final
      * membership mirror — seq-exact, commits stamp fresh entries
      * with the returned version number).
      */
    def runCommits(root: Path, n: Int, keep: Int,
                   commits: Int = 10): (Double, Long, Seq[Entry]) = {
      var mem: Seq[Entry] = (0L until n.toLong).map(entry(_, 1L))
      var baseV = Snapshot.commitVersion(fs, root, Manifest(ddl, Nil, mem), keep)
      // one UNTIMED warm-up commit: the first incremental commit after
      // a checkpoint pays the one-time O(n) tree build of the head
      // resolution (every later commit chains off the cache); the
      // steady state is what the scale-invariance claim is about
      val w = Seq(entry(n + 1000000L, Snapshot.UnsetSeq))
      baseV = Snapshot.commitRebase(fs, root, baseV,
        Set(mem.head.rel), w, ddl, Nil, keep)
      mem = mem.drop(1) ++ w.map(_.copy(seq = baseV))
      val before = versionBytes(root)
      val t0 = System.nanoTime()
      for (c <- 0 until commits) {
        val fresh = Seq(entry(n + c * 2L, Snapshot.UnsetSeq),
          entry(n + c * 2L + 1, Snapshot.UnsetSeq))
        val tc = System.nanoTime()
        val v = Snapshot.commitRebase(fs, root, baseV,
          mem.take(2).map(_.rel).toSet, fresh, ddl, Nil, keep)
        println(f"SCALE10   commit[$n/$c] ${(System.nanoTime() - tc) / 1e6}%8.2f ms")
        baseV = v
        mem = mem.drop(2) ++ fresh.map(_.copy(seq = v))
      }
      val avg = (System.nanoTime() - t0) / 1e9 / commits
      (avg, versionBytes(root) - before, mem)
    }

    // ── 2. DELTA at 100k ─────────────────────────────────────────────
    val deltaRoot = new Path(out, "delta100k")
    val (deltaAvg, deltaBytes, deltaMem) = timed("delta_100k_10commits") {
      runCommits(deltaRoot, 100000, keep = 20)
    } match { case r => results("delta_100k_commit_avg") = math.rint(r._1 * 1000) / 1000; r }
    notes("delta_100k_bytes_per_commit") = (deltaBytes / 10).toString
    val deltaColdN = timed("delta_100k_cold_resolve_chain10") {
      Snapshot.clearResolvedCache()
      val (_, vdir) = Snapshot.resolveVersion(fs, deltaRoot, None)
      Snapshot.manifestAt(fs, vdir).get.entries.size
    }
    require(deltaColdN == 100000, s"delta head membership $deltaColdN")
    timed("delta_100k_warm_resolve") {
      val (_, vdir) = Snapshot.resolveVersion(fs, deltaRoot, None)
      Snapshot.manifestAt(fs, vdir).get.entries.size
    }

    // ── 3. DELTA at 3k (scale-invariance of commit cost) ────────────
    val delta3kRoot = new Path(out, "delta3k")
    val (delta3kAvg, delta3kBytes, _) = timed("delta_3k_10commits") {
      runCommits(delta3kRoot, 3000, keep = 20)
    } match { case r => results("delta_3k_commit_avg") = math.rint(r._1 * 1000) / 1000; r }
    notes("delta_3k_bytes_per_commit") = (delta3kBytes / 10).toString

    // ── 4. EXACTNESS + checkpoint cadence + vacuum promotion ────────
    timed("exactness_and_promotion") {
      // the delta-resolved head must equal the membership the commit
      // sequence maintained in memory (seq-exact)
      val deltaHead = Snapshot.manifestAt(fs,
        Snapshot.resolveVersion(fs, deltaRoot, None)._2).get
      require(deltaHead.entries.sortBy(_.rel) == deltaMem.sortBy(_.rel),
        "resolved head must equal the in-memory membership mirror")
      // checkpoint cadence + promotion: drive past CheckpointEvery
      // with retention 5 — the original checkpoint leaves retention,
      // vacuum must promote, every retained version must resolve
      val promRoot = new Path(out, "prom100k")
      runCommits(promRoot, 100000, keep = 5,
        commits = Snapshot.CheckpointEvery + 4)
      val retained = Snapshot.committed(fs, promRoot)
      require(retained.size == 5, s"retention 5, got ${retained.size}")
      Snapshot.clearResolvedCache()
      retained.foreach { case (v, vdir) =>
        val m = Snapshot.manifestAt(fs, vdir)
        require(m.exists(_.entries.size == 100000),
          s"retained v$v must resolve to full membership after promotion")
      }
      // r14: at 100k entries promotion writes a manifest LIST
      // (O(dirty + parts)), not the O(entries) text render
      val fullsRetained = retained.count { case (_, vdir) =>
        fs.exists(new Path(vdir, "_MANIFEST")) ||
          fs.exists(new Path(vdir, "_MANIFEST_LIST")) }
      val listPromoted = retained.count { case (_, vdir) =>
        fs.exists(new Path(vdir, "_MANIFEST_LIST")) &&
          fs.exists(new Path(vdir, "_MANIFEST_DELTA")) }
      notes("promoted_checkpoints_in_retained_5") =
        s"$fullsRetained (of which $listPromoted list-promoted over a live delta)"
      require(fullsRetained >= 1, "vacuum must have promoted a checkpoint")
      require(listPromoted >= 1,
        "at 100k entries the promotion must take the O(dirty) LIST form")
    }

    // ── 5. INCREMENTAL VACUUM over a real 20k-file pool ─────────────
    val vacRoot = new Path(out, "vac20k")
    val vacN = 20000
    val dd = Snapshot.dataDir(vacRoot)
    // pool files via java.nio — Hadoop RawLocalFS create() forks a
    // chmod per file, 20k of which is minutes of pure process spawn
    val ddLocal = java.nio.file.Paths.get(dd.toUri.getPath)
    def mkFile(rel: String): Unit = {
      val p = ddLocal.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array.emptyByteArray)
      ()
    }
    timed("vac20k_create_pool") {
      (0L until vacN.toLong).foreach(i => mkFile(entry(i, 1L).rel))
    }
    var vacMem: Seq[Entry] = (0L until vacN.toLong).map(entry(_, 1L))
    var vacBase = Snapshot.commitVersion(fs, vacRoot, Manifest(ddl, Nil, vacMem), 2)
    val droppedRels = scala.collection.mutable.ArrayBuffer.empty[String]
    timed("vac20k_10commits_incrGC") {
      for (c <- 0 until 10) {
        val fresh = Seq(entry(vacN + c * 2L, Snapshot.UnsetSeq),
          entry(vacN + c * 2L + 1, Snapshot.UnsetSeq))
        fresh.foreach(e => mkFile(e.rel))
        droppedRels ++= vacMem.take(2).map(_.rel)
        val v = Snapshot.commitRebase(fs, vacRoot, vacBase,
          vacMem.take(2).map(_.rel).toSet, fresh, ddl, Nil, 2)
        vacBase = v
        vacMem = vacMem.drop(2) ++ fresh.map(_.copy(seq = v))
      }
    }
    results("vac20k_commit_avg") = results("vac20k_10commits_incrGC") / 10
    // exact GC: a rel dropped at commit c is last referenced by
    // version c+3's predecessor set — with keep=2 every drop except
    // the final commit's is dereferenced and must be gone; the final
    // commit's pair is still in retained head-1 and must survive
    val gone = droppedRels.dropRight(2)
    require(gone.forall(r => !fs.exists(new Path(dd, r))),
      "dereferenced files must be GC'd incrementally")
    require(droppedRels.takeRight(2).forall(r => fs.exists(new Path(dd, r))),
      "files referenced by retained versions must survive")
    require(vacMem.forall(e => fs.exists(new Path(dd, e.rel))),
      "live membership must be untouched")
    // the head must have COMMITTED as a delta (keep=2 < CheckpointEvery
    // means vacuum PROMOTES head-1 to a checkpoint each round — a
    // `_MANIFEST` may legitimately appear next to the delta later, but
    // the delta file proves the commit itself was O(changed))
    require(fs.exists(new Path(
      Snapshot.resolveVersion(fs, vacRoot, None)._2, "_MANIFEST_DELTA")),
      "the GC above must have run on delta commits")
    // idle-cost contrast: incremental (no dropped versions → zero
    // listing) vs the full sweep's O(pool) walk
    timed("vac20k_idle_incremental_x5") {
      (0 until 5).foreach(_ => Snapshot.vacuum(fs, vacRoot, 2, fullSweep = false))
    }
    timed("vac20k_idle_fullsweep_x5") {
      (0 until 5).foreach(_ => Snapshot.vacuum(fs, vacRoot, 2, fullSweep = true))
    }
    require(results("vac20k_idle_incremental_x5") * 3 <
        results("vac20k_idle_fullsweep_x5"),
      "incremental vacuum must be far below the full-listing sweep")
    notes("vac20k") = f"10 delta commits GC'd ${gone.size} dead files with zero " +
      f"pool listing (${results("vac20k_commit_avg")}%.3fs/commit); idle " +
      f"incremental ${results("vac20k_idle_incremental_x5") / 5}%.4fs vs full " +
      f"sweep ${results("vac20k_idle_fullsweep_x5") / 5}%.4fs over $vacN files"

    // ── 6. CDC backlog drain: 100 commits, spanning vs consecutive ──
    {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val cdcPath = s"$out/cdc100.parquet"
      // 100 small-net-change commits via full snapshot versions (one
      // sequence class, no merge-on-read debt): the drain cost under
      // test is the CHANGELOG's per-commit vs spanning shape, not the
      // read-side DV stack 100 uncompacted append-upserts would pile
      // on top of every step (that debt is compaction's to retire and
      // is priced in ScaleBench9)
      timed("cdc100_build_100_commits") {
        val state = scala.collection.mutable.LinkedHashMap.empty[Long, String]
        (0L until 1000L).foreach(i => state(i) = s"v0_$i")
        graft.operators.WriteOps.atomicOverwrite(spark,
          state.toSeq.toDF("id", "txt"), cdcPath, indexBy = Seq("id"),
          commitMode = "snapshot", keepVersions = 150)
        (1 to 100).foreach { c =>
          (0 until 5).foreach { j =>
            state(((c * 37L + j * 211L) % 1200L)) = s"v${c}_$j"
          }
          graft.operators.WriteOps.atomicOverwrite(spark,
            state.toSeq.toDF("id", "txt"), cdcPath, indexBy = Seq("id"),
            commitMode = "snapshot", keepVersions = 150)
        }
      }
      // the per-commit consumer shape: ONE commit per batch (a
      // latest-state sink that never needed the granularity still
      // paid it before the spanning drain existed)
      var consecRows = 0L
      val (consecJobs, consecBatches) = countJobs(spark) {
        timed("cdc100_drain_consecutive") {
          graft.streaming.CdfStream.runAvailableNow(spark, cdcPath, Seq("id"),
            s"$out/cdc_ckpt_consec", startingVersion = Some(1L),
            maxVersionsPerBatch = 1) {
            (inc, _, _) => consecRows += inc.count()
          }
        }
      }
      // spanning: ONE net (1, head] diff; reconstruct the head from
      // the seed snapshot + the net rows — the latest-state-sink law
      val seedState = scala.collection.mutable.Map.empty[Long, String]
      graft.operators.Snapshot.readAt(spark, cdcPath, Some(1L))
        .select("id", "txt").collect()
        .foreach(r => seedState(r.getLong(0)) = r.getString(1))
      val (spanJobs, spanBatches) = countJobs(spark) {
        timed("cdc100_drain_spanning") {
          graft.streaming.CdfStream.runAvailableNow(spark, cdcPath, Seq("id"),
            s"$out/cdc_ckpt_span", startingVersion = Some(1L),
            spanningBatches = true) { (inc, _, _) =>
            inc.select(col("_change_type"), col("id"), col("txt")).collect()
              .foreach { r =>
                r.getString(0) match {
                  case "delete" | "update_preimage" => ()
                  case _ => seedState(r.getLong(1)) = r.getString(2)
                }
              }
          }
        }
      }
      val head = graft.operators.Snapshot.readAt(spark, cdcPath, None)
        .select("id", "txt").collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap
      require(seedState.toMap == head,
        "spanning net rows must reconstruct the exact head state")
      require(spanBatches == 1 && consecBatches == 100,
        s"one spanning batch vs 100 per-commit batches, got " +
          s"$spanBatches/$consecBatches")
      results("cdc100_jobs_consecutive") = consecJobs.toDouble
      results("cdc100_jobs_spanning") = spanJobs.toDouble
      require(spanJobs <= 15,
        s"a spanning 100-commit drain must cost a handful of jobs, got $spanJobs")
      require(spanJobs * 4 < consecJobs,
        s"spanning must cut job count vs consecutive ($spanJobs vs $consecJobs)")
      notes("cdc100") = f"100-commit backlog: consecutive drain $consecJobs jobs / " +
        f"${results("cdc100_drain_consecutive")}%.1fs vs spanning $spanJobs jobs / " +
        f"${results("cdc100_drain_spanning")}%.1fs; net rows reconstruct head exactly " +
        f"($consecRows consecutive change rows)"
      writeReport()
    }

    // ── 7. RATE-BOUNDED spanning drain at a 1,000-commit backlog (r14
    // verdict): ceil(backlog/bound) span diffs, each O(bound) union
    // branches — jobs scale with BATCHES, not commits, and the folded
    // state is identical however the backlog is sliced (the
    // composition law CdfStreamSpec proves at toy scale, priced here).
    {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val cdcPath = s"$out/cdc1k.parquet"
      val n1k = 1000
      timed("cdc1k_build_1000_commits") {
        val state = scala.collection.mutable.LinkedHashMap.empty[Long, String]
        (0L until 300L).foreach(i => state(i) = s"v0_$i")
        graft.operators.WriteOps.atomicOverwrite(spark,
          state.toSeq.toDF("id", "txt"), cdcPath, indexBy = Seq("id"),
          commitMode = "snapshot", keepVersions = n1k + 50)
        (1 to n1k).foreach { c =>
          (0 until 3).foreach { j =>
            state(((c * 37L + j * 211L) % 400L)) = s"v${c}_$j"
          }
          graft.operators.WriteOps.atomicOverwrite(spark,
            state.toSeq.toDF("id", "txt"), cdcPath, indexBy = Seq("id"),
            commitMode = "snapshot", keepVersions = n1k + 50)
        }
      }
      def foldDrain(ckpt: String, bound: Int): (Int, Int, Map[Long, String]) = {
        val st = scala.collection.mutable.Map.empty[Long, String]
        graft.operators.Snapshot.readAt(spark, cdcPath, Some(1L))
          .select("id", "txt").collect()
          .foreach(r => st(r.getLong(0)) = r.getString(1))
        val (j, b) = countJobs(spark) {
          graft.streaming.CdfStream.runAvailableNow(spark, cdcPath, Seq("id"),
            ckpt, startingVersion = Some(1L), maxVersionsPerBatch = bound,
            spanningBatches = true) { (inc, _, _) =>
            inc.orderBy("_commit_version")
              .select(col("_change_type"), col("id"), col("txt")).collect()
              .foreach { r =>
                r.getString(0) match {
                  case "delete" | "update_preimage" => ()
                  case _ => st(r.getLong(1)) = r.getString(2)
                }
              }
          }
        }
        (j, b, st.toMap)
      }
      var spanned: (Int, Int, Map[Long, String]) = null
      timed("cdc1k_drain_spanning_unbounded") {
        spanned = foldDrain(s"$out/cdc1k_ck_span", 0)
      }
      var bounded: (Int, Int, Map[Long, String]) = null
      timed("cdc1k_drain_spanning_bound100") {
        bounded = foldDrain(s"$out/cdc1k_ck_b100", 100)
      }
      val head1k = graft.operators.Snapshot.readAt(spark, cdcPath, None)
        .select("id", "txt").collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap
      require(spanned._3 == head1k && bounded._3 == head1k,
        "every slicing must fold to the exact head state")
      require(spanned._2 == 1 && bounded._2 == 10,
        s"1 unbounded / ceil(1000/100)=10 bounded batches, got " +
          s"${spanned._2}/${bounded._2}")
      results("cdc1k_jobs_spanning") = spanned._1.toDouble
      results("cdc1k_jobs_bound100") = bounded._1.toDouble
      require(spanned._1 <= 15 && bounded._1 <= 10 * 15,
        s"jobs must scale with BATCHES, not the 1000-commit backlog " +
          s"(${spanned._1} unbounded, ${bounded._1} bounded)")
      notes("cdc1k") = f"1000-commit backlog: unbounded spanning ${spanned._1} " +
        f"jobs / ${results("cdc1k_drain_spanning_unbounded")}%.1fs vs " +
        f"bound-100 ${bounded._1} jobs / " +
        f"${results("cdc1k_drain_spanning_bound100")}%.1fs (10 batches); " +
        "both fold to the exact head"
      writeReport()
    }

    // ── 8. LIST checkpoints at 10⁶ entries (r14 verdict): the
    // every-CheckpointEvery-th checkpoint was the last O(entries)
    // driver cost — with `_MANIFEST_LIST` part reuse it goes
    // O(dirty-parts), so the 1M-entry cadence checkpoint must land
    // within ~2× of the 100k one (correctness of the layout —
    // reads/time-travel/changelog/fsck — is ManifestListSpec's job on
    // real tables; this phase prices the metadata alone).
    {
      // one table per scale; `cycle()` drives CheckpointEvery commits
      // (15 deltas + the cadence checkpoint) and reports the
      // checkpoint's ms. Cycles INTERLEAVE across the two scales and
      // the MIN of two cycles per scale is compared — JIT/allocator
      // warmth is a whole-process ramp, and comparing a maximally-warm
      // 100k number against a cooler 1M one (or vice versa) measures
      // the ramp, not the protocol.
      final class CycleDriver(label: String, n: Int) {
        val root = new Path(out, label)
        var mem: Vector[Entry] = (0L until n.toLong).map(entry(_, 1L)).toVector
        var baseV = Snapshot.commitVersion(fs, root,
          Manifest(ddl, Nil, mem), keepVersions = 60)
        var freshSeq = 0L
        def partNames(v: Long): Set[String] = {
          val vdir = new Path(root, f"_v_$v%020d")
          if (!fs.exists(new Path(vdir, "_MANIFEST_LIST"))) Set.empty
          else {
            val in = fs.open(new Path(vdir, "_MANIFEST_LIST"))
            val txt = try new String(in.readAllBytes(), "UTF-8")
              finally in.close()
            txt.linesIterator.filter(_.startsWith("P\t"))
              .map(_.split("\t")(1)).toSet
          }
        }
        val seedParts = partNames(baseV)
        require(seedParts.nonEmpty, s"$label: seed must be a list checkpoint")
        def cycle(): (Double, Double, Int, Int) = {
          val before = partNames(baseV) match {
            case s if s.nonEmpty => s
            case _ => seedParts
          }
          var ckptMs = -1.0; var ckptV = -1L
          var deltaMs = 0.0; var deltas = 0
          for (_ <- 0 until Snapshot.CheckpointEvery) {
            freshSeq += 2
            val fresh = Vector(entry(n + freshSeq, Snapshot.UnsetSeq),
              entry(n + freshSeq + 1, Snapshot.UnsetSeq))
            val t0 = System.nanoTime()
            val v = Snapshot.commitRebase(fs, root, baseV,
              Set(mem(0).rel, mem(1).rel), fresh, ddl, Nil, 60)
            val ms = (System.nanoTime() - t0) / 1e6
            if (partNames(v).nonEmpty) { ckptMs = ms; ckptV = v }
            else { deltaMs += ms; deltas += 1 }
            baseV = v
            mem = mem.drop(2) ++ fresh.map(_.copy(seq = v))
          }
          require(ckptMs > 0, s"$label: the cadence checkpoint must have fired")
          val ckParts = partNames(ckptV)
          val reused = ckParts.intersect(before).size
          println(f"SCALE10   $label ckpt ${ckptMs}%8.1f ms " +
            f"(parts ${ckParts.size}, reused $reused), delta avg " +
            f"${deltaMs / math.max(1, deltas)}%6.1f ms")
          (ckptMs, deltaMs / math.max(1, deltas), ckParts.size, reused)
        }
        def checkExact(): Unit = {
          Snapshot.clearResolvedCache()
          val head = Snapshot.manifestAt(fs,
            Snapshot.resolveVersion(fs, root, None)._2).get
          require(head.entries.sortBy(_.rel) == mem.sortBy(_.rel),
            s"$label: cold list+delta resolution must equal the mirror")
        }
      }
      val d100 = new CycleDriver("list100k", 100000)
      val d1m = new CycleDriver("list1m", 1000000)
      val (a100, b100, a1m, b1m) = timed("list_cycles_interleaved") {
        val x = d100.cycle(); val y = d1m.cycle()
        (x, d100.cycle(), y, d1m.cycle())
      }
      val ck100 = math.min(a100._1, b100._1)
      val ck1m = math.min(a1m._1, b1m._1)
      val (_, d1mavg, parts1m, reused1m) = b1m
      d100.checkExact(); d1m.checkExact()
      // the CONTRAST: what the old O(entries) checkpoint would have
      // cost at 1M — one driver text render of the full membership
      val renderT0 = System.nanoTime()
      val renderLen = graft.operators.ManifestCodec.renderManifest(
        Manifest(ddl, Nil, d1m.mem)).length
      val render1mMs = (System.nanoTime() - renderT0) / 1e6
      require(renderLen > 0, "render contrast")
      results("list_ckpt_100k_ms") = math.rint(ck100 * 10) / 10
      results("list_ckpt_1m_ms") = math.rint(ck1m * 10) / 10
      results("list_delta_1m_avg_ms") = math.rint(d1mavg * 10) / 10
      results("text_render_1m_ms") = math.rint(render1mMs * 10) / 10
      require(reused1m > parts1m / 2,
        s"a 1M checkpoint must REUSE most parts ($reused1m of $parts1m)")
      require(ck1m < 2.0 * ck100,
        f"1M cadence checkpoint (${ck1m}%.0f ms) must be within 2x of " +
          f"100k (${ck100}%.0f ms) — part rewrite cost is O(dirty·grain), " +
          "not O(entries)")
      require(ck1m * 3 < render1mMs,
        f"the 1M list checkpoint (${ck1m}%.0f ms) must beat even the bare " +
          f"TEXT RENDER of the old format (${render1mMs}%.0f ms) by 3x+")
      notes("list1m") = f"cadence checkpoint at 1M entries ${ck1m}%.0f ms vs " +
        f"100k ${ck100}%.0f ms (${ck1m / ck100}%.2fx; $reused1m/$parts1m parts " +
        f"reused), old-format 1M text RENDER alone ${render1mMs}%.0f ms; " +
        f"steady delta at 1M ${d1mavg}%.1f ms"
      writeReport()
    }

    // closed-form claims
    require(delta3kAvg > 0 && deltaAvg / delta3kAvg < 2.0,
      s"100k delta commit must be within 2x of 3k ($deltaAvg vs $delta3kAvg)")
    notes("claim") = f"delta commit ${deltaAvg}%.3fs/${deltaBytes / 10}B " +
      f"at 100k entries; " +
      f"3k delta ${delta3kAvg}%.3fs (scale-invariant); chain-10 cold resolve " +
      f"${results("delta_100k_cold_resolve_chain10")}%.3fs, warm " +
      f"${results("delta_100k_warm_resolve")}%.3fs"
    writeReport()
    println("SCALE10 PASS " + notes("claim"))
    spark.stop()
  }
}
