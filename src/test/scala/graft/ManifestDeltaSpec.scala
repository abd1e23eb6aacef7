package graft

import graft.operators.{Snapshot, Versioned, WriteOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Delta-manifest protocol (r13): incremental commits write an
  * O(changed) `_MANIFEST_DELTA` against a recorded base instead of
  * rewriting the O(files) checkpoint; resolution applies the chain;
  * every [[Snapshot.CheckpointEvery]]-deep chain re-checkpoints; and
  * vacuum PROMOTES a retained delta version to a full checkpoint
  * before its chain's base dirs leave retention. A commit applies its
  * change with the same function chain resolution uses and parses its
  * written file back; a blind commit also checks that the applied tree
  * equals the full membership it meant. So every green blind commit in
  * every other suite already certifies the apply path — this spec pins
  * the on-disk shape and the edges.
  */
class ManifestDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  private def vdirs(p: String): Seq[(Long, Path, Boolean)] =
    Versioned.list(fs, new Path(p)).sortBy(_._1)

  private def hasFull(vdir: Path) = fs.exists(new Path(vdir, "_MANIFEST"))
  private def hasDelta(vdir: Path) = fs.exists(new Path(vdir, "_MANIFEST_DELTA"))

  private def seed(p: String, keep: Int = 50): Unit =
    WriteOps.atomicOverwrite(spark,
      (0L until 60L).map(i => (i, s"v$i", (i % 5).toInt)).toDF("id", "txt", "grp"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = keep)

  test("incremental commits write deltas; the first commit and replaces write checkpoints") {
    val dir = tempDir("mdelta_shape")
    val p = s"$dir/t.parquet"
    seed(p)                                                      // v1: full
    Snapshot.deleteByKeys(spark, p, Seq(1L).toDF("id"), keepVersions = 50) // v2
    Snapshot.upsertAppend(spark, p, Seq((100L, "new", 1)).toDF("id", "txt", "grp"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 50)         // v3
    val vs = vdirs(p)
    assert(vs.map(_._1) == Seq(1L, 2L, 3L))
    assert(hasFull(vs(0)._2) && !hasDelta(vs(0)._2), "first commit is a checkpoint")
    assert(hasDelta(vs(1)._2) && !hasFull(vs(1)._2), "DV delete commits a delta")
    assert(hasDelta(vs(2)._2) && !hasFull(vs(2)._2), "append upsert commits a delta")
    // a REPLACE rewrites everything — the delta would be larger than
    // the membership, so it checkpoints
    seed(p)                                                      // v4
    val v4 = vdirs(p).last
    assert(hasFull(v4._2) && !hasDelta(v4._2), "full overwrite is a checkpoint")
    // delta bytes are O(changed): v2 (one tombstone added) is tiny
    // next to the v1 checkpoint
    val fullLen = fs.getFileStatus(new Path(vs(0)._2, "_MANIFEST")).getLen
    val deltaLen = fs.getFileStatus(new Path(vs(1)._2, "_MANIFEST_DELTA")).getLen
    // factor 2 at this toy scale (headers — uuid witness, commit_ts —
    // dominate a one-line delta); the real O(changed)-vs-O(table) gap
    // is priced at 100k entries in ScaleBench10
    assert(deltaLen * 2 < fullLen,
      s"delta ($deltaLen B) must be much smaller than the checkpoint ($fullLen B)")
  }

  test("reads, time travel and changelog are exact across a delta chain") {
    val dir = tempDir("mdelta_tt")
    val p = s"$dir/t.parquet"
    seed(p)                                                      // v1
    Snapshot.deleteByKeys(spark, p, Seq(0L, 1L).toDF("id"), keepVersions = 50)
    Snapshot.upsertAppend(spark, p, Seq((0L, "back", 9)).toDF("id", "txt", "grp"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 50)
    Snapshot.deleteByPredicate(spark, p, "grp = 2", keepVersions = 50)
    val head = graft.sources.Resolver.readParquet(spark, p)
    assert(head.filter(col("id") === 0L).select("txt").as[String].head() == "back")
    assert(head.filter(col("id") === 1L).isEmpty)
    assert(head.filter(col("grp") === 2).isEmpty)
    // time travel re-reads v1 exactly (chain base)
    val v1 = graft.sources.Resolver.readParquet(spark, p, Some(1L))
    assert(v1.count() == 60 && v1.filter(col("id") === 1L).count() == 1)
    // changelog across the whole chain stays consistent
    val cl = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
    assert(cl.filter(col("_change_type") === "delete").count() > 0)
  }

  test(s"a chain deeper than CheckpointEvery re-checkpoints") {
    val dir = tempDir("mdelta_ckpt")
    val p = s"$dir/t.parquet"
    seed(p)                                                      // v1 full
    for (i <- 0 until (Snapshot.CheckpointEvery + 2))
      Snapshot.deleteByKeys(spark, p, Seq(i.toLong).toDF("id"), keepVersions = 50)
    val vs = vdirs(p)
    val fulls = vs.filter(v => hasFull(v._2)).map(_._1)
    assert(fulls.contains(1L))
    assert(fulls.exists(_ > 1L),
      s"a checkpoint must appear within CheckpointEvery commits, got fulls=$fulls")
    // depth between consecutive checkpoints never exceeds the bound
    val sortedFulls = fulls.sorted
    sortedFulls.zip(sortedFulls.drop(1)).foreach { case (a, b) =>
      assert(b - a <= Snapshot.CheckpointEvery) }
    // and the head still reads correctly
    assert(graft.sources.Resolver.readParquet(spark, p).count() ==
      60 - (Snapshot.CheckpointEvery + 2))
  }

  test("vacuum promotes a retained delta version before its chain leaves retention") {
    val dir = tempDir("mdelta_promote")
    val p = s"$dir/t.parquet"
    // retention 3: the v1 checkpoint will be vacuumed while retained
    // deltas still chain to it
    WriteOps.atomicOverwrite(spark,
      (0L until 60L).map(i => (i, s"v$i", (i % 5).toInt)).toDF("id", "txt", "grp"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 3)                 // v1 full
    for (i <- 0 until 5)
      Snapshot.deleteByKeys(spark, p, Seq(i.toLong).toDF("id"), keepVersions = 3)
    val vs = vdirs(p)
    assert(vs.map(_._1).min >= 4L, "old versions vacuumed")
    // the oldest retained version must have been PROMOTED to a full
    // checkpoint (its recorded base is gone)
    val oldest = vs.minBy(_._1)
    assert(hasFull(oldest._2),
      s"oldest retained v${oldest._1} must be a promoted checkpoint")
    // every retained version still resolves and reads
    vs.foreach { case (v, vdir, _) =>
      assert(Snapshot.manifestAt(fs, vdir).nonEmpty, s"v$v must resolve")
      assert(graft.sources.Resolver.readParquet(spark, p, Some(v)).count() > 0)
    }
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 55)
    // fsck stays clean on the promoted layout
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("a table dropped and recreated at the same path never serves a stale cached manifest") {
    val dir = tempDir("mdelta_cache")
    val p = s"$dir/t.parquet"
    seed(p)
    Snapshot.deleteByKeys(spark, p, Seq(1L).toDF("id"), keepVersions = 50)
    // force the resolutions into the cache
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 59)
    // DROP the whole table, recreate a DIFFERENT one at the same path
    fs.delete(new Path(p), true)
    WriteOps.atomicOverwrite(spark,
      (0L until 7L).map(i => (i, s"other$i")).toDF("id", "name"),
      p, indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 50)
    Snapshot.upsertAppend(spark, p, Seq((9L, "nine")).toDF("id", "name"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 50)
    val back = graft.sources.Resolver.readParquet(spark, p)
    assert(back.columns.toSeq == Seq("id", "name"), "new incarnation's schema")
    assert(back.count() == 8, "new incarnation's rows, not the cached old table")
  }

  test("rename and drop-column commits are pure-header deltas") {
    val dir = tempDir("mdelta_meta")
    val p = s"$dir/t.parquet"
    seed(p)
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 50)
    val v2 = vdirs(p).last
    assert(hasDelta(v2._2), "rename commits a delta")
    val text = {
      val in = fs.open(new Path(v2._2, "_MANIFEST_DELTA"))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    assert(!text.split("\n").exists(l => l.startsWith("+") || l.startsWith("-")),
      "a metadata-only commit carries ZERO entry lines")
    assert(text.contains("#alias="))
    assert(graft.sources.Resolver.readParquet(spark, p).columns.contains("label"))
  }

  test("incremental vacuum GCs dereferenced files on delta commits; orphans wait for the full sweep") {
    val dir = tempDir("mdelta_ivac")
    val root = new Path(s"$dir/t.parquet")
    val dd = Snapshot.dataDir(root)
    val ddl = "id BIGINT, txt STRING"
    def mkFile(rel: String): Unit = {
      fs.mkdirs(new Path(dd, rel).getParent)
      fs.create(new Path(dd, rel), true).close()
    }
    def exists(rel: String): Boolean = fs.exists(new Path(dd, rel))
    // mirror the seq stamps commitVersion assigns — resubmitting an
    // UnsetSeq entry would read as changed and force a checkpoint
    val stamped = scala.collection.mutable.Map.empty[String, Snapshot.Entry]
    def commit(rels: Seq[String]): Long = {
      val m = graft.operators.Snapshot.Manifest(ddl, Nil,
        rels.map(r => stamped.getOrElse(r, Snapshot.Entry(r, 10L))))
      val v = Snapshot.commitVersion(fs, root, m, keepVersions = 2)
      rels.foreach(r =>
        if (!stamped.contains(r)) stamped(r) = Snapshot.Entry(r, 10L, seq = v))
      v
    }
    val f = (1 to 9).map(i => f"f$i%02d.parquet")
    f.take(6).foreach(mkFile)                           // f1..f6
    commit(f.take(6))                                   // v1 (checkpoint)
    // plant an ORPHAN no manifest ever referenced, aged past the grace
    mkFile("orphan.parquet")
    fs.setTimes(new Path(dd, "orphan.parquet"),
      System.currentTimeMillis() - 20 * 60 * 1000L, -1)
    mkFile(f(6))                                        // f7
    commit(f.take(5) :+ f(6))                           // v2: drop f6, add f7
    assert(hasDelta(vdirs(root.toString).last._2), "v2 must be a delta commit")
    // v1 still retained (keep=2) — f6 must survive
    assert(exists(f(5)), "f6 referenced by retained v1")
    mkFile(f(7))                                        // f8
    commit(f.take(5) ++ Seq(f(6), f(7)))                // v3: v1 leaves retention
    val v3 = vdirs(root.toString).last
    assert(hasDelta(v3._2), "v3 must be a delta commit (incremental vacuum path)")
    assert(!exists(f(5)), "f6 dereferenced when v1 left retention — incremental GC")
    (f.take(5) ++ Seq(f(6), f(7))).foreach(r => assert(exists(r), s"live $r"))
    assert(exists("orphan.parquet"),
      "incremental vacuum never lists the pool — the orphan waits for the full sweep")
    // a removal whose version drops LATER: v4 drops f1 (f1 stays — v3
    // retained); v5 drops v3, whose successor-diff names f1 → GC'd
    commit(f.slice(1, 5) ++ Seq(f(6), f(7)))            // v4: drop f1
    assert(exists(f(0)), "f1 referenced by retained v3")
    mkFile(f(8))                                        // f9
    commit(f.slice(1, 5) ++ Seq(f(6), f(7), f(8)))      // v5: v3 leaves retention
    assert(hasDelta(vdirs(root.toString).last._2))
    assert(!exists(f(0)), "f1 GC'd from v3→v4 successor diff")
    assert(exists("orphan.parquet"))
    // the standalone vacuum full-sweeps: the aged orphan is reclaimed
    Snapshot.vacuumLocked(fs, root, keepVersions = 2)
    assert(!exists("orphan.parquet"), "full sweep reclaims aged orphans")
    (f.slice(1, 5) ++ Seq(f(6), f(7), f(8))).foreach(r => assert(exists(r), s"live $r"))
  }

  test("journaled crash orphans are collected by the INCREMENTAL per-commit vacuum") {
    val dir = tempDir("mdelta_journal")
    val p = s"$dir/t.parquet"
    val root = new Path(p)
    seed(p, keep = 3)
    // a writer stages + pools an upsert batch (which JOURNALS the
    // planned pool names), then CRASHES before committing — drop the
    // staged result on the floor
    val Some((_, _, staged, _)) = Snapshot.stageUpsertAppend(spark, p,
      Seq((500L, "lost", 0), (501L, "lost2", 1)).toDF("id", "txt", "grp"),
      Seq("id"), indexBy = Seq("id")): @unchecked
    val dd = Snapshot.dataDir(root)
    assert(staged.nonEmpty && staged.forall(e =>
      fs.exists(new Path(dd, e.rel))), "crash left pooled files")
    val jd = new Path(root, "_stage_journal")
    assert(fs.listStatus(jd).nonEmpty, "the move was journaled")
    // age every journal past the stage grace (the crash is old)
    fs.listStatus(jd).foreach(s =>
      fs.setTimes(s.getPath, System.currentTimeMillis() - 20 * 60 * 1000L, -1))
    // a normal DELTA commit (incremental vacuum — no pool listing)
    Snapshot.deleteByKeys(spark, p, Seq(1L).toDF("id"), keepVersions = 3)
    assert(vdirs(p).map(_._2).count(hasDelta) >= 1)
    staged.foreach(e => assert(!fs.exists(new Path(dd, e.rel)),
      s"journaled crash orphan ${e.rel} must be collected incrementally"))
    // every AGED journal is reconciled away (the triggering commit's
    // own journal is younger than the grace and legitimately remains)
    assert(fs.listStatus(jd).forall(s =>
      System.currentTimeMillis() - s.getModificationTime <= 16 * 60 * 1000L),
      "reconciled (aged) journals are removed")
    // live data untouched, reads exact
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 59L)
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("journals of COMMITTED writes age out without touching their (referenced) files") {
    val dir = tempDir("mdelta_jref")
    val p = s"$dir/t.parquet"
    val root = new Path(p)
    seed(p, keep = 3) // the seed's own move is journaled
    Snapshot.upsertAppend(spark, p,
      Seq((100L, "new", 2)).toDF("id", "txt", "grp"), Seq("id"),
      indexBy = Seq("id"), keepVersions = 3)
    val jd = new Path(root, "_stage_journal")
    assert(fs.listStatus(jd).nonEmpty)
    fs.listStatus(jd).foreach(s =>
      fs.setTimes(s.getPath, System.currentTimeMillis() - 20 * 60 * 1000L, -1))
    Snapshot.deleteByKeys(spark, p, Seq(2L).toDF("id"), keepVersions = 3)
    assert(!fs.exists(jd) || fs.listStatus(jd)
      .forall(s => System.currentTimeMillis() - s.getModificationTime
        <= 16 * 60 * 1000L),
      "aged journals of committed writes are reconciled away")
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 60L,
      "referenced files survive journal reconciliation")
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("journaled orphan manifest-PARTS are collected incrementally; live parts survive") {
    val dir = tempDir("mdelta_jparts")
    val p = s"$dir/t.parquet"
    val root = new Path(p)
    val (m0, t0) = (Snapshot.ListCheckpointMin, Snapshot.TargetPartEntries)
    Snapshot.ListCheckpointMin = 8
    Snapshot.TargetPartEntries = 4
    try {
      WriteOps.atomicOverwrite(spark,
        (0L until 300L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
        indexBy = Seq("id"), maxRecordsPerFile = 10,
        commitMode = "snapshot", keepVersions = 3) // v1: LIST checkpoint
      val pd = new Path(root, "_manifest_parts")
      val liveParts = fs.listStatus(pd).map(_.getPath.getName).toSet
      assert(liveParts.nonEmpty)
      // a crashed list writer: journaled part that never got referenced
      val orphan = "part-deadcrash.txt"
      val out = fs.create(new Path(pd, orphan), true)
      out.write("x\n".getBytes); out.close()
      val jd = new Path(root, "_stage_journal")
      fs.mkdirs(jd)
      val jp = new Path(jd, s"j${System.currentTimeMillis()}_test")
      val jo = fs.create(jp, true)
      jo.write(s"_manifest_parts/$orphan\n#end\n".getBytes); jo.close()
      fs.listStatus(jd).foreach(s =>
        fs.setTimes(s.getPath, System.currentTimeMillis() - 20 * 60 * 1000L, -1))
      Snapshot.upsertAppend(spark, p, Seq((900L, "x")).toDF("id", "txt"),
        Seq("id"), indexBy = Seq("id"), keepVersions = 3) // delta commit
      assert(!fs.exists(new Path(pd, orphan)),
        "journaled orphan part collected by the incremental vacuum")
      assert(liveParts.forall(n => fs.exists(new Path(pd, n))),
        "parts referenced by retained lists survive")
      assert(graft.sources.Resolver.readParquet(spark, p).count() == 301L)
    } finally {
      Snapshot.ListCheckpointMin = m0
      Snapshot.TargetPartEntries = t0
    }
  }
}
