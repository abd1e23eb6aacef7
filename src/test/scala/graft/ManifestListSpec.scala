package graft

import graft.operators.{Snapshot, WriteOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manifest-LIST checkpoints (r14): large-membership checkpoints write
  * a `_MANIFEST_LIST` over immutable rel-range part files, REUSING
  * every part whose range saw no change since the previous checkpoint
  * — the last O(entries) commit cost goes O(changed + parts). These
  * tests force the list path at toy scale (lowered thresholds) and
  * prove read/time-travel/changelog exactness across list→delta→list
  * chains, part reuse, vacuum refcounting of the parts pool, and the
  * fsck audits. The 10⁶-entry price lives in ScaleBench10 phase 8.
  */
class ManifestListSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy(df.columns.map(col).toIndexedSeq: _*))

  private def backing(p: String, v: Long): String = {
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), Some(v))
    if (fs.exists(new Path(vdir, "_MANIFEST"))) "_MANIFEST"
    else if (fs.exists(new Path(vdir, "_MANIFEST_LIST"))) "_MANIFEST_LIST"
    else if (fs.exists(new Path(vdir, "_MANIFEST_DELTA"))) "_MANIFEST_DELTA"
    else "?"
  }

  private def listPartNames(p: String, v: Long): Set[String] = {
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), Some(v))
    val txt = {
      val in = fs.open(new Path(vdir, "_MANIFEST_LIST"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    txt.linesIterator.filter(_.startsWith("P\t"))
      .map(_.split("\t")(1)).toSet
  }

  private def poolParts(p: String): Set[String] = {
    val pd = new Path(p, "_manifest_parts")
    if (!fs.exists(pd)) Set.empty
    else fs.listStatus(pd).filter(_.isFile).map(_.getPath.getName).toSet
  }

  private def withToyThresholds[T](f: => T): T = {
    val (m0, t0) = (Snapshot.ListCheckpointMin, Snapshot.TargetPartEntries)
    Snapshot.ListCheckpointMin = 8
    Snapshot.TargetPartEntries = 4
    try f finally {
      Snapshot.ListCheckpointMin = m0
      Snapshot.TargetPartEntries = t0
    }
  }

  test("list checkpoints: cadence checkpoint reuses clean parts; reads exact across the whole chain") {
    withToyThresholds {
      val dir = tempDir("mlist_rt")
      val p = s"$dir/t.parquet"
      val expect = scala.collection.mutable.Map.empty[Long, String]
      (0L until 300L).foreach(i => expect(i) = s"v$i")
      // ~30 pool files ≥ ListCheckpointMin → the FIRST commit is a
      // list checkpoint already
      WriteOps.atomicOverwrite(spark, expect.toSeq.toDF("id", "txt"), p,
        indexBy = Seq("id"), maxRecordsPerFile = 10,
        commitMode = "snapshot", keepVersions = 40)
      assert(backing(p, 1L) == "_MANIFEST_LIST",
        s"large membership must checkpoint as a list, got ${backing(p, 1L)}")
      val v1Parts = listPartNames(p, 1L)
      assert(v1Parts.size >= 5, s"toy part size must split, got ${v1Parts.size}")
      // 17 incremental commits: 16 deltas + the cadence checkpoint
      (1 to 17).foreach { b =>
        val id = 1000L + b
        expect(id) = s"n$b"
        Snapshot.upsertAppend(spark, p, Seq((id, s"n$b")).toDF("id", "txt"),
          Seq("id"), indexBy = Seq("id"), keepVersions = 40)
      }
      val head = Snapshot.resolveVersion(fs, new Path(p), None)._1
      val backings = (1L to head).map(v => backing(p, v))
      assert(backings.count(_ == "_MANIFEST_LIST") >= 2,
        s"the cadence checkpoint must also be a list, got $backings")
      assert(backings.count(_ == "_MANIFEST_DELTA") >= 15)
      val ckptV = (2L to head).find(v => backing(p, v) == "_MANIFEST_LIST").get
      val reused = listPartNames(p, ckptV).intersect(v1Parts)
      assert(reused.nonEmpty,
        "clean parts must be REUSED by reference across checkpoints")
      assert(listPartNames(p, ckptV) != v1Parts,
        "dirty parts must have been rewritten")
      // exactness: head read, time travel to v1, changelog across the
      // list→delta→list chain
      val got = graft.sources.Resolver.readParquet(spark, p)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expect.toMap, "reads must be exact across the chain")
      assert(graft.sources.Resolver.readParquet(spark, p, Some(1L))
        .count() == 300L)
      val cl = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
      assert(cl.filter(col("_change_type") === "insert").count() == 17)
      assert(Snapshot.fsck(spark, p).isEmpty)
      // cold resolution (cache dropped) reads list + parts exactly
      Snapshot.clearResolvedCache()
      assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
        sortedRows(expect.toSeq.toDF("id", "txt")))
    }
  }

  test("vacuum refcounts the parts pool; retained lists keep their parts") {
    withToyThresholds {
      val dir = tempDir("mlist_vac")
      val p = s"$dir/t.parquet"
      def overwrite(n: Long): Unit = WriteOps.atomicOverwrite(spark,
        (0L until 300L).map(i => (i, s"g${n}_$i")).toDF("id", "txt"), p,
        indexBy = Seq("id"), maxRecordsPerFile = 10,
        commitMode = "snapshot", keepVersions = 10)
      overwrite(1); overwrite(2); overwrite(3)
      val all = poolParts(p)
      val live = (1L to 3L).flatMap(v => listPartNames(p, v)).toSet
      assert(all == live, "every pool part is referenced while retained")
      // age the parts past the stage grace, then trim retention to 1
      fs.listStatus(new Path(p, "_manifest_parts")).foreach(s =>
        fs.setTimes(s.getPath, System.currentTimeMillis() - 20 * 60 * 1000L, -1))
      Snapshot.vacuumLocked(fs, new Path(p), 1)
      val headV = Snapshot.resolveVersion(fs, new Path(p), None)._1
      val keep = listPartNames(p, headV)
      assert(poolParts(p) == keep,
        s"vacuum must reclaim exactly the dereferenced parts " +
          s"(${poolParts(p).size} on disk vs ${keep.size} referenced)")
      assert(graft.sources.Resolver.readParquet(spark, p).count() == 300L)
      assert(Snapshot.fsck(spark, p).isEmpty)
    }
  }

  test("vacuum chain promotion takes the LIST form at scale — low retention stays O(dirty)") {
    withToyThresholds {
      val dir = tempDir("mlist_prom")
      val p = s"$dir/t.parquet"
      val expect = scala.collection.mutable.Map.empty[Long, String]
      (0L until 300L).foreach(i => expect(i) = s"v$i")
      WriteOps.atomicOverwrite(spark, expect.toSeq.toDF("id", "txt"), p,
        indexBy = Seq("id"), maxRecordsPerFile = 10,
        commitMode = "snapshot", keepVersions = 3)
      // retention 3 < CheckpointEvery: the seed checkpoint leaves
      // retention while retained versions are still deltas — vacuum
      // must promote, and at list scale the promotion must be the
      // O(dirty + parts) LIST, not the O(entries) text render
      (1 to 6).foreach { b =>
        val id = 1000L + b
        expect(id) = s"n$b"
        Snapshot.upsertAppend(spark, p, Seq((id, s"n$b")).toDF("id", "txt"),
          Seq("id"), indexBy = Seq("id"), keepVersions = 3)
      }
      val retained = Snapshot.committed(fs, new Path(p))
      assert(retained.size == 3)
      val listPromoted = retained.count { case (_, vdir) =>
        fs.exists(new Path(vdir, "_MANIFEST_LIST")) &&
          fs.exists(new Path(vdir, "_MANIFEST_DELTA")) }
      val textPromoted = retained.count { case (_, vdir) =>
        fs.exists(new Path(vdir, "_MANIFEST")) }
      assert(listPromoted >= 1,
        s"promotion must take the LIST form at list scale " +
          s"(list $listPromoted, text $textPromoted)")
      assert(textPromoted == 0, "no O(entries) text render at list scale")
      // every retained version resolves COLD and content is exact
      Snapshot.clearResolvedCache()
      retained.foreach { case (v, _) =>
        assert(graft.sources.Resolver.readParquet(spark, p, Some(v))
          .count() >= 300L, s"retained v$v must resolve after promotion")
      }
      val got = graft.sources.Resolver.readParquet(spark, p)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expect.toMap)
      // dropped versions' parts await the grace-gated full sweep —
      // legitimate INFO rows; zero ERRORS is the invariant
      assert(Snapshot.fsck(spark, p)
        .filter(col("severity") === "error").isEmpty)
    }
  }

  test("fsck audits the parts pool: missing part is an error, stray part an info") {
    withToyThresholds {
      val dir = tempDir("mlist_fsck")
      val p = s"$dir/t.parquet"
      WriteOps.atomicOverwrite(spark,
        (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
        indexBy = Seq("id"), maxRecordsPerFile = 10,
        commitMode = "snapshot", keepVersions = 10)
      assert(Snapshot.fsck(spark, p).isEmpty)
      // plant an orphan part
      val pd = new Path(p, "_manifest_parts")
      val orphan = new Path(pd, "part-deadbeef.txt")
      val out = fs.create(orphan, true); out.write("x".getBytes); out.close()
      val f1 = Snapshot.fsck(spark, p)
      assert(rows(f1.select("severity", "issue")) ==
        Seq(Seq("info", "orphan_part")))
      fs.delete(orphan, false)
      // delete a referenced part: the version stops RESOLVING (error)
      // and the part audit names the file
      val victim = listPartNames(p, 1L).head
      fs.delete(new Path(pd, victim), false)
      // parts share the pool-file trust model (refcount-protected,
      // like data files): a WARM cached resolution still serves — the
      // audit must catch the corruption on the cold path
      Snapshot.clearResolvedCache()
      val f2 = Snapshot.fsck(spark, p)
      val issues = f2.select("issue").as[String].collect().toSet
      assert(issues.contains("manifest") && issues.contains("part"),
        s"missing part must surface as unresolvable + named, got $issues")
      assert(f2.filter(col("severity") === "error").count() >= 2)
    }
  }

  test("a reader racing vacuum's LIST chain promotion re-probes and succeeds") {
    withToyThresholds {
      val dir = tempDir("mlist_race")
      val p = s"$dir/t.parquet"
      val root = new Path(p)
      val expect = scala.collection.mutable.Map.empty[Long, String]
      (0L until 300L).foreach(i => expect(i) = s"v$i")
      WriteOps.atomicOverwrite(spark, expect.toSeq.toDF("id", "txt"), p,
        indexBy = Seq("id"), maxRecordsPerFile = 10,
        commitMode = "snapshot", keepVersions = 10)           // v1: list
      (1 to 3).foreach { b =>
        val id = 1000L + b
        expect(id) = s"n$b"
        Snapshot.upsertAppend(spark, p, Seq((id, s"n$b")).toDF("id", "txt"),
          Seq("id"), indexBy = Seq("id"), keepVersions = 10)  // deltas
      }
      // the RACE (r14 ADVICE, medium): this reader's text+list probes
      // of the head dir miss (it is a delta), then a concurrent vacuum
      // promotes the head's resolved membership as a _MANIFEST_LIST
      // (the default shape at list scale) and deletes the chain's base
      // dirs — the delta walk now finds a broken chain on a HEALTHY
      // table, and the re-probe must recover through the LIST form,
      // not just the text _MANIFEST
      Snapshot.clearResolvedCache()
      @volatile var fired = false
      Snapshot.promotionRaceHook = () => {
        if (!fired) {
          fired = true
          Snapshot.promotionRaceHook = () => ()
          Snapshot.vacuum(fs, root, keepVersions = 1)
          // the racing reader is ANOTHER process: its cache has no
          // warm base-chain entries the vacuum's own walk left behind
          Snapshot.clearResolvedCache()
        }
      }
      try {
        val got = graft.sources.Resolver.readParquet(spark, p)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(fired, "the race hook must have interleaved the vacuum")
        assert(got == expect.toMap, "the re-probed read must be exact")
      } finally Snapshot.promotionRaceHook = () => ()
      val (_, headDir) = Snapshot.resolveVersion(fs, root, None)
      assert(fs.exists(new Path(headDir, "_MANIFEST_LIST")) &&
        !fs.exists(new Path(headDir, "_MANIFEST")),
        "the interleaved promotion must have taken the LIST form")
      assert(Snapshot.fsck(spark, p)
        .filter(col("severity") === "error").isEmpty)
    }
  }
}
