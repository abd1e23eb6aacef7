package graft

import graft.operators.{Compaction, PrunedMerge, Snapshot, Versioned, WriteOps}
import graft.spec.{DatasetRef, JobSpec, SourceSpec, TargetSpec, WriteOp}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The manifest-based snapshot commit protocol: write/read round
  * trips, layout stickiness, time travel through full and INCREMENTAL
  * (pruned-merge) commits, refcounting vacuum, atomic snapshot
  * compaction, the CDC changelog row contract, history metadata, and
  * the CLI/DSL surface (`_version`, --at-version, --commit snapshot).
  */
class SnapshotSpec extends SparkSpec {

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy(df.columns.map(col).toIndexedSeq: _*))

  private def manifestRels(root: String, v: Long): Set[String] = {
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(root), Some(v))
    Snapshot.manifestAt(fs, vdir).get.entries.map(_.rel).toSet
  }

  private def poolFiles(root: String): Set[String] =
    Snapshot.listDataFilesRec(fs, Snapshot.dataDir(new Path(root)))
      .map(f => Snapshot.relPath(Snapshot.dataDir(new Path(root)), f.getPath)).toSet

  private def base(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"v$i", i % 7)).toDF("id", "txt", "grp")
  }

  /** Parquet round-trips are all-nullable — the comparable form. */
  private def nullable(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  test("the data-file listing fails loudly on a missing dir instead of listing it empty") {
    val missing = new Path(tempDir("graft_list"), "no_such_stage")
    intercept[java.io.FileNotFoundException] {
      Snapshot.listDataFilesRec(fs, missing)
    }
  }

  test("vacuum and fsck list a deletion-vector dir that vanished before " +
    "its listing as empty") {
    val p = s"${tempDir("graft_nodel")}/t.parquet"
    WriteOps.atomicOverwrite(spark, base(50), p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 1)
    WriteOps.atomicOverwrite(spark, base(40), p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val vanishing = new VanishingDeletesFs
    vanishing.initialize(java.net.URI.create("file:///"), conf)
    Snapshot.vacuum(vanishing, new Path(p), keepVersions = 1)
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val prev = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[VanishingDeletesFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    val audit = try Snapshot.fsck(spark, p).collect()
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    assert(audit.isEmpty, audit.mkString(", "))
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(base(40)))
  }

  test("snapshot overwrite round-trips rows, schema order and types") {
    val dir = tempDir("snap_rt")
    val p = s"$dir/t.parquet"
    val df = base(500)
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 100, commitMode = "snapshot")
    val back = graft.sources.Resolver.readParquet(spark, p)
    assert(back.schema == nullable(df.schema))
    assert(sortedRows(back) == sortedRows(df))
    // files live in the shared pool, the version dir holds metadata only
    assert(fs.exists(new Path(s"$p/_data")))
    assert(manifestRels(p, 1).nonEmpty)
  }

  test("partitioned snapshot keeps partition column order AND declared type") {
    val dir = tempDir("snap_part")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    // string partition values that LOOK numeric — naive hive path
    // inference would retype them to int
    val df = (0 until 200).map(i => (i.toLong, (i % 3).toString, s"x$i"))
      .toDF("id", "bucket", "txt")
    WriteOps.atomicOverwrite(spark, df, p, partitionBy = Seq("bucket"),
      indexBy = Seq("id"), commitMode = "snapshot")
    val back = graft.sources.Resolver.readParquet(spark, p)
    assert(back.schema == nullable(df.schema),
      s"expected ${df.schema.toDDL}, got ${back.schema.toDDL}")
    assert(sortedRows(back) == sortedRows(df))
  }

  test("snapshot layout is sticky: later writes ignore a weaker --commit flag") {
    val dir = tempDir("snap_sticky")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot")
    WriteOps.atomicOverwrite(spark, base(60), p, commitMode = "rename")
    assert(Snapshot.isSnapshotLayout(fs, new Path(p)))
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(1L, 2L))
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(base(60)))
  }

  test("time travel: retained versions read their own membership; missing is loud") {
    val dir = tempDir("snap_tt")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot")
    WriteOps.atomicOverwrite(spark, base(40), p, commitMode = "snapshot")
    assert(sortedRows(Snapshot.readAt(spark, p, Some(1))) == sortedRows(base(100)))
    assert(sortedRows(Snapshot.readAt(spark, p, Some(2))) == sortedRows(base(40)))
    assert(sortedRows(Snapshot.readAt(spark, p, None)) == sortedRows(base(40)))
    // default retention = 2: a third commit vacuums v1
    WriteOps.atomicOverwrite(spark, base(10), p, commitMode = "snapshot")
    val e = intercept[IllegalArgumentException](Snapshot.readAt(spark, p, Some(1)))
    assert(e.getMessage.contains("retained: 2, 3"))
    // and the pool no longer holds v1-only files
    assert(poolFiles(p) == manifestRels(p, 2) ++ manifestRels(p, 3))
  }

  test("_version reaches the scan through the DSL/Resolver and the engine read path") {
    val dir = tempDir("snap_dsl")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot")
    WriteOps.atomicOverwrite(spark, base(40), p, commitMode = "snapshot")
    val ref = DatasetRef("parquet", dir, "t")
    val v1 = graft.engine.Planner.sourceFrame(spark,
      SourceSpec(ref, Seq("_version" -> "1", "id__gte" -> "50")), true)
    assert(rows(v1.select(count(lit(1)))).head.head == 50L)
    val latest = graft.engine.Planner.sourceFrame(spark,
      SourceSpec(ref, Seq("id__gte" -> "0")), true)
    assert(rows(latest.select(count(lit(1)))).head.head == 40L)
  }

  test("pruned merge on a snapshot layout: incremental commit, shared files, time travel") {
    val dir = tempDir("snap_pm")
    val p = s"$dir/t.parquet"
    val b = base(4000)
    WriteOps.atomicOverwrite(spark, b, p, indexBy = Seq("id"),
      maxRecordsPerFile = 500, commitMode = "snapshot")
    val spec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 3)
    val batch = b.filter(col("id") < 200).withColumn("txt", lit("upd"))
    val current = graft.sources.Resolver.readParquet(spark, p)
    val st = PrunedMerge.merge(spark, current, batch, spec, p)
    assert(st.isDefined, "snapshot layout must take the pruned path")
    assert(st.get.filesRewritten > 0 && st.get.filesRewritten < st.get.filesTotal,
      s"expected a strict file subset, got $st")
    // v2 = v1 minus touched plus new: untouched files are SHARED
    val m1 = manifestRels(p, 1); val m2 = manifestRels(p, 2)
    val shared = m1.intersect(m2)
    assert(shared.size == st.get.filesTotal - st.get.filesRewritten)
    assert(poolFiles(p) == m1 ++ m2, "pool = union of retained manifests")
    // current read sees the merge; v1 still reads the PRE-merge rows
    val expected = b.withColumn("txt",
      when(col("id") < 200, lit("upd")).otherwise(col("txt")))
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(expected))
    assert(sortedRows(Snapshot.readAt(spark, p, Some(1))) == sortedRows(b))
    // file-pruned changelog law: across an incremental commit (files
    // genuinely shared) the symmetric-difference diff must equal the
    // full-scan diff — and find exactly the upserted keys
    val full = sortedRows(
      Snapshot.changelog(spark, p, 1, 2, Seq("id"), filePruned = false))
    val prunedCl = sortedRows(Snapshot.changelog(spark, p, 1, 2, Seq("id")))
    assert(prunedCl == full)
    assert(prunedCl.count(_.contains("update_postimage")) == 200)
  }

  test("partitioned snapshot pruned merge: only intersecting files inside partitions") {
    val dir = tempDir("snap_pmp")
    val p = s"$dir/t.parquet"
    val b = base(4000)
    WriteOps.atomicOverwrite(spark, b, p, partitionBy = Seq("grp"),
      indexBy = Seq("id"), maxRecordsPerFile = 300, commitMode = "snapshot")
    val spec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"),
      partitionBy = Seq("grp"), commitMode = "snapshot")
    val batch = b.filter(col("id") < 100).withColumn("txt", lit("upd"))
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p), batch, spec, p)
    assert(st.exists(s => s.filesRewritten > 0 && s.filesRewritten < s.filesTotal),
      s"expected a strict subset, got $st")
    val expected = b.withColumn("txt",
      when(col("id") < 100, lit("upd")).otherwise(col("txt")))
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(expected))
  }

  test("runner end-to-end on a snapshot target: upsert commits v2 incrementally") {
    val dir = tempDir("snap_runner")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(2000), p, indexBy = Seq("id"),
      maxRecordsPerFile = 250, commitMode = "snapshot")
    val src = s"$dir/src.parquet"
    base(2000).filter(col("id") < 50).withColumn("txt", lit("upd"))
      .write.parquet(src)
    graft.engine.Runner.execute(spark, JobSpec(
      SourceSpec(DatasetRef("parquet", dir, "src")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "t"),
        op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"),
        skipTimestamp = true))), log = false)
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(1L, 2L))
    val m1 = manifestRels(p, 1); val m2 = manifestRels(p, 2)
    assert(m1.intersect(m2).nonEmpty, "runner upsert should share untouched files")
    val back = graft.sources.Resolver.readParquet(spark, p)
    assert(rows(back.filter(col("txt") === "upd").select(count(lit(1))))
      .head.head == 50L)
    assert(rows(back.select(count(lit(1)))).head.head == 2000L)
  }

  test("snapshot compaction: one atomic commit repairs fragmentation, old version readable") {
    val dir = tempDir("snap_cp")
    val p = s"$dir/t.parquet"
    val b = base(4000)
    WriteOps.atomicOverwrite(spark, b, p, indexBy = Seq("id"),
      maxRecordsPerFile = 500, commitMode = "snapshot")
    // fragment: disjoint-key inserts append small growth files
    val spec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Insert, pk = Seq("id"), indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 10)
    for (i <- 1L to 3L) {
      val batch = b.filter(col("id") < 30).withColumn("id", col("id") + 100000L * i)
      val st = PrunedMerge.merge(spark,
        graft.sources.Resolver.readParquet(spark, p), batch, spec, p)
      assert(st.exists(_.filesRewritten == 0), s"insert $i should append only: $st")
    }
    val expected = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    val nBefore = manifestRels(p, 4).size
    val big = Snapshot.listDataFilesRec(fs, Snapshot.dataDir(new Path(p)))
      .map(_.getLen).max
    val st = Compaction.compact(spark, p, Seq("id"), big / 2, keepVersions = 10)
    assert(st.dirsCompacted == 1 && st.filesCompacted >= 3)
    assert(manifestRels(p, 5).size < nBefore)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == expected)
    // pre-compaction version still reads bit-identically (retention 10)
    assert(sortedRows(Snapshot.readAt(spark, p, Some(4))) == expected)
  }

  test("changelog classifies insert/delete/update with pre+post images") {
    val dir = tempDir("snap_cdc")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val v1 = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, null: String, 40))
      .toDF("id", "txt", "v")
    val v2 = Seq((1L, "a", 10),          // unchanged → no row
                 (2L, "B", 20),          // update (value change)
                 (4L, "now", 40),        // update (NULL → value IS a change)
                 (5L, "new", 50))        // insert; 3 deleted
      .toDF("id", "txt", "v")
    WriteOps.atomicOverwrite(spark, v1, p, commitMode = "snapshot")
    WriteOps.atomicOverwrite(spark, v2, p, commitMode = "snapshot")
    val cl = Snapshot.changelog(spark, p, 1, 2, Seq("id"))
    assert(cl.columns.toSeq ==
      Seq("id", "txt", "v", "_change_type", "_commit_version"))
    val got = sortedRows(cl.select("id", "txt", "_change_type", "_commit_version"))
    val want = sortedRows(Seq(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (4L, null: String, "update_preimage", 2L), (4L, "now", "update_postimage", 2L),
      (3L, "c", "delete", 2L), (5L, "new", "insert", 2L))
      .toDF("id", "txt", "_change_type", "_commit_version"))
    assert(got == want)
  }

  test("history lists versions with protocol, file and byte metadata") {
    val dir = tempDir("snap_hist")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot",
      maxRecordsPerFile = 30)
    WriteOps.atomicOverwrite(spark, base(10), p, commitMode = "snapshot")
    val h = rows(Snapshot.history(spark, p)
      .select("version", "committed", "protocol", "files"))
    assert(h.map(_.take(3)) == Seq(Seq(2L, true, "snapshot"), Seq(1L, true, "snapshot")))
    assert(h.head(3).asInstanceOf[Long] >= 1L)
    assert(h(1)(3).asInstanceOf[Long] >= 4L) // 100 rows / 30 per file
  }

  test("keep-versions > 2 deepens retention; vacuum respects the refcount") {
    val dir = tempDir("snap_keep")
    val p = s"$dir/t.parquet"
    for (i <- 1 to 4)
      WriteOps.atomicOverwrite(spark, base(10 * i), p, commitMode = "snapshot",
        keepVersions = 3)
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(2L, 3L, 4L))
    assert(poolFiles(p) ==
      manifestRels(p, 2) ++ manifestRels(p, 3) ++ manifestRels(p, 4))
    assert(sortedRows(Snapshot.readAt(spark, p, Some(2))) == sortedRows(base(20)))
  }

  test("crash recovery: stray uncommitted version dirs and stages never block or corrupt") {
    val dir = tempDir("snap_crash")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot")
    // simulate a writer that died mid-commit: an uncommitted _v_2 with
    // a manifest but NO marker, plus an abandoned stage dir
    val vdir = new Path(s"$p/_v_00000000000000000002")
    fs.mkdirs(vdir)
    fs.create(new Path(vdir, "_MANIFEST"), false).close()
    fs.mkdirs(new Path(s"$p/._snap_stage_999"))
    // age the stage past the live-writer grace window (r11: young
    // stages may belong to a CONCURRENT writer and are never swept)
    fs.setTimes(new Path(s"$p/._snap_stage_999"),
      System.currentTimeMillis() - 20 * 60 * 1000L, -1)
    // readers ignore the uncommitted version
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(base(100)))
    // the next commit lands ABOVE the stray (v3, never re-using v2),
    // and its vacuum removes both the stray dir and the stage
    WriteOps.atomicOverwrite(spark, base(50), p, commitMode = "snapshot")
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(1L, 3L))
    assert(!fs.exists(vdir), "uncommitted stray must be vacuumed")
    assert(!fs.exists(new Path(s"$p/._snap_stage_999")),
      "abandoned stage must be swept")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(base(50)))
  }

  test("--changelog with a target writes the CDC feed as a dataset") {
    import graft.cli.Main
    val dir = tempDir("snap_clcli")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "txt"), p, commitMode = "snapshot")
    WriteOps.atomicOverwrite(spark,
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "txt"), p,
      commitMode = "snapshot")
    val (job, opts) = Main.parse(Array(
      "-s", s"parquet/$dir/t", "--changelog", "1:2", "--pk", "id",
      "-t", s"parquet/$dir/feed", "-y"))
    Main.execute(spark, job, opts)
    val feed = spark.read.parquet(s"$dir/feed.parquet")
    assert(rows(feed.groupBy("_change_type").count().orderBy("_change_type"))
      == Seq(Seq("insert", 1L), Seq("update_postimage", 1L),
        Seq("update_preimage", 1L)))
  }

  test("_version on a non-parquet backend refuses loudly") {
    val e = intercept[IllegalArgumentException](
      graft.sources.Resolver.read(spark,
        graft.spec.DatasetRef("csv", "/tmp", "x"),
        query = Seq("_version" -> "1")))
    assert(e.getMessage.contains("parquet snapshot"))
  }

  test("--zorder maintenance on a snapshot target: second-dim pruning improves, history kept") {
    import graft.cli.Main
    val dir = tempDir("snap_zo")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    // two independent dims; initial layout sorted on `a` only, so `b`
    // range scans must touch ~every file
    val rnd = new scala.util.Random(11)
    val df = (0 until 20000).map(_ => (rnd.nextInt(1 << 14).toLong,
      rnd.nextInt(1 << 14).toLong)).toDF("a", "b")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("a"),
      maxRecordsPerFile = 1250, commitMode = "snapshot")
    val expected = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    val nFilesBefore = graft.sources.Resolver.readParquet(spark, p)
      .inputFiles.length
    val touchedBefore = {
      val env = graft.sources.Resolver.readParquet(spark, p)
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
        .agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
      env.filter(col("lo") <= 500 && col("hi") >= 0).count()
    }
    val (job, opts) = Main.parse(Array(
      "-t", s"parquet/$dir/t", "--zorder", "a,b",
      "--max-records-per-file", "1250", "-y"))
    Main.execute(spark, job, opts)
    // a new version committed; rows identical; prior version readable
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(1L, 2L))
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == expected)
    assert(Snapshot.readAt(spark, p, Some(1)).count() == 20000)
    val touchedAfter = {
      val env = graft.sources.Resolver.readParquet(spark, p)
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
        .agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
      env.filter(col("lo") <= 500 && col("hi") >= 0).count()
    }
    assert(touchedBefore >= nFilesBefore - 1,
      s"pre-zorder, a b-range should touch ~all files ($touchedBefore/$nFilesBefore)")
    assert(touchedAfter < touchedBefore,
      s"z-order must improve b-pruning: $touchedAfter vs $touchedBefore")
  }

  test("r18 --zorder on a STRING column: byte-prefix clustering, " +
    "recorded envelopes, manifest skipping through the DSL; bad " +
    "columns are CliError, not NPE") {
    import graft.cli.Main
    val dir = tempDir("snap_zostr")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // hex-digest-shaped keys (the URL/md5 use case), scattered layout:
    // initial sort on v only, so k-ranges touch ~every file
    val df = (0 until 20000).map { i =>
      (f"${scala.util.hashing.MurmurHash3.stringHash(i.toString)}%08x",
        rnd.nextInt(1 << 14).toLong, rnd.nextDouble())
    }.toDF("k", "v", "x")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("v"),
      maxRecordsPerFile = 1250, commitMode = "snapshot")
    val expected = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    val (job, opts) = Main.parse(Array(
      "-t", s"parquet/$dir/t", "--zorder", "k,v",
      "--max-records-per-file", "1250", "-y"))
    Main.execute(spark, job, opts)
    // new version committed, content identical, history readable
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(1L, 2L))
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == expected)
    // the commit RECORDS envelopes for both clustered columns — the
    // r17 gap: a CLI-z-ordered table previously carried none, so the
    // read-time skipping the layout exists for could never engage
    val m = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m.dataEntries.nonEmpty && m.dataEntries.forall { e =>
      e.envs.exists(env => env.get("k").exists(_.bmin.isDefined) &&
        env.get("v").exists(_.min.isDefined))
    }, "every member must carry byte bounds for k and long bounds for v")
    // a string-range DSL read of the CLI-z-ordered table plans a
    // STRICT member subset (the q_zorder_str law through the CLI
    // surface) and stays exact
    val full = graft.sources.Resolver.readParquet(spark, p)
    val frame = graft.engine.Planner.sourceFrame(spark,
      graft.spec.SourceSpec(graft.spec.DatasetRef("parquet", dir, "t"),
        query = Seq("k__gte" -> "4", "k__lt" -> "8")))
    assert(frame.count() ==
      full.filter(col("k") >= "4" && col("k") < "8").count())
    assert(frame.count() > 0)
    assert(frame.inputFiles.length < full.inputFiles.length,
      s"string-range read must prune the z-ordered member set " +
        s"(${frame.inputFiles.length} of ${full.inputFiles.length})")
    // unsupported column type → CliError with the type named
    val (jBad, oBad) = Main.parse(Array(
      "-t", s"parquet/$dir/t", "--zorder", "x", "-y"))
    val eBad = intercept[Exception](Main.execute(spark, jBad, oBad))
    assert(eBad.getMessage.contains("--zorder supports") &&
      eBad.getMessage.contains("double"), eBad.getMessage)
    // all-NULL clustered column → CliError naming the column
    val pn = s"$dir/n.parquet"
    WriteOps.atomicOverwrite(spark,
      df.withColumn("nul", org.apache.spark.sql.functions.lit(null)
        .cast("string")), pn, maxRecordsPerFile = 5000,
      commitMode = "snapshot")
    val (jNul, oNul) = Main.parse(Array(
      "-t", s"parquet/$dir/n", "--zorder", "nul", "-y"))
    val eNul = intercept[Exception](Main.execute(spark, jNul, oNul))
    assert(eNul.getMessage.contains("no non-null"), eNul.getMessage)
  }

  test("fsck: clean layout is empty; planted corruption classes are reported") {
    val dir = tempDir("snap_fsck")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot",
      maxRecordsPerFile = 30)
    assert(Snapshot.fsck(spark, p).isEmpty)
    // plant: an orphan pool file, a stray uncommitted dir, and a
    // missing member (delete one manifest entry's file)
    val dd = Snapshot.dataDir(new Path(p))
    fs.create(new Path(dd, "orphan-file.parquet"), false).close()
    fs.mkdirs(new Path(s"$p/_v_00000000000000000099"))
    val firstRel = manifestRels(p, 1).head
    fs.delete(new Path(dd, firstRel), false)
    val issues = rows(Snapshot.fsck(spark, p).orderBy("issue"))
    val byIssue = issues.groupBy(_(1)).view.mapValues(_.size).toMap
    assert(byIssue.get("missing").contains(1), s"got $issues")
    assert(byIssue.get("orphan").contains(1))
    assert(byIssue.get("stray").contains(1))
    assert(issues.collect { case Seq("error", _, _*) => 1 }.sum == 1)
  }

  test("fsck --full cross-checks recorded row counts against footers") {
    val dir = tempDir("snap_fsck_rows")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(100), p, commitMode = "snapshot",
      maxRecordsPerFile = 30, keepVersions = 4)
    assert(Snapshot.fsck(spark, p, full = true).isEmpty,
      "honest recorded counts audit clean")
    // falsify one entry's recorded rows — the metadata-count input
    val root = new Path(p)
    val (v, vdir) = Snapshot.resolveVersion(fs, root, None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.dataEntries.forall(_.rows.isDefined),
      "the writer must record per-file rows")
    val lied = m.copy(entries = m.entries.zipWithIndex.map { case (e, i) =>
      if (i == 0) e.copy(rows = e.rows.map(_ + 7)) else e })
    graft.operators.ManifestCodec.writeManifest(fs, new Path(root, f"_v_${v + 1}%020d"), lied)
    fs.create(new Path(new Path(root, f"_v_${v + 1}%020d"),
      graft.operators.Versioned.Marker), false).close()
    Snapshot.clearResolvedCache()
    // the default audit stays metadata-only (no rows check)...
    assert(!rows(Snapshot.fsck(spark, p)).exists(_(1) == "rows"))
    // ...the full audit opens footers and reports the lie as an error
    val full = rows(Snapshot.fsck(spark, p, full = true))
    assert(full.exists(r => r(0) == "error" && r(1) == "rows"),
      s"falsified rows must be a 'rows' error, got $full")
  }

  test("expect stage gates data quality with SQL CHECK semantics") {
    import spark.implicits._
    val df = Seq((1, Some(5)), (2, None), (3, Some(-1))).toDF("id", "v")
    def run(cond: String, maxV: String = "0") =
      graft.functions.Transformers.apply(df,
        Seq(graft.spec.TransformStage("expect",
          if (maxV == "0") Seq(cond) else Seq(cond, maxV))))
    // NULL passes (SQL CHECK), -1 violates
    val e = intercept[IllegalStateException](run("v >= 0").collect())
    assert(e.getMessage.contains("1 row(s) violate"))
    // allowance lets it through, frame flows unchanged
    assert(run("v >= 0", "1").count() == 3)
    assert(run("id > 0").count() == 3)
  }

  test("--at-timestamp: latest commit at or before the instant; too-early is loud") {
    val dir = tempDir("snap_ts")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark, Seq((1L, "v1")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(1200) // commit instants must be separable by mtime
    WriteOps.atomicOverwrite(spark, Seq((1L, "v2")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 3)
    def tagAt(q: Seq[(String, String)]) = graft.sources.Resolver
      .read(spark, DatasetRef("parquet", dir, "t"), query = q)
      .select("txt").as[String].head()
    assert(tagAt(Seq("_version_ts" -> t1.toString)) == "v1")
    assert(tagAt(Seq("_version_ts" ->
      System.currentTimeMillis().toString)) == "v2")
    // a local-datetime literal parses too (JVM zone, same as mtimes)
    val lit = new java.sql.Timestamp(t1).toString
    assert(tagAt(Seq("_version_ts" -> lit)) == "v1")
    val e = intercept[IllegalArgumentException](tagAt(Seq("_version_ts" -> "1000")))
    assert(e.getMessage.contains("earliest retained commit"))
    // CLI sugar lands the control key on the source query
    val (job, _) = graft.cli.Main.parse(Array(
      "-s", s"parquet/$dir/t", "--at-timestamp", t1.toString))
    assert(job.source.query.contains("_version_ts" -> t1.toString))
  }

  test("deletion vectors: O(batch) delete touches no data file; time travel; null-safe pk") {
    val dir = tempDir("snap_dv")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "txt")
      .unionByName(Seq((Option.empty[Long], "n")).toDF("id", "txt"))
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 2, commitMode = "snapshot", keepVersions = 3)
    val dataBefore = poolFiles(p).filterNot(_.startsWith("_deletes/"))
    val (v, n) = Snapshot.deleteByKeys(spark, p,
      Seq(Some(2L), Option.empty[Long]).toDF("id"), keepVersions = 3)
    assert(v == 2L && n == 2L)
    // zero data files written or removed — the delete is tombstones only
    assert(poolFiles(p).filterNot(_.startsWith("_deletes/")) == dataBefore)
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.deleteEntries.nonEmpty && m.dataEntries.nonEmpty)
    // merge-on-read: id=2 AND the NULL-id row are gone
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(rows(now.orderBy("txt")).map(_(1)) == Seq("a", "c", "d"))
    // time travel: v1 still serves all five rows
    assert(graft.sources.Resolver.readParquet(spark, p, Some(1L)).count() == 5)
    // fsck is clean with tombstones referenced
    assert(Snapshot.fsck(spark, p).isEmpty)
  }

  test("deletion vectors: mixed key-column sets across DV commits apply per their own schema") {
    val dir = tempDir("snap_dvmix")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
        .toDF("id", "txt"),
      p, commitMode = "snapshot", keepVersions = 5)
    // commit 1 tombstones by (id); commit 2 by (id, txt) — each must
    // delete exactly the rows matching ITS OWN key tuple, not be
    // coerced under one arbitrary schema
    Snapshot.deleteByKeys(spark, p, Seq(1L).toDF("id"), keepVersions = 5)
    Snapshot.deleteByKeys(spark, p,
      Seq((3L, "b"), (4L, "ZZZ")).toDF("id", "txt"), keepVersions = 5)
    val now = graft.sources.Resolver.readParquet(spark, p)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    // id=1 gone (commit 1); id=3 gone (matches (3,'b')); id=4 STAYS
    // ((4,'ZZZ') matches nothing); 2 and 5 stay
    assert(now == Seq(2L, 4L, 5L), s"got $now")
    assert(Snapshot.fsck(spark, p)
      .filter(col("severity") === "error").isEmpty)
  }

  test("deletion vectors: pruned merge composes — tombstoned touched reads, batch wins, strict subset") {
    val dir = tempDir("snap_dvm")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "txt")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 3)
    Snapshot.deleteByKeys(spark, p, (10L until 20L).toDF("id"), keepVersions = 3)
    // upsert over ACTIVE tombstones: re-asserts a deleted key (15),
    // updates a live one (50), inserts a fresh one (200)
    val batch = Seq((15L, "X"), (50L, "Y"), (200L, "Z")).toDF("id", "txt")
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot")
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p), batch, t, p)
    // the pruned path RAN and rewrote a strict subset (no full rewrite)
    assert(st.exists(s => s.filesRewritten > 0 && s.filesRewritten < s.filesTotal),
      s"want strict-subset pruned merge over DVs, got $st")
    val now = graft.sources.Resolver.readParquet(spark, p)
    // 100 − 10 tombstoned + 15 re-asserted + 200 inserted = 92
    assert(now.count() == 92)
    assert(rows(now.filter($"id".isin(15L, 50L, 200L))
      .select("id", "txt").orderBy("id")) ==
      Seq(Seq(15L, "X"), Seq(50L, "Y"), Seq(200L, "Z")))
    assert(now.filter($"id".isin(10L, 14L, 16L, 19L)).isEmpty,
      "unrelated tombstones must keep applying")
    // SEQUENCE semantics (r12): the committed DV set is the BASE
    // tombstone file UNCHANGED — the rewritten files carry a newer
    // commit seq, so the tombstone is exempt for them (15's new row
    // reads through it) while untouched files keep reading under it
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.deleteEntries.size == 1 &&
      m.deleteEntries.head.cols.contains(Seq("id")))
    val tombKeys = spark.read.parquet(new Path(
      Snapshot.dataDir(new Path(p)), m.deleteEntries.head.rel).toString)
      .as[Long].collect().toSet
    assert(tombKeys == (10L until 20L).toSet,
      "the base tombstone commits byte-unchanged under sequence semantics")
    val tombSeq = m.deleteEntries.head.seq
    assert(tombSeq == 2L, s"tombstone seq must be its commit version, got $tombSeq")
    assert(m.dataEntries.exists(_.seq > tombSeq),
      "rewritten files must carry a newer seq than the tombstone")
    assert(m.dataEntries.exists(_.seq < tombSeq),
      "untouched files must keep their older seq")
    // time travel: the pre-merge DV version still reads its own state
    assert(graft.sources.Resolver.readParquet(spark, p, Some(2L)).count() == 90)
    // EQUIVALENCE LAW: ≡ materialize-then-merge on a clone
    val p2 = s"$dir/t2.parquet"
    WriteOps.atomicOverwrite(spark, df, p2, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 3)
    Snapshot.deleteByKeys(spark, p2, (10L until 20L).toDF("id"), keepVersions = 3)
    assert(Snapshot.materializeDeletes(spark, p2, indexBy = Seq("id"),
      maxRecordsPerFile = 10))
    val t2 = t.copy(ref = DatasetRef("parquet", dir, "t2"))
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p2), batch, t2, p2).isDefined)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(graft.sources.Resolver.readParquet(spark, p2)))
    // compaction rewrites every (small) data file here, folding the
    // tombstones as it goes — the DV set drops in the same commit and
    // a later materialize is already a no-op
    val cst = Compaction.compact(spark, p, Seq("id"), 1L << 20, keepVersions = 3)
    assert(cst.filesCompacted > 0)
    val (_, vdir2) = Snapshot.resolveVersion(fs, new Path(p), None)
    assert(Snapshot.manifestAt(fs, vdir2).get.deleteEntries.isEmpty)
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 92)
    assert(!Snapshot.materializeDeletes(spark, p))
  }

  test("DV-composed merge is null-safe: a NULL-pk tombstone drops when the batch re-asserts NULL") {
    val dir = tempDir("snap_dvnull")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      (Seq((Some(1L), "a"), (Some(2L), "b"), (Option.empty[Long], "n")))
        .toDF("id", "txt"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 1,
      commitMode = "snapshot", keepVersions = 5)
    // tombstone the NULL pk row (null-safe delete semantics)
    Snapshot.deleteByKeys(spark, p,
      Seq(Option.empty[Long]).toDF("id"), keepVersions = 5)
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 2)
    // composed upsert re-asserts the NULL key — the tombstone must
    // drop (null-safe anti-join) and the new row must survive reads
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 5)
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((Option.empty[Long], "N2")).toDF("id", "txt"), t, p)
    assert(st.isDefined)
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(now.count() == 3 &&
      rows(now.filter($"id".isNull).select("txt")) == Seq(Seq("N2")))
    // sequence semantics: the NULL tombstone commits unchanged — the
    // re-asserted NULL row lives in a NEWER-seq file the tombstone is
    // exempt for, which is exactly the null-safe batch-wins contract
    // the old survivor-consolidation rewrite used to express
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.deleteEntries.nonEmpty &&
      m.dataEntries.exists(_.seq > m.deleteEntries.head.seq),
      "the NULL tombstone survives; the batch row outranks it by seq")
  }

  test("append-shaped upsert: O(batch) commit, batch wins by seq, zero data files touched") {
    val dir = tempDir("snap_mor")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "txt")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 4)
    Snapshot.deleteByKeys(spark, p, (10L until 20L).toDF("id"), keepVersions = 4)
    val m0 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    // re-asserts a deleted key (15), replaces a live one (50), inserts
    // a fresh one (200) — without reading or rewriting ANY data file
    val batch = Seq((15L, "X"), (50L, "Y"), (200L, "Z")).toDF("id", "txt")
    val (v, n) = Snapshot.upsertAppend(spark, p, batch, Seq("id"),
      indexBy = Seq("id"), keepVersions = 4)
    assert(v == 3L && n == 3L)
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(now.count() == 92)
    assert(rows(now.filter($"id".isin(15L, 50L, 200L))
      .select("id", "txt").orderBy("id")) ==
      Seq(Seq(15L, "X"), Seq(50L, "Y"), Seq(200L, "Z")))
    assert(now.filter($"id".isin(10L, 14L, 19L)).isEmpty,
      "unrelated tombstones keep applying")
    // membership: every base entry still present, exactly one data
    // file + one tombstone added, both at the new commit's seq
    val m1 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m0.entries.forall(e => m1.entries.contains(e)),
      "an append-shaped upsert must not touch any existing member")
    val added = m1.entries.filterNot(m0.entries.contains)
    assert(added.count(!_.rel.startsWith("_deletes/")) == 1)
    assert(added.count(_.rel.startsWith("_deletes/")) == 1)
    assert(added.forall(_.seq == v))
    assert(added.find(_.rel.startsWith("_deletes/")).get.cols
      .contains(Seq("id")))
    // the appended file records key envelopes (merges keep planning
    // from the manifest)
    assert(added.find(!_.rel.startsWith("_deletes/")).get.envs
      .exists(_.contains("id")))
    // time travel: the pre-append version is untouched
    assert(graft.sources.Resolver.readParquet(spark, p, Some(2L)).count() == 90)
    assert(Snapshot.fsck(spark, p)
      .filter(col("severity") === "error").isEmpty)
    // EQUIVALENCE: ≡ the rewriting pruned merge on a clone
    val p2 = s"$dir/t2.parquet"
    WriteOps.atomicOverwrite(spark, df, p2, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 4)
    Snapshot.deleteByKeys(spark, p2, (10L until 20L).toDF("id"), keepVersions = 4)
    val t2 = TargetSpec(DatasetRef("parquet", dir, "t2"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot")
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p2), batch, t2, p2).isDefined)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(graft.sources.Resolver.readParquet(spark, p2)))
    // compaction retires the whole debt: folds per class, drops DVs
    val cst = Compaction.compact(spark, p, Seq("id"), 1L << 20, keepVersions = 4)
    assert(cst.filesCompacted > 0)
    assert(Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
      .deleteEntries.isEmpty)
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 92)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) ==
      sortedRows(graft.sources.Resolver.readParquet(spark, p2)))
  }

  test("append-shaped upsert: dup-key batch dedups like the rewriting upsert; refusals loud") {
    val dir = tempDir("snap_mor2")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 4)
    // duplicate pk in one batch: deterministic pick (min non-pk sort),
    // the WriteOps.dedupeByPk rule — never two live rows for one pk
    Snapshot.upsertAppend(spark, p,
      Seq((7L, "bbb"), (7L, "aaa")).toDF("id", "txt"), Seq("id"))
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(rows(now.filter($"id" === 7L).select("txt")) == Seq(Seq("aaa")))
    assert(now.count() == 10)
    // empty batch: no-op, no commit
    val (vBefore, _) = Snapshot.resolveVersion(fs, new Path(p), None)
    val (vAfter, n0) = Snapshot.upsertAppend(spark, p,
      Seq.empty[(Long, String)].toDF("id", "txt"), Seq("id"))
    assert(vAfter == vBefore && n0 == 0L)
    // batch missing a column: loud (the append asserts whole rows)
    intercept[IllegalArgumentException] {
      Snapshot.upsertAppend(spark, p, Seq(1L).toDF("id"), Seq("id"))
    }
    // LEGACY tombstones (pre-sequence, apply globally) refuse loudly:
    // they would delete the appended batch too
    val root = new Path(p)
    val (hv, hdir) = Snapshot.resolveVersion(fs, root, None)
    val mh = Snapshot.manifestAt(fs, hdir).get
    val vdirL = new Path(p, f"_v_${hv + 1}%020d")
    graft.operators.ManifestCodec.writeManifest(fs, vdirL, mh.copy(entries =
      mh.entries :+ Snapshot.Entry("_deletes/legacy.parquet", 1L,
        cols = Some(Seq("id")))))
    fs.create(new Path(vdirL, Versioned.Marker), true).close()
    val e = intercept[IllegalArgumentException] {
      Snapshot.upsertAppend(spark, p,
        Seq((1L, "x")).toDF("id", "txt"), Seq("id"))
    }
    assert(e.getMessage.contains("legacy"))
  }

  test("deletion vectors: a PARTIAL-key tombstone still declines the pruned merge") {
    val dir = tempDir("snap_dvpart")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      (0L until 40L).map(i => (i, s"g${i % 4}")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 3)
    // tombstone by txt — a SUBSET of the pk columns (pk = id): rows it
    // matches can live in untouched files, so composing would be
    // unsound; the merge must decline to the (materializing) fallback
    Snapshot.deleteByKeys(spark, p, Seq("g1").toDF("txt"), keepVersions = 3)
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot")
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((0L, "zz")).toDF("id", "txt"), t, p).isEmpty)
  }

  test("deletion vectors: changelog across a DV delete classifies deletes; CLI --dv end-to-end") {
    import graft.cli.Main
    val dir = tempDir("snap_dvcli")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 3)
    // the keys to delete arrive as a dataset; -o delete --dv routes
    // them to tombstones
    Seq(5L, 6L, 7L).toDF("id").write.parquet(s"$dir/kill.parquet")
    val (job, opts) = Main.parse(Array(
      "-s", s"parquet/$dir/kill", "-t", s"parquet/$dir/t",
      "-o", "delete", "--pk", "id", "--dv", "-y"))
    Main.execute(spark, job, opts)
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(now.count() == 47 && now.filter($"id".isin(5L, 6L, 7L)).isEmpty)
    // CDC across the DV commit: exactly the three tombstoned rows, as deletes
    val cl = Snapshot.changelog(spark, p, 1L, 2L, Seq("id"))
    assert(rows(cl.select("id", "_change_type").orderBy("id")) ==
      Seq(Seq(5L, "delete"), Seq(6L, "delete"), Seq(7L, "delete")))
    // --materialize-deletes via CLI
    val (job2, opts2) = Main.parse(Array(
      "-s", s"parquet/$dir/t", "--materialize-deletes", "-y"))
    Main.execute(spark, job2, opts2)
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    assert(Snapshot.manifestAt(fs, vdir).get.deleteEntries.isEmpty)
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 47)
  }

  test("append-shaped upsert: CLI -o upsert --dv end-to-end; refusal matrix loud") {
    import graft.cli.Main
    val dir = tempDir("snap_morcli")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 3)
    val m0 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    Seq((3L, "X"), (99L, "Y")).toDF("id", "txt")
      .write.parquet(s"$dir/batch.parquet")
    val (job, opts) = Main.parse(Array(
      "-s", s"parquet/$dir/batch", "-t", s"parquet/$dir/t",
      "-o", "upsert", "--pk", "id", "--dv", "-y"))
    Main.execute(spark, job, opts)
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(now.count() == 51)
    assert(rows(now.filter($"id".isin(3L, 99L)).select("id", "txt")
      .orderBy("id")) == Seq(Seq(3L, "X"), Seq(99L, "Y")))
    val m1 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m0.entries.forall(m1.entries.contains),
      "the CLI route must commit O(batch): no existing member touched")
    // --tq would make the result depend on table rows — the blind
    // append cannot honor it; loud, not silently rewriting
    val (jq, oq) = Main.parse(Array(
      "-s", s"parquet/$dir/batch", "-t", s"parquet/$dir/t",
      "-o", "upsert", "--pk", "id", "--dv", "--tq", "txt__ne=X", "-y"))
    assert(intercept[IllegalArgumentException] {
      Main.execute(spark, jq, oq)
    }.getMessage.contains("--dv"))
    // non-snapshot layout: loud (the append needs a manifest)
    WriteOps.atomicOverwrite(spark,
      (0L until 5L).map(i => (i, s"v$i")).toDF("id", "txt"),
      s"$dir/plain.parquet", indexBy = Seq("id"))
    val (jp, op2) = Main.parse(Array(
      "-s", s"parquet/$dir/batch", "-t", s"parquet/$dir/plain",
      "-o", "upsert", "--pk", "id", "--dv", "-y"))
    assert(intercept[IllegalArgumentException] {
      Main.execute(spark, jp, op2)
    }.getMessage.contains("snapshot"))
  }

  test("drop column is metadata-only: reads exclude it, time travel keeps it, changelog crosses it") {
    val dir = tempDir("snap_drop")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"v$i", i * 10)).toDF("id", "txt", "score")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 6)
    // v2: a step whose ONLY change is in the soon-dropped column
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 6)
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((5L, "v5", 999L)).toDF("id", "txt", "score"), t, p).isDefined)
    def dataFiles = Snapshot.listDataFilesRec(fs,
      Snapshot.dataDir(new Path(p))).map(_.getPath.toString).toSet
    val before = dataFiles
    val v = Snapshot.dropColumn(spark, p, "score", keepVersions = 6)
    assert(v == 3L && dataFiles == before,
      "drop must touch zero data files")
    // reads exclude the column; values intact
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(now.columns.toSeq == Seq("id", "txt") && now.count() == 40)
    // time travel serves each version's OWN schema
    val v2 = graft.sources.Resolver.readParquet(spark, p, Some(2L))
    assert(v2.columns.toSeq == Seq("id", "txt", "score"))
    assert(rows(v2.filter($"id" === 5L).select("score")) == Seq(Seq(999L)))
    // changelog ACROSS the drop: the v1→v2 score-only update vanishes
    // under the evolved schema (zero change rows), v2→v3 is pure drop
    assert(Snapshot.changelog(spark, p, 1L, 3L, Seq("id")).isEmpty)
    assert(Snapshot.changelog(spark, p, 2L, 3L, Seq("id")).isEmpty)
    // post-drop writes work over the narrowed schema; old files carry
    // the extra physical column harmlessly
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((7L, "DROPPED-ERA")).toDF("id", "txt"), t, p).isDefined)
    assert(rows(graft.sources.Resolver.readParquet(spark, p)
      .filter($"id" === 7L).select("txt")) == Seq(Seq("DROPPED-ERA")))
    assert(Snapshot.fsck(spark, p)
      .filter(col("severity") === "error").isEmpty)
    // RESURRECTION refusals: widening a batch with the dropped name is
    // loud and permanent (old files still carry stale 'score' values)
    val wide = intercept[IllegalArgumentException] {
      PrunedMerge.merge(spark,
        graft.sources.Resolver.readParquet(spark, p),
        Seq((8L, "x", 1L)).toDF("id", "txt", "score"), t, p)
    }
    assert(wide.getMessage.contains("DROPPED"))
    // ...and rename onto the dropped name is refused the same way
    val ren = intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, p, "txt", "score", keepVersions = 6)
    }
    assert(ren.getMessage.contains("DROPPED"))
    // a FULL rewrite references fresh files only — the name is free again
    WriteOps.atomicOverwrite(spark,
      (0L until 5L).map(i => (i, s"n$i", i + 100)).toDF("id", "txt", "score"),
      p, indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 6)
    val mAfter = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(mAfter.dropped.isEmpty && mAfter.schema.fieldNames.contains("score"))
  }

  test("drop column: refusal matrix and rename interaction") {
    val dir = tempDir("snap_drop2")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      (0L until 20L).map(i => (i, s"v$i", i % 3)).toDF("id", "txt", "band"),
      p, partitionBy = Seq("band"), indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 4)
    // partition column: loud
    assert(intercept[IllegalArgumentException] {
      Snapshot.dropColumn(spark, p, "band")
    }.getMessage.contains("partition"))
    // key tombstone keyed on the column: loud until materialized
    Snapshot.deleteByKeys(spark, p,
      Seq((3L, "v3")).toDF("id", "txt"), keepVersions = 4)
    assert(intercept[IllegalArgumentException] {
      Snapshot.dropColumn(spark, p, "txt")
    }.getMessage.contains("tombstone"))
    Snapshot.materializeDeletes(spark, p, indexBy = Seq("id"), keepVersions = 4)
    // rename then drop retires BOTH physical names
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 4)
    Snapshot.dropColumn(spark, p, "label", keepVersions = 4)
    val m = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m.dropped.toSet == Set("label", "txt") && m.aliases.isEmpty)
    assert(graft.sources.Resolver.readParquet(spark, p).columns.toSeq ==
      Seq("id", "band"))
    // the RETIRED PHYSICAL name is refused too (old files carry 'txt'
    // physically — a rename landing on it would serve their stale
    // values as the renamed column)
    assert(intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, p, "id", "txt", keepVersions = 4)
    }.getMessage.contains("DROPPED"))
    // the last DATA column (band is partition-borne): loud
    assert(intercept[IllegalArgumentException] {
      Snapshot.dropColumn(spark, p, "id")
    }.getMessage.contains("last data column"))
    // CLI route
    val dir2 = tempDir("snap_drop_cli")
    val p2 = s"$dir2/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 5L).map(i => (i, s"v$i", i)).toDF("id", "txt", "n"), p2,
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 3)
    val (job, opts) = graft.cli.Main.parse(Array(
      "-s", s"parquet/$dir2/t", "--drop-column", "n", "-y"))
    graft.cli.Main.execute(spark, job, opts)
    assert(graft.sources.Resolver.readParquet(spark, p2).columns.toSeq ==
      Seq("id", "txt"))
  }

  test("changelogSince: open-ended cursor reads consecutive diffs, keeps intermediate states") {
    val dir = tempDir("snap_clsince")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    def write(rows: Seq[(Long, String)]) =
      WriteOps.atomicOverwrite(spark, rows.toDF("id", "txt"), p,
        commitMode = "snapshot", keepVersions = 5)
    write(Seq((1L, "a"), (2L, "b")))                    // v1
    write(Seq((1L, "a"), (2L, "B"), (3L, "c")))         // v2: update 2, insert 3
    write(Seq((2L, "B"), (3L, "c")))                    // v3: delete 1
    val all = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
      .select("id", "txt", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    // intermediate states preserved: the v2 events AND the v3 delete
    assert(all == Set(
      (2L, "b", "update_preimage", 2L), (2L, "B", "update_postimage", 2L),
      (3L, "c", "insert", 2L),
      (1L, "a", "delete", 3L)))
    // cursor advance: since v2 = only the v2→v3 step
    val tail = Snapshot.changelogSince(spark, p, 2L, Seq("id"))
      .select("_commit_version").distinct().as[Long].collect().toSeq
    assert(tail == Seq(3L))
    // at head: empty, with the changelog schema intact
    val head = Snapshot.changelogSince(spark, p, 3L, Seq("id"))
    assert(head.isEmpty && head.columns.contains("_change_type"))
    // a vacuumed cursor refuses loudly (no silent gap)
    val e = intercept[IllegalArgumentException](
      Snapshot.changelogSince(spark, p, 99L, Seq("id")))
    assert(e.getMessage.contains("not") && e.getMessage.contains("retained"))
    // CLI: open-ended form writes the full feed
    val (job, opts) = graft.cli.Main.parse(Array(
      "-s", s"parquet/$dir/t", "--changelog", "1:", "--pk", "id",
      "-t", s"parquet/$dir/feed", "-y"))
    graft.cli.Main.execute(spark, job, opts)
    assert(spark.read.parquet(s"$dir/feed.parquet").count() == 4)
  }

  test("changelogSince spans an ADD-COLUMN widening with null-padded early steps") {
    val dir = tempDir("snap_clsw")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark, Seq((1L, "a")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 5)
    WriteOps.atomicOverwrite(spark, Seq((1L, "A")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 5)                    // v2
    WriteOps.atomicOverwrite(spark,
      Seq((1L, "A", 7)).toDF("id", "txt", "extra"), p,
      commitMode = "snapshot", keepVersions = 5)                    // v3 widens
    val rows3 = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
      .select("id", "txt", "extra", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else Integer.valueOf(r.getInt(2)),
        r.getString(3), r.getLong(4))).toSet
    assert(rows3 == Set(
      (1L, "a", null, "update_preimage", 2L),
      (1L, "A", null, "update_postimage", 2L),
      (1L, "A", null, "update_preimage", 3L),
      (1L, "A", Integer.valueOf(7), "update_postimage", 3L)))
  }

  test("changelog tolerates ADD-COLUMN widening with NULL preimages") {
    val dir = tempDir("snap_clwide")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    // v1: (id, txt); v2 widens with `extra` AND changes row 2's txt so we
    // see both classifications: a widening-only change (row 1: txt same,
    // extra gained a value => update with NULL-extra preimage) and a real
    // value update (row 2).
    WriteOps.atomicOverwrite(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "txt"),
      p, commitMode = "snapshot", keepVersions = 3)
    WriteOps.atomicOverwrite(spark,
      Seq((1L, "a", 10), (2L, "B", 20)).toDF("id", "txt", "extra"),
      p, commitMode = "snapshot", keepVersions = 3)
    val rows = Snapshot.changelog(spark, p, 1, 2, Seq("id"))
      .select("id", "txt", "extra", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else Integer.valueOf(r.getInt(2)), r.getString(3)))
      .toSet
    assert(rows == Set(
      (1L, "a", null, "update_preimage"),
      (1L, "a", Integer.valueOf(10), "update_postimage"),
      (2L, "b", null, "update_preimage"),
      (2L, "B", Integer.valueOf(20), "update_postimage")))
  }

  test("changelog on non-widening schema change refuses loudly") {
    val dir = tempDir("snap_clerr")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    // retype: txt STRING -> txt INT is not a pure widening
    WriteOps.atomicOverwrite(spark, Seq((1L, "a")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 3)
    WriteOps.atomicOverwrite(spark, Seq((1L, 7)).toDF("id", "txt"),
      p, commitMode = "snapshot", keepVersions = 3)
    val e = intercept[IllegalArgumentException](
      Snapshot.changelog(spark, p, 1, 2, Seq("id")))
    assert(e.getMessage.contains("from-version column unchanged"))
  }

  test("DV-aware changelog pruning: pruned ≡ full reads across delete/merge/widening steps") {
    val dir = tempDir("snap_cldv")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 8)
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 25,
      commitMode = "snapshot", keepVersions = 8)                       // v1
    Snapshot.deleteByKeys(spark, p, (10L until 30L).toDF("id"),
      keepVersions = 8)                                                // v2: DV
    // v3: DV-composed pruned merge (re-asserts 15, updates 100)
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((15L, "B"), (100L, "B")).toDF("id", "txt"), t, p).isDefined)
    Snapshot.deleteByKeys(spark, p, (180L until 190L).toDF("id"),
      keepVersions = 8)                                                // v4: DV
    // v5: ADD-COLUMN widening upsert through the composed path
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((5L, "W", 1L)).toDF("id", "txt", "flag"), t, p).isDefined)
    // v6/v7 (r12): PREDICATE deletes — the pruned diff restricts
    // shared files by the symmetric-difference predicates instead of
    // falling back to full reads
    Snapshot.deleteByPredicate(spark, p, "id % 17 = 3", keepVersions = 8) // v6
    Snapshot.deleteByPredicate(spark, p, "id >= 195", keepVersions = 8)   // v7
    // every adjacent step and spanning pairs: pruned ≡ unpruned
    for ((f, v) <- Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (1L, 5L), (2L, 4L), (5L, 7L), (1L, 7L))) {
      val got = rows(Snapshot.changelog(spark, p, f, v, Seq("id"))
        .orderBy("id", "_change_type"))
      val want = rows(Snapshot.changelog(spark, p, f, v, Seq("id"),
        filePruned = false).orderBy("id", "_change_type"))
      assert(got == want, s"pruned changelog diverged on v$f→v$v")
    }
    // spot semantics: v1→v2 is exactly the 20 tombstoned deletes;
    // v5→v6 exactly the surviving `id % 17 = 3` rows as deletes
    val cl12 = Snapshot.changelog(spark, p, 1L, 2L, Seq("id"))
    assert(cl12.count() == 20 &&
      rows(cl12.select("_change_type").distinct()) == Seq(Seq("delete")))
    val cl56 = Snapshot.changelog(spark, p, 5L, 6L, Seq("id"))
    assert(rows(cl56.select("_change_type").distinct()) == Seq(Seq("delete")))
    assert(cl56.select("id").as[Long].collect().toSet ==
      graft.sources.Resolver.readParquet(spark, p, Some(5L))
        .filter(expr("id % 17 = 3")).select("id").as[Long].collect().toSet)
    // the open-ended cursor rides the same pruning
    assert(Snapshot.changelogSince(spark, p, 1L, Seq("id")).count() ==
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
        .map { case (f, v) =>
          Snapshot.changelog(spark, p, f, v, Seq("id"), filePruned = false).count()
        }.sum)
  }

  test("commit instants are recorded in the manifest and survive mtime rewrites") {
    val dir = tempDir("snap_cts")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark, Seq((1L, "v1")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 3)
    val t1 = System.currentTimeMillis()
    Thread.sleep(1200)
    WriteOps.atomicOverwrite(spark, Seq((1L, "v2")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 3)
    // both manifests carry a recorded instant, strictly ordered
    val stamps = Snapshot.committed(fs, new Path(p)).map { case (_, vd) =>
      Snapshot.manifestAt(fs, vd).get.commitTsMillis }
    assert(stamps.forall(_.isDefined) && stamps == stamps.sortBy(_.get))
    // simulate a table copy/restore: rewrite every marker mtime to NOW
    // — recorded instants must keep the history resolvable
    Snapshot.committed(fs, new Path(p)).foreach { case (_, vd) =>
      fs.setTimes(new Path(vd, graft.operators.Versioned.Marker),
        System.currentTimeMillis(), -1)
    }
    assert(Snapshot.versionAtTimestamp(fs, new Path(p), t1) == 1L)
    // history reports the recorded instant, not the rewritten mtime
    val h1 = Snapshot.history(spark, p).filter(col("version") === 1)
      .select("committed_at").collect().head.getTimestamp(0).getTime
    assert(h1 <= t1)
  }

  test("DV manifest entries record the tombstone key-column set") {
    val dir = tempDir("snap_dvcols")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    WriteOps.atomicOverwrite(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "txt"), p,
      commitMode = "snapshot", keepVersions = 5)
    Snapshot.deleteByKeys(spark, p, Seq(1L).toDF("id"), keepVersions = 5)
    Snapshot.deleteByKeys(spark, p,
      Seq((2L, "b")).toDF("id", "txt"), keepVersions = 5)
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    val m = Snapshot.manifestAt(fs, vdir).get
    val colSets = m.deleteEntries.flatMap(_.cols).map(_.toSet).toSet
    assert(colSets == Set(Set("id"), Set("id", "txt")),
      s"recorded DV col sets: $colSets")
    assert(m.dataEntries.forall(_.cols.isEmpty))
    // and the read applies each per its own recorded set
    val now = graft.sources.Resolver.readParquet(spark, p)
      .select("id").as[Long].collect().toSeq
    assert(now.isEmpty)
  }

  // ── manifest key envelopes (r12) ───────────────────────────────────

  test("manifest entries round-trip key envelopes; legacy 3-field lines still parse") {
    val dir = tempDir("snap_envrt")
    val vdir = new Path(dir, f"_v_${1L}%020d")
    val m = Snapshot.Manifest("id BIGINT,txt STRING", Nil, Seq(
      Snapshot.Entry("a.parquet", 10L,
        envs = Some(Map("id" -> Snapshot.ColEnv(Some(0L), Some(99L), hasNulls = false)))),
      Snapshot.Entry("b.parquet", 20L,
        envs = Some(Map("id" -> Snapshot.ColEnv(None, None, hasNulls = true)))),
      Snapshot.Entry("_deletes/d.parquet", 5L, cols = Some(Seq("id")),
        envs = None),
      Snapshot.Entry("c.parquet", 30L)))
    graft.operators.ManifestCodec.writeManifest(fs, vdir, m)
    val back = Snapshot.manifestAt(fs, vdir).get
    // entries written with the UnsetSeq sentinel have no seq field on
    // disk — reading normalizes them to the pre-seq GLOBAL semantics
    // (data = 0, tombstone = Long.MaxValue), the r12 upgrade contract.
    // r13: resolutions serve the CANONICAL rel-sorted order regardless
    // of file order (the persistent-map membership), so the round-trip
    // is order-insensitive.
    assert(back.entries.map(_.copy(seq = Snapshot.UnsetSeq)) ==
      m.entries.sortBy(_.rel))
    assert(back.entries.find(_.rel == "a.parquet").get.seq == 0L)
    assert(back.entries.find(_.rel == "_deletes/d.parquet").get.seq ==
      Long.MaxValue)
    // a legacy line (no env field) parses with envs = None
    assert(back.entries.find(_.rel == "c.parquet").get.envs.isEmpty)
    // a stamped seq round-trips verbatim
    val m2 = m.copy(entries = m.entries.map(_.copy(seq = 7L)))
    val vdir2 = new Path(dir, f"_v_${2L}%020d")
    graft.operators.ManifestCodec.writeManifest(fs, vdir2, m2)
    assert(Snapshot.manifestAt(fs, vdir2).get.entries ==
      m2.entries.sortBy(_.rel))
  }

  test("sorted snapshot writers RECORD key envelopes; merges PLAN from them (no footer reads)") {
    import spark.implicits._
    val dir = tempDir("snap_envplan")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 50,
      commitMode = "snapshot", keepVersions = 4)
    val root = new Path(p)
    def headManifest = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, root, None)._2).get
    val m1 = headManifest
    assert(m1.dataEntries.nonEmpty && m1.dataEntries.forall(e =>
      e.envs.exists(_.contains("id"))),
      s"the sorted seed write must record id envelopes: ${m1.dataEntries}")
    // envelope values match the actual file content bands
    val mins = m1.dataEntries.flatMap(_.envs.get("id").min).sorted
    assert(mins.head == 0L && m1.dataEntries.flatMap(_.envs.get("id").max).max == 199L)
    // WHITE-BOX plan-source proof: falsify one file's envelope so it
    // EXCLUDES the batch key; if the planner reads the manifest (not
    // footers) it must prune that file — the upserted key then lands
    // as a NEW row next to the stale one (observable duplicate). This
    // deliberately corrupts a THROWAWAY clone.
    val clone = s"$dir/c.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"), clone,
      indexBy = Seq("id"), maxRecordsPerFile = 50,
      commitMode = "snapshot", keepVersions = 4)
    val cRoot = new Path(clone)
    val (cv, cvdir) = Snapshot.resolveVersion(fs, cRoot, None)
    val cm = Snapshot.manifestAt(fs, cvdir).get
    val lied = cm.entries.map(e =>
      if (e.envs.exists(_.get("id").exists(v => v.min.contains(0L))))
        e.copy(envs = Some(Map("id" ->
          Snapshot.ColEnv(Some(100000L), Some(200000L), hasNulls = false))))
      else e)
    val v2dir = new Path(cRoot, f"_v_${cv + 1}%020d")
    graft.operators.ManifestCodec.writeManifest(fs, v2dir, cm.copy(entries = lied))
    fs.create(new Path(v2dir, graft.operators.Versioned.Marker), false).close()
    val t = TargetSpec(DatasetRef("parquet", dir, "c"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 4)
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, clone),
      Seq((5L, "DUP")).toDF("id", "txt"), t, clone)
    assert(st.isDefined)
    val dups = graft.sources.Resolver.readParquet(spark, clone)
      .filter(col("id") === 5L).count()
    assert(dups == 2L,
      s"planner must have used the (falsified) MANIFEST envelopes, got $dups " +
        "row(s) for the batch key — 1 means it read footers")
    // and on the honest table: merge prunes correctly AND the new
    // files carry fresh envelopes (the manifest path stays closed over
    // merges)
    val st2 = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((5L, "UPD")).toDF("id", "txt"),
      t.copy(ref = DatasetRef("parquet", dir, "t")), p)
    assert(st2.exists(s => s.filesRewritten == 1))
    val m2 = headManifest
    assert(m2.dataEntries.forall(_.envs.exists(_.contains("id"))),
      "post-merge members must all still carry envelopes")
    assert(rows(graft.sources.Resolver.readParquet(spark, p)
      .filter(col("id") === 5L)) == Seq(Seq(5L, "UPD")))
  }

  test("compaction and materializeDeletes preserve manifest envelope coverage") {
    import spark.implicits._
    val dir = tempDir("snap_envmaint")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 300L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 30,
      commitMode = "snapshot", keepVersions = 4)
    Snapshot.deleteByKeys(spark, p, Seq(7L).toDF("id"), keepVersions = 4)
    Snapshot.materializeDeletes(spark, p, indexBy = Seq("id"), keepVersions = 4)
    val root = new Path(p)
    def dataEnvsOk = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, root, None)._2).get
      .dataEntries.forall(_.envs.exists(_.contains("id")))
    assert(dataEnvsOk, "materialize must re-record envelopes")
    Compaction.compact(spark, p, Seq("id"), 1L << 20, keepVersions = 4)
    assert(dataEnvsOk, "compaction must re-record envelopes")
  }

  test("fsck audits the r12 metadata: broken alias, stray envelope key, stale predicate") {
    import spark.implicits._
    val dir = tempDir("snap_fsck12")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 4)
    Snapshot.deleteByPredicate(spark, p, "id = 5", keepVersions = 4)
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
    // tamper: a new version whose schema DROPS the predicate's column,
    // whose alias targets a ghost, and whose envelope keys a ghost
    val root = new Path(p)
    val (v, vdir) = Snapshot.resolveVersion(fs, root, None)
    val m = Snapshot.manifestAt(fs, vdir).get
    val bad = m.copy(
      schemaDdl = "renamed_id BIGINT,txt STRING",
      aliases = Seq("id" -> "ghost", "txt" -> "txt"),
      dropped = Seq("txt"), // present in the schema: resurrection
      entries = m.entries.map(e =>
        if (e.cols.isEmpty)
          e.copy(envs = Some(Map("nope" -> Snapshot.ColEnv(Some(0L), Some(1L), false))))
        else e))
    val vdir2 = new Path(root, f"_v_${v + 1}%020d")
    graft.operators.ManifestCodec.writeManifest(fs, vdir2, bad)
    fs.create(new Path(vdir2, graft.operators.Versioned.Marker), false).close()
    val findings = Snapshot.fsck(spark, p)
      .select("issue").as[String].collect().toSet
    assert(Set("alias", "env", "pred", "dropped").subsetOf(findings),
      s"fsck must flag all four r12 classes, got $findings")
  }

  // ── column rename via the manifest alias map (r12) ─────────────────

  test("rename is metadata-only: values travel, time travel keeps each version's names") {
    import spark.implicits._
    val dir = tempDir("snap_ren")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 100L).map(i => (i, s"v$i", (i % 3).toInt)).toDF("id", "txt", "grp"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 20,
      commitMode = "snapshot", keepVersions = 6)
    val dataBefore = poolFiles(p)
    val v = Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 6)
    assert(v == 2L && poolFiles(p) == dataBefore,
      "rename must touch zero pool files")
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(now.columns.toSeq == Seq("id", "label", "grp"))
    assert(rows(now.filter($"id" === 7L)) == Seq(Seq(7L, "v7", 1)))
    // time travel: v1 serves the OLD name with the same values
    val v1 = graft.sources.Resolver.readParquet(spark, p, Some(1L))
    assert(v1.columns.toSeq == Seq("id", "txt", "grp"))
    assert(rows(v1.filter($"id" === 7L)) == Seq(Seq(7L, "v7", 1)))
    assert(Snapshot.fsck(spark, p).isEmpty)
    // rename CHAIN: label → name; oldest files recover through txt→name
    Snapshot.renameColumn(spark, p, "label", "name", keepVersions = 6)
    val now2 = graft.sources.Resolver.readParquet(spark, p)
    assert(now2.columns.toSeq == Seq("id", "name", "grp"))
    assert(rows(now2.filter($"id" === 7L)) == Seq(Seq(7L, "v7", 1)))
    val m = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m.aliases == Seq("txt" -> "name", "label" -> "name"),
      s"alias targets must stay current: ${m.aliases}")
  }

  test("mixed old/new files: merge, DV delete by new name, compaction through aliases") {
    import spark.implicits._
    val dir = tempDir("snap_renmix")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "txt"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 20,
      commitMode = "snapshot", keepVersions = 6)
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 6)
    // pruned merge THROUGH the alias: touched old-name files recover,
    // new files carry the NEW physical name
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 6)
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((5L, "UPD")).toDF("id", "label"), t, p)
    assert(st.exists(s => s.filesRewritten > 0 && s.filesRewritten < s.filesTotal))
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(rows(now.filter($"id".isin(5L, 6L)).orderBy("id")) ==
      Seq(Seq(5L, "UPD"), Seq(6L, "v6")))
    // DV delete keyed on data matched in OLD files
    Snapshot.deleteByKeys(spark, p, Seq(100L).toDF("id"), keepVersions = 6)
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 199)
    // compaction folds + rewrites through the alias; rows unchanged
    val want = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    Compaction.compact(spark, p, Seq("id"), 1L << 20, keepVersions = 6,
      foldDeletesAbove = 0.0)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == want)
    assert(Snapshot.fsck(spark, p).isEmpty)
  }

  test("changelog travels a rename: pure-rename step emits zero rows; spans align names") {
    import spark.implicits._
    val dir = tempDir("snap_rencl")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "txt"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 6)
    Snapshot.deleteByKeys(spark, p, Seq(3L).toDF("id"), keepVersions = 6) // v2
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 6)     // v3
    // a METADATA rename changes no row: the v2→v3 diff is EMPTY
    assert(Snapshot.changelog(spark, p, 2L, 3L, Seq("id")).isEmpty)
    // and the open-ended span aligns pre-rename steps to the new name
    val cl = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
    assert(cl.columns.contains("label") && !cl.columns.contains("txt"))
    assert(rows(cl.select("id", "label", "_change_type")) ==
      Seq(Seq(3L, "v3", "delete")))
  }

  test("rename refusals are loud; drop/retype stay refused") {
    import spark.implicits._
    val dir = tempDir("snap_renref")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 20L).map(i => (i, s"v$i", (i % 2).toInt)).toDF("id", "txt", "grp"),
      p, partitionBy = Seq("grp"), commitMode = "snapshot", keepVersions = 6)
    intercept[IllegalArgumentException] { // collision
      Snapshot.renameColumn(spark, p, "txt", "id")
    }
    intercept[IllegalArgumentException] { // partition column
      Snapshot.renameColumn(spark, p, "grp", "bucket")
    }
    intercept[IllegalArgumentException] { // unknown column
      Snapshot.renameColumn(spark, p, "nope", "x")
    }
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 6)
    intercept[IllegalArgumentException] { // dead physical name reuse
      Snapshot.renameColumn(spark, p, "label", "txt")
    }
    // live predicate DV blocks renames (its SQL references names)
    Snapshot.deleteByPredicate(spark, p, "id = 1", keepVersions = 6)
    val e = intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, p, "label", "name")
    }
    assert(e.getMessage.contains("materialize"))
    // drop/retype: the changelog still refuses non-widening evolution
    // (rename resolves via aliases; a true retype does not)
    val root = new Path(p)
    val m = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, root, None)._2).get
    intercept[Snapshot.CommitConflictException] {
      Snapshot.commitRebase(fs, root,
        Snapshot.resolveVersion(fs, root, None)._1, Set.empty, Nil,
        "id BIGINT,label INT,grp INT", m.partitionBy, keepVersions = 6)
    }
    ()
  }

  test("a merge planned before a concurrent rename conflicts loudly (no zombie column)") {
    import spark.implicits._
    val dir = tempDir("snap_renconc")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "txt"),
      p, indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 6)
    val root = new Path(p)
    val m1 = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, root, None)._2).get
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 6)
    val e = intercept[Snapshot.CommitConflictException] {
      Snapshot.commitRebase(fs, root, 1L, Set.empty, Nil,
        m1.schemaDdl, m1.partitionBy, keepVersions = 6)
    }
    assert(e.getMessage.contains("renamed concurrently"))
  }

  test("CLI --rename-column routes and reports") {
    import graft.cli.Main
    import spark.implicits._
    val dir = tempDir("snap_rencli")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "txt"),
      p, commitMode = "snapshot", keepVersions = 4)
    val (job, opts) = Main.parse(Array(
      "-s", s"parquet/$dir/t", "--rename-column", "txt:body", "-y"))
    Main.execute(spark, job, opts)
    assert(graft.sources.Resolver.readParquet(spark, p).columns.toSeq ==
      Seq("id", "body"))
  }

  // ── predicate deletion vectors (r12) ───────────────────────────────

  private def predBase(p: String): Unit = {
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"v$i", (i % 4).toInt)).toDF("id", "txt", "grp")
      .unionByName(Seq((Option.empty[Long], "n", 0)).toDF("id", "txt", "grp"))
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 8, commitMode = "snapshot", keepVersions = 4)
  }

  test("predicate DV: zero data files, time travel, NULL keeps the row, pushed filter") {
    import spark.implicits._
    val dir = tempDir("snap_dvp")
    val p = s"$dir/t.parquet"
    predBase(p)
    val dataBefore = poolFiles(p).filterNot(_.startsWith("_deletes/"))
    val v = Snapshot.deleteByPredicate(spark, p, "id >= 30 OR grp = 3",
      keepVersions = 4)
    assert(v == 2L)
    assert(poolFiles(p).filterNot(_.startsWith("_deletes/")) == dataBefore,
      "predicate delete must touch no data file")
    val now = graft.sources.Resolver.readParquet(spark, p)
    // rows where the predicate is TRUE die; the NULL-id row's predicate
    // is (NULL >= 30 OR false) = NULL → the row SURVIVES (SQL DELETE)
    val want = (0L until 30L).filter(_ % 4 != 3).toSet
    assert(now.filter($"id".isNotNull).select("id").as[Long].collect().toSet == want)
    assert(now.filter($"id".isNull).count() == 1)
    // time travel intact; manifest records the predicate colset
    assert(graft.sources.Resolver.readParquet(spark, p, Some(1L)).count() == 41)
    val m = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m.deleteEntries.nonEmpty &&
      m.deleteEntries.forall(_.cols.contains(Seq(Snapshot.PredColName))))
    assert(Snapshot.fsck(spark, p).isEmpty)
    // the tombstone applies as a FILTER, not a join — and pushes down
    val plan = now.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"predicate DV must not join:\n$plan")
    // the same logical delete committed as its matching keys serves
    // the identical table (the NULL-id row survives both routes)
    val pk = s"$dir/keys.parquet"
    predBase(pk)
    Snapshot.deleteByKeys(spark, pk,
      (0L until 40L).filter(i => i >= 30 || i % 4 == 3).toDF("id"), keepVersions = 4)
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, pk)) == sortedRows(now))
  }

  test("predicate DV composes with key tombstones; materialize folds both") {
    import spark.implicits._
    val dir = tempDir("snap_dvpk")
    val p = s"$dir/t.parquet"
    predBase(p)
    Snapshot.deleteByKeys(spark, p, Seq(1L, 2L).toDF("id"), keepVersions = 4)
    Snapshot.deleteByPredicate(spark, p, "grp = 2", keepVersions = 4)
    val now = graft.sources.Resolver.readParquet(spark, p)
    val want = (0L until 40L).filterNot(i => i == 1 || i == 2 || i % 4 == 2).toSet
    assert(now.filter($"id".isNotNull).select("id").as[Long].collect().toSet == want)
    Snapshot.materializeDeletes(spark, p, indexBy = Seq("id"), keepVersions = 4)
    val m = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m.deleteEntries.isEmpty, "materialize must fold predicate tombstones")
    assert(graft.sources.Resolver.readParquet(spark, p)
      .filter($"id".isNotNull).select("id").as[Long].collect().toSet == want)
    assert(Snapshot.fsck(spark, p).isEmpty)
  }

  test("predicate DV validation is loud: bad column, nondeterminism, time-dependence, non-snapshot") {
    val dir = tempDir("snap_dvpv")
    val p = s"$dir/t.parquet"
    predBase(p)
    intercept[Exception] { // unknown column → AnalysisException at COMMIT time
      Snapshot.deleteByPredicate(spark, p, "no_such_col = 1")
    }
    val e1 = intercept[IllegalArgumentException] {
      Snapshot.deleteByPredicate(spark, p, "rand() < 0.5")
    }
    assert(e1.getMessage.contains("deterministic"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.deleteByPredicate(spark, p, "id < unix_timestamp(current_timestamp())")
    }
    assert(e2.getMessage.contains("evaluation time"))
    intercept[IllegalArgumentException] {
      Snapshot.deleteByPredicate(spark, p, "  ")
    }
    // none of the rejects may have committed anything
    assert(Snapshot.committed(fs, new Path(p)).map(_._1) == Seq(1L))
    // non-snapshot layout refuses
    val plain = s"$dir/plain.parquet"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "txt").write.parquet(plain)
    intercept[IllegalArgumentException] {
      Snapshot.deleteByPredicate(spark, plain, "id = 1")
    }
    ()
  }

  test("live predicate DV COMPOSES with the pruned merge (r12); partition-col predicates still decline") {
    import spark.implicits._
    val dir = tempDir("snap_dvpm")
    val p = s"$dir/t.parquet"
    predBase(p)
    Snapshot.deleteByPredicate(spark, p, "grp = 3", keepVersions = 4)
    // the batch re-asserts a PREDICATE-MATCHING row (id 0 → grp 3):
    // the rewritten file's new seq exempts it — batch write wins
    val batch = Seq((0L, "NEW", 3)).toDF("id", "txt", "grp")
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 4)
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p), batch, t, p)
    assert(st.exists(s0 => s0.filesRewritten > 0 &&
      s0.filesRewritten < s0.filesTotal),
      s"the merge must compose through a live data-schema predicate, got $st")
    val now = graft.sources.Resolver.readParquet(spark, p)
    assert(rows(now.filter($"id" === 0L).select("txt", "grp")) ==
      Seq(Seq("NEW", 3)), "the batch's predicate-matching row must win")
    assert(now.filter($"grp" === 3 && $"id" =!= 0L).isEmpty,
      "pre-existing predicate matches stay deleted (touched files fold " +
        "the filter, untouched files keep reading through the predicate)")
    val m = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m.deleteEntries.nonEmpty,
      "the base predicate commits unchanged (seq order expresses the compose)")
    // ≡ LAW: materialize-then-merge on a clone serves the same table
    val p2 = s"$dir/t2.parquet"
    predBase(p2)
    Snapshot.deleteByPredicate(spark, p2, "grp = 3", keepVersions = 4)
    Snapshot.materializeDeletes(spark, p2, indexBy = Seq("id"),
      maxRecordsPerFile = 8, keepVersions = 4)
    val t2 = t.copy(ref = DatasetRef("parquet", dir, "t2"))
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p2), batch, t2, p2).isDefined)
    assert(sortedRows(now) ==
      sortedRows(graft.sources.Resolver.readParquet(spark, p2)),
      "composed ≡ materialize-then-merge")
    // a predicate referencing a PARTITION column cannot fold into a
    // per-file read that lacks the column — still declines to the
    // materializing full route
    val p3 = s"$dir/t3.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 40L).map(i => (i, s"v$i", (i % 4).toInt)).toDF("id", "txt", "grp"),
      p3, partitionBy = Seq("grp"), indexBy = Seq("id"),
      maxRecordsPerFile = 8, commitMode = "snapshot", keepVersions = 4)
    Snapshot.deleteByPredicate(spark, p3, "grp = 3", keepVersions = 4)
    val t3 = TargetSpec(DatasetRef("parquet", dir, "t3"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 4)
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p3),
      Seq((1L, "X", 1)).toDF("id", "txt", "grp"), t3, p3).isEmpty,
      "a partition-column predicate must decline the pruned path")
  }

  test("changelog across a predicate-DV commit classifies exactly the matching rows as deletes") {
    import spark.implicits._
    val dir = tempDir("snap_dvpcl")
    val p = s"$dir/t.parquet"
    predBase(p)
    Snapshot.deleteByPredicate(spark, p, "grp = 1", keepVersions = 4)
    // file-level DV pruning declines on a predicate tombstone (not a
    // pk-set) and must FALL BACK to full reads, staying exact
    val cl = Snapshot.changelog(spark, p, 1L, 2L, Seq("id"))
    val got = cl.select("id", "_change_type").as[(Option[Long], String)]
      .collect().toSet
    val want = (0L until 40L).filter(_ % 4 == 1)
      .map(i => (Some(i): Option[Long], "delete")).toSet
    assert(got == want, s"changelog mismatch: $got")
  }

  test("CLI -o delete --dv --tq commits the predicate; --pk AND --tq composes") {
    import graft.cli.Main
    import spark.implicits._
    val dir = tempDir("snap_dvptq")
    val p = s"$dir/t.parquet"
    (0L until 50L).map(i => (i, s"v$i", (i % 5).toInt)).toDF("id", "txt", "grp")
      .write.parquet(s"$dir/seed.parquet")
    val (j0, o0) = Main.parse(Array(
      "-s", s"parquet/$dir/seed", "-t", s"parquet/$dir/t", "-o", "create",
      "--pk", "id", "--commit", "snapshot", "--skip-timestamp", "-y"))
    Main.execute(spark, j0, o0)
    val dataBefore = poolFiles(p).filterNot(_.startsWith("_deletes/"))
    // pure predicate route: no pk needed, source is conventional
    val (j1, o1) = Main.parse(Array(
      "-s", s"parquet/$dir/t", "-t", s"parquet/$dir/t",
      "-o", "delete", "--dv", "--tq", "grp__gte=4", "--skip-timestamp", "-y"))
    Main.execute(spark, j1, o1)
    assert(poolFiles(p).filterNot(_.startsWith("_deletes/")) == dataBefore)
    val now1 = graft.sources.Resolver.readParquet(spark, p)
    assert(now1.count() == 40 && now1.filter($"grp" >= 4).isEmpty)
    // pk AND tq: delete batch keys RESTRICTED by tq (delete's contract)
    Seq(0L, 1L, 2L, 3L).toDF("id").write.parquet(s"$dir/kill.parquet")
    val (j2, o2) = Main.parse(Array(
      "-s", s"parquet/$dir/kill", "-t", s"parquet/$dir/t",
      "-o", "delete", "--dv", "--pk", "id", "--tq", "grp__lte=1",
      "--skip-timestamp", "-y"))
    Main.execute(spark, j2, o2)
    val now2 = graft.sources.Resolver.readParquet(spark, p)
    // ids 0,1 (grp 0,1) die; 2,3 (grp 2,3) survive the tq restriction
    assert(now2.filter($"id".isin(0L, 1L)).isEmpty)
    assert(now2.filter($"id".isin(2L, 3L)).count() == 2)
    assert(now2.count() == 38)
    assert(poolFiles(p).filterNot(_.startsWith("_deletes/")) == dataBefore)
    assert(Snapshot.fsck(spark, p).isEmpty)
  }

  test("type widening is metadata-only: mixed-width files, per-version types, changelog crosses it") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("snap_widen")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(40), p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 10) // v1
    val dataBefore = poolFiles(p)
    // the widen commits NO data file and keeps integral key envelopes
    val v2 = Snapshot.widenColumn(spark, p, "grp", LongType, keepVersions = 10)
    assert(poolFiles(p) == dataBefore, "widening must be metadata-only")
    val head = graft.sources.Resolver.readParquet(spark, p)
    assert(head.schema("grp").dataType == LongType)
    assert(sortedRows(head) == sortedRows(base(40)
      .withColumn("grp", col("grp").cast("long"))),
      "narrow physical files must upcast losslessly")
    // time travel serves each version under ITS OWN type
    val v1read = graft.sources.Resolver.readParquet(spark, p, Some(1L))
    assert(v1read.schema("grp").dataType == IntegerType)
    // a value only the WIDE type can hold lands via append-shaped upsert
    val big = Seq((1000L, "wide", 10000000000L)).toDF("id", "txt", "grp")
    Snapshot.upsertAppend(spark, p, big, Seq("id"), indexBy = Seq("id"),
      keepVersions = 10)                                       // v3
    val mixed = graft.sources.Resolver.readParquet(spark, p)
    assert(mixed.count() == 41 &&
      mixed.filter(col("grp") === 10000000000L).count() == 1,
      "post-widen rows mix with pre-widen narrow files")
    // the PURE widen step emits zero change rows; the upsert step
    // classifies normally across the widen
    assert(Snapshot.changelog(spark, p, 1L, v2, Seq("id")).isEmpty,
      "a pure type widen is not a data change")
    val cl = Snapshot.changelog(spark, p, 1L, v2 + 1, Seq("id"))
    assert(rows(cl.select("id", "_change_type")) == Seq(Seq(1000L, "insert")))
    assert(cl.schema("grp").dataType == LongType)
    // open-ended cursor spans the widen: early steps cast up
    val since = Snapshot.changelogSince(spark, p, 1L, Seq("id"))
    assert(since.schema("grp").dataType == LongType && since.count() == 1)
    // integral→integral widen keeps recorded key envelopes (merge
    // planning stays metadata-only); int→double would drop them
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.dataEntries.exists(_.envs.exists(_.contains("id"))),
      "envelopes must survive an integral widen")
    assert(Snapshot.fsck(spark, p).isEmpty)
  }

  test("type widening: key tombstones keep applying; refusal matrix is loud") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("snap_widenref")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(30), p, indexBy = Seq("id"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 10)
    // tombstone keyed on the column ABOUT to widen: stored narrow keys
    // must keep matching after the upcast (losslessness ⇒ equality)
    Snapshot.deleteByKeys(spark, p, Seq(3).toDF("grp"), keepVersions = 10)
    Snapshot.widenColumn(spark, p, "grp", LongType, keepVersions = 10)
    val got = graft.sources.Resolver.readParquet(spark, p)
    assert(got.filter(col("grp") === 3L).isEmpty &&
      got.count() == base(30).filter(col("grp") =!= 3).count(),
      "a pre-widen tombstone must keep applying to upcast reads")
    // refusals: narrowing, non-listed conversions, partition columns
    val eN = intercept[IllegalArgumentException](
      Snapshot.widenColumn(spark, p, "grp", IntegerType))
    assert(eN.getMessage.contains("not a lossless widening"))
    intercept[IllegalArgumentException](
      Snapshot.widenColumn(spark, p, "txt", LongType))
    intercept[IllegalArgumentException](
      Snapshot.widenColumn(spark, p, "id", DoubleType)) // long→double is lossy
    // live predicate DV: conservative refusal, same as rename/drop
    // (fresh table — grp here is already widened to long)
    val p3 = s"$dir/pred.parquet"
    WriteOps.atomicOverwrite(spark, base(10), p3, indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 10)
    Snapshot.deleteByPredicate(spark, p3, "grp = 999", keepVersions = 10)
    val eP = intercept[IllegalArgumentException](
      Snapshot.widenColumn(spark, p3, "grp", LongType))
    assert(eP.getMessage.contains("PREDICATE"))
    // the admissibility table itself
    assert(Snapshot.isWidening(FloatType, DoubleType))
    assert(Snapshot.isWidening(IntegerType, DoubleType))
    assert(Snapshot.isWidening(ByteType, ShortType))
    assert(Snapshot.isWidening(DecimalType(5, 2), DecimalType(10, 2)))
    assert(Snapshot.isWidening(DecimalType(5, 2), DecimalType(6, 3)))
    assert(!Snapshot.isWidening(DecimalType(5, 2), DecimalType(5, 3)),
      "integer digits must never shrink")
    assert(!Snapshot.isWidening(LongType, DoubleType) &&
      !Snapshot.isWidening(DoubleType, FloatType) &&
      !Snapshot.isWidening(LongType, IntegerType))
  }

  test("type widening: partition column refused; CLI --widen-column end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("snap_widencli")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base(20), p, partitionBy = Seq("grp"),
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 10)
    val eP = intercept[IllegalArgumentException](
      Snapshot.widenColumn(spark, p, "grp", LongType))
    assert(eP.getMessage.contains("partition column"))
    // CLI end-to-end on a flat table with an int measure column
    val p2 = s"$dir/u.parquet"
    WriteOps.atomicOverwrite(spark,
      (0 until 20).map(i => (i.toLong, i * 3)).toDF("id", "qty"),
      p2, indexBy = Seq("id", "qty"), commitMode = "snapshot",
      keepVersions = 10)
    val (j, o) = graft.cli.Main.parse(Array(
      "-s", s"parquet/$dir/u", "--widen-column", "qty:double", "-y"))
    graft.cli.Main.execute(spark, j, o)
    val back = graft.sources.Resolver.readParquet(spark, p2)
    assert(back.schema("qty").dataType == DoubleType)
    assert(back.agg(sum(col("qty"))).as[Double].head() == (0 until 20).map(_ * 3).sum)
    // the domain-leaving widen DROPS the column's envelopes (fsck-clean)
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p2), None)
    val m2 = Snapshot.manifestAt(fs, vdir).get
    assert(m2.dataEntries.forall(!_.envs.exists(_.contains("qty"))))
    assert(m2.dataEntries.exists(_.envs.exists(_.contains("id"))),
      "only the widened column's envelopes drop")
    assert(Snapshot.fsck(spark, p2).isEmpty)
  }
}

/** A local filesystem on which every deletion-vector dir
  * (`Snapshot.DeletesDirName`) exists, but listing one fails as if it
  * had been removed after the check: a concurrent vacuum's race. */
class VanishingDeletesFs extends graft.sources.FastLocalFs {
  private def vanished(p: Path) = p.getName == Snapshot.DeletesDirName
  override def exists(p: Path): Boolean = vanished(p) || super.exists(p)
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    if (vanished(p)) throw new java.io.FileNotFoundException(s"$p: removed")
    else super.listStatus(p)
}
