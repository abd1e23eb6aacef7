package graft

import graft.operators.WriteOps

class WriteOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val target = Seq(
    (1L, "a", 10.0, "keep"),
    (2L, "b", 20.0, "keep"),
    (3L, "c", 30.0, "keep")
  ).toDF("id", "name", "price", "status")

  lazy val batch = Seq(
    (2L, "B2", 200.0),
    (4L, "d", 40.0)
  ).toDF("id", "name", "price")

  private def state(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("id"))

  test("W1 create with pk is dup-safe (unique-index semantics): idempotent") {
    val dup = batch.union(batch)
    val out = WriteOps.create(target, dup, Seq("id"))
    // batch-internal dup removed AND existing id=2 not duplicated
    assert(out.count() == 4)
    assert(WriteOps.create(out, batch, Seq("id")).count() == 4)
    // no pk → plain append keeps everything
    assert(WriteOps.create(target, batch, Nil).count() == 5)
  }

  test("W11 --tmap casts the batch to the declared schema inside applyOp") {
    import graft.spec.{DatasetRef, TargetSpec, WriteOp}
    val spec = TargetSpec(DatasetRef("parquet", "", "t"), op = WriteOp.Create,
      tmap = Some("id BIGINT, name STRING, price INT"))
    val out = WriteOps.applyOp(target.limit(0).select("id", "name", "price"),
      batch, spec)
    assert(out.schema("price").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(rows(out.orderBy("id")).map(_.last) == Seq(200, 40))
  }

  test("W6 insert skips existing keys") {
    val out = WriteOps.insert(target, batch, Seq("id"))
    assert(state(out.select("id", "name")) ==
      Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c"), Seq(4L, "d")))
  }

  test("W3 update touches matching keys only; missing cols null-filled") {
    val out = WriteOps.update(target, batch, Seq("id"))
    assert(state(out.select("id", "name", "price", "status")) == Seq(
      Seq(1L, "a", 10.0, "keep"),
      Seq(2L, "B2", 200.0, "keep"), // status survives (not in batch)
      Seq(3L, "c", 30.0, "keep")))
  }

  test("W9 overwrite list: only listed fields take source values") {
    val out = WriteOps.update(target, batch, Seq("id"), overwrite = Seq("price"))
    assert(state(out.select("id", "name", "price")) == Seq(
      Seq(1L, "a", 10.0),
      Seq(2L, "b", 200.0), // name NOT overwritten
      Seq(3L, "c", 30.0)))
  }

  test("F10 tq restricts updatable rows") {
    val t2 = target.withColumn("status",
      org.apache.spark.sql.functions.when($"id" === 2L, "frozen").otherwise($"status"))
    val out = WriteOps.update(t2, batch, Seq("id"), tq = Seq("status" -> "keep"))
    assert(out.filter($"id" === 2L).select("name").as[String].head() == "b")
  }

  test("F10 tq: rows with NULL predicate are kept untouched (no data loss)") {
    val t2 = target.withColumn("status",
      org.apache.spark.sql.functions.when($"id" === 3L, null).otherwise($"status"))
    val out = WriteOps.update(t2, batch, Seq("id"), tq = Seq("status" -> "keep"))
    // id=3 has NULL status: not touchable, but MUST survive the rewrite
    assert(out.count() == 3)
    assert(out.filter($"id" === 3L).count() == 1)
    val del = WriteOps.delete(t2, batch, Seq("id"), tq = Seq("status" -> "keep"))
    assert(del.filter($"id" === 3L).count() == 1)
  }

  test("W4 upsert = update ∪ insert") {
    val out = WriteOps.upsert(target, batch, Seq("id"))
    assert(state(out.select("id", "name", "status")) == Seq(
      Seq(1L, "a", "keep"),
      Seq(2L, "B2", "keep"),
      Seq(3L, "c", "keep"),
      Seq(4L, "d", null)))
  }

  test("W4 upsert idempotence: upsert∘upsert = upsert") {
    val once = WriteOps.upsert(target, batch, Seq("id"))
    val twice = WriteOps.upsert(once, batch, Seq("id"))
    assert(state(twice) == state(once))
  }

  test("W2 index fully replaces the record (no coalesce)") {
    val b = Seq((2L, "B2", null.asInstanceOf[java.lang.Double]))
      .toDF("id", "name", "price")
    val out = WriteOps.index(target, b, Seq("id"))
    val r2 = out.filter($"id" === 2L).select("price", "status").collect()(0)
    assert(r2.get(0) == null && r2.get(1) == null) // full replace, not overlay
  }

  test("W5 delete removes matching pk rows") {
    val out = WriteOps.delete(target, batch, Seq("id"))
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("O6 indexBy lays files out range-partitioned + sorted (pruning stats)") {
    val dir = tempDir("graft_idx")
    val df = sf("lineitem")
    // sf0.001 is small enough that AQE folds the range shuffle into one
    // partition (the right call at scale); pin it off to see the layout
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try WriteOps.atomicOverwrite(spark, df, s"$dir/li.parquet",
      indexBy = Seq("l_extendedprice"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val files = new java.io.File(s"$dir/li.parquet").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.toString).sorted.toSeq
    assert(files.size > 1, "expected multiple range partitions")
    // each file is internally sorted and file ranges are disjoint
    val ranges = files.map { f =>
      val vals = spark.read.parquet(f)
        .select("l_extendedprice").as[Double].collect().toSeq
      assert(vals == vals.sorted, s"file $f not sorted")
      (vals.min, vals.max)
    }
    val byMin = ranges.sortBy(_._1)
    byMin.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, "file ranges overlap")
      case _ =>
    }
    // and a point filter on the indexed key reads back correctly
    val probe = spark.read.parquet(s"$dir/li.parquet")
      .filter($"l_extendedprice" > 100000.0)
    assert(probe.count() == df.filter($"l_extendedprice" > 100000.0).count())
  }

  test("versioned commit: atomic marker, generation retention, reader resolution") {
    import graft.operators.Versioned
    val dir = tempDir("graft_vc")
    val path = s"$dir/t.parquet"
    def write(tag: String) = WriteOps.atomicOverwrite(spark,
      Seq((1L, tag)).toDF("id", "tag"), path, commitMode = "versioned")
    def readTag() = graft.sources.Resolver.readParquet(spark, path)
      .select("tag").as[String].head()
    write("v1")
    assert(readTag() == "v1")
    write("v2")
    assert(readTag() == "v2")
    // one prior generation retained (in-flight reader safety), 2 total
    val vdirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_v_")).map(_.getName).sorted
    assert(vdirs.length == 2, s"want current+previous, got: ${vdirs.toSeq}")
    write("v3") // vacuums v1
    val vdirs3 = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_v_")).map(_.getName).sorted
    assert(vdirs3.length == 2 && readTag() == "v3")
    // an UNCOMMITTED version dir (crashed writer) is never resolved
    val stray = new java.io.File(s"$path/_v_99999999999999999999")
    assert(stray.mkdir())
    assert(readTag() == "v3")
  }

  test("versioned commit honors --keep-versions retention depth for time travel") {
    val dir = tempDir("graft_vkeep")
    val path = s"$dir/t.parquet"
    def write(tag: String) = WriteOps.atomicOverwrite(spark,
      Seq((1L, tag)).toDF("id", "tag"), path,
      commitMode = "versioned", keepVersions = 3)
    Seq("v1", "v2", "v3", "v4").foreach(write)
    // keepVersions=3: generations 2..4 retained, 1 vacuumed
    val vdirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_v_")).map(_.getName).sorted
    assert(vdirs.length == 3, s"want 3 retained generations, got: ${vdirs.toSeq}")
    def tagAt(v: Long) = graft.sources.Resolver.readParquet(spark, path, Some(v))
      .select("tag").as[String].head()
    assert(tagAt(2) == "v2" && tagAt(3) == "v3" && tagAt(4) == "v4")
    val e = intercept[Exception](tagAt(1))
    assert(e.getMessage != null)
  }

  test("--at-timestamp resolves on the dir-protocol versioned layout too") {
    val dir = tempDir("graft_vts")
    val path = s"$dir/t.parquet"
    def write(tag: String) = WriteOps.atomicOverwrite(spark,
      Seq((1L, tag)).toDF("id", "tag"), path,
      commitMode = "versioned", keepVersions = 3)
    write("v1")
    val t1 = System.currentTimeMillis()
    Thread.sleep(1200)
    write("v2")
    def tagAt(ts: Long) = graft.sources.Resolver
      .read(spark, graft.spec.DatasetRef("parquet", dir, "t"),
        query = Seq("_version_ts" -> ts.toString))
      .select("tag").as[String].head()
    assert(tagAt(t1) == "v1")
    assert(tagAt(System.currentTimeMillis()) == "v2")
  }

  test("versioned commit: a reader holding the previous snapshot survives a concurrent commit") {
    val dir = tempDir("graft_vc2")
    val path = s"$dir/t.parquet"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    WriteOps.atomicOverwrite(spark, v1, path, commitMode = "versioned")
    // reader resolves NOW (plans against the v1 files)...
    val reader = graft.sources.Resolver.readParquet(spark, path)
    assert(reader.count() == 2)
    // ...a writer commits v2 while the reader is still in flight...
    WriteOps.atomicOverwrite(spark,
      Seq((9L, "z")).toDF("id", "tag"), path, commitMode = "versioned")
    // ...and the reader still sees its full, consistent v1 snapshot
    // (rename-swap would have moved the files out from under it)
    assert(rows(reader.orderBy("id")) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    // while a NEW read resolves to v2
    assert(graft.sources.Resolver.readParquet(spark, path).count() == 1)
  }

  test("partition-scoped rewrite: untouched partition dirs stay byte-identical; emptied ones vanish") {
    import graft.spec._
    val dir = tempDir("graft_psr")
    val tgtPath = s"$dir/t.parquet"
    val seed = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
      .toDF("id", "part", "price")
    WriteOps.atomicOverwrite(spark, seed, tgtPath, partitionBy = Seq("part"))
    def dirState(p: String): Map[String, Long] = {
      val d = new java.io.File(s"$tgtPath/part=$p")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val aBefore = dirState("a"); val cBefore = dirState("c")
    assert(aBefore.nonEmpty && cBefore.nonEmpty)
    Thread.sleep(1100) // cross mtime granularity
    // upsert touching part=b (update) and part=d (new partition)
    Seq((3L, "b", 333.0), (9L, "d", 90.0)).toDF("id", "part", "price")
      .write.parquet(s"$dir/up.parquet")
    graft.engine.Runner.execute(spark, JobSpec(
      SourceSpec(DatasetRef("parquet", dir, "up")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "t"),
        op = WriteOp.Upsert, pk = Seq("id"), partitionBy = Seq("part"),
        skipTimestamp = true))), log = false)
    assert(dirState("a") == aBefore, "part=a was rewritten")
    assert(dirState("c") == cBefore, "part=c was rewritten")
    assert(rows(graft.sources.Resolver.readParquet(spark, tgtPath)
      .select("id", "part", "price").orderBy("id")) == Seq(
      Seq(1L, "a", 10.0), Seq(2L, "a", 20.0), Seq(3L, "b", 333.0),
      Seq(4L, "c", 40.0), Seq(9L, "d", 90.0)))
    // delete every part=a row → its dir must disappear, others untouched
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/del.parquet")
    val cAfter = dirState("c")
    graft.engine.Runner.execute(spark, JobSpec(
      SourceSpec(DatasetRef("parquet", dir, "del")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "t"),
        op = WriteOp.Delete, pk = Seq("id"), partitionBy = Seq("part"),
        skipTimestamp = true))), log = false)
    assert(dirState("a").isEmpty, "emptied part=a dir must be deleted")
    assert(dirState("c") == cAfter)
    assert(graft.sources.Resolver.readParquet(spark, tgtPath)
      .select("id").as[Long].collect().toSet == Set(3L, 4L, 9L))
  }

  test("versioned layout is sticky: a later rename-mode write still commits a version") {
    val dir = tempDir("graft_vst")
    val path = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, Seq((1L, "v1")).toDF("id", "tag"),
      path, commitMode = "versioned")
    // default rename mode against the versioned dataset must NOT write
    // to the dataset root (the resolver would never see it)
    WriteOps.atomicOverwrite(spark, Seq((1L, "v2")).toDF("id", "tag"), path)
    assert(graft.sources.Resolver.readParquet(spark, path)
      .select("tag").as[String].head() == "v2")
    assert(new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("_v_")) == 2)
  }

  test("partition-scoped rewrite declines timestamp partition columns (path rendering)") {
    import graft.spec._
    val dir = tempDir("graft_pts")
    val path = s"$dir/t.parquet"
    val seed = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("id", "ts", "v")
    WriteOps.atomicOverwrite(spark, seed, path, partitionBy = Seq("ts"))
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), partitionBy = Seq("ts"), skipTimestamp = true)
    val cur = graft.sources.Resolver.readParquet(spark, path)
    val batch = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2.0))
      .toDF("id", "ts", "v")
    assert(!WriteOps.partitionScopedRewrite(spark,
      WriteOps.upsert(cur, batch, Seq("id")), cur, batch, t, path))
  }

  test("ns ops refuse connector backends (would hit local paths, not the database)") {
    intercept[IllegalArgumentException] {
      graft.sources.Resolver.drop(spark,
        graft.spec.DatasetRef("mongodb", "appdb", "users"))
    }
    intercept[IllegalArgumentException] {
      graft.sources.Resolver.dropNamespace(spark, "es", "logs")
    }
    intercept[IllegalArgumentException] {
      graft.sources.Resolver.listDatasets(spark, "mongodb", "appdb")
    }
  }

  test("property: partition-scoped result == full-rewrite result across ops") {
    import graft.spec._
    val rnd = new scala.util.Random(7) // deterministic
    for (op <- Seq(WriteOp.Upsert, WriteOp.Delete, WriteOp.Insert, WriteOp.Update);
         trial <- 1 to 2) {
      val dir = tempDir("graft_psp")
      val parts = Seq("a", "b", "c", "d")
      def randRows(n: Int, idBase: Int) = (1 to n).map { i =>
        (idBase + rnd.nextInt(30).toLong, parts(rnd.nextInt(parts.size)),
          rnd.nextInt(100).toDouble)
      }
      val seed = randRows(25, 0).distinctBy(_._1).toDF("id", "part", "v")
      val batch = randRows(8, if (op == WriteOp.Insert) 20 else 0)
        .distinctBy(_._1).toDF("id", "part", "v")
      // scoped path: seed, then apply op through Runner's write path
      val scopedPath = s"$dir/scoped.parquet"
      WriteOps.atomicOverwrite(spark, seed, scopedPath, partitionBy = Seq("part"))
      val t = TargetSpec(DatasetRef("parquet", dir, "scoped"), op = op,
        pk = Seq("id"), partitionBy = Seq("part"), skipTimestamp = true)
      val cur = graft.sources.Resolver.readParquet(spark, scopedPath)
      val newState = WriteOps.applyOp(cur, batch, t)
      val used = WriteOps.partitionScopedRewrite(spark, newState, cur, batch,
        t, scopedPath)
      assert(used, s"scoped path unexpectedly declined for $op trial $trial")
      // reference path: same op, plain full rewrite
      val fullPath = s"$dir/full.parquet"
      WriteOps.atomicOverwrite(spark, seed, fullPath, partitionBy = Seq("part"))
      val cur2 = graft.sources.Resolver.readParquet(spark, fullPath)
      WriteOps.atomicOverwrite(spark, WriteOps.applyOp(cur2, batch, t),
        fullPath, partitionBy = Seq("part"))
      val a = rows(graft.sources.Resolver.readParquet(spark, scopedPath)
        .select("id", "part", "v").orderBy("id"))
      val b = rows(graft.sources.Resolver.readParquet(spark, fullPath)
        .select("id", "part", "v").orderBy("id"))
      assert(a == b, s"scoped != full for $op trial $trial")
    }
  }

  test("object-store schemes force the versioned commit protocol") {
    // s3/s3a & friends: dir rename is copy+delete, not atomic — the
    // marker protocol must be selected regardless of the flag
    for (s <- Seq("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "oss"))
      assert(WriteOps.effectiveCommitMode(Some(s), layoutVersioned = false,
        commitMode = "rename") == "versioned", s"scheme $s must pin versioned")
    assert(WriteOps.effectiveCommitMode(Some("S3A"), false, "rename") == "versioned")
    // local/HDFS schemes honor the flag
    assert(WriteOps.effectiveCommitMode(Some("file"), false, "rename") == "rename")
    assert(WriteOps.effectiveCommitMode(None, false, "rename") == "rename")
    assert(WriteOps.effectiveCommitMode(Some("hdfs"), false, "versioned") == "versioned")
    // versioned layout is sticky; "manifest" is the legacy alias
    assert(WriteOps.effectiveCommitMode(Some("file"), true, "rename") == "versioned")
    assert(WriteOps.effectiveCommitMode(None, false, "manifest") == "versioned")
  }

  test("update extends schema with new source columns (mongo $set)") {
    val b = Seq((2L, "x-new")).toDF("id", "extra")
    val out = WriteOps.update(target, b, Seq("id"))
    assert(out.columns.contains("extra"))
    assert(out.filter($"id" === 2L).select("extra").as[String].head() == "x-new")
    assert(out.filter($"id" === 1L).select("extra").collect()(0).get(0) == null)
  }
}
