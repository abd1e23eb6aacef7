package graft

import graft.operators.{Compaction, PrunedMerge, WriteOps}
import graft.spec.{DatasetRef, TargetSpec, WriteOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Small-file compaction: row-multiset preservation, untouched-file
  * byte-identity, fragmentation actually repaired (fewer files, and
  * the NEXT pruned merge prunes again), partitioned per-dir behavior,
  * and the CLI dispatch.
  */
class CompactionSpec extends SparkSpec {

  private def walkFiles(d: java.io.File, rel: String = ""): Map[String, (Long, Long)] =
    Option(d.listFiles()).getOrElse(Array.empty).flatMap { f =>
      val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
      if (f.isDirectory) walkFiles(f, r)
      else if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
        Map(r -> (f.length, f.lastModified))
      else Map.empty[String, (Long, Long)]
    }.toMap

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy(df.columns.map(col).toIndexedSeq: _*))

  /** Fragment a sorted target the way incremental ingestion does:
    * each disjoint-key pruned INSERT rewrites nothing and appends one
    * small growth file.
    */
  private def fragment(p: String, dir: String, name: String,
                       base: DataFrame): Unit = {
    val spec = TargetSpec(DatasetRef("parquet", dir, name),
      op = WriteOp.Insert, pk = Seq("id"), indexBy = Seq("id"))
    for (b <- 1L to 4L) {
      val batch = base.filter(col("id") < 40)
        .withColumn("id", col("id") + 100000L * b)
      val st = PrunedMerge.merge(spark, spark.read.parquet(p), batch, spec, p)
      assert(st.exists(_.filesRewritten == 0), s"fragmenting insert $b: $st")
    }
  }

  test("compaction repairs a merge-fragmented flat layout; rows and big files untouched") {
    import spark.implicits._
    val dir = tempDir("cp_flat")
    val base = (0 until 4000).map(i => (i.toLong, s"v$i" * 8, i * 0.5))
      .toDF("id", "txt", "v")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("id"),
      maxRecordsPerFile = 2000)
    fragment(p, dir, "t", base)
    val before = walkFiles(new java.io.File(p))
    val expected = sortedRows(spark.read.parquet(p))
    // threshold between the merge droppings (~40-row files) and the
    // 2000-row base files
    val bigCut = before.values.map(_._1).max / 2
    val smallBefore = before.count(_._2._1 < bigCut)
    assert(smallBefore >= 4, s"fragmentation fixture too clean: $before")
    val st = Compaction.compact(spark, p, Seq("id"), targetFileBytes = bigCut)
    assert(st.filesCompacted == smallBefore && st.dirsCompacted == 1)
    assert(st.filesCreated < st.filesCompacted,
      s"compaction must shrink the file count: $st")
    val after = walkFiles(new java.io.File(p))
    assert(after.size == before.size - st.filesCompacted + st.filesCreated)
    // rows identical, big files byte-identical in place
    assert(sortedRows(spark.read.parquet(p)) == expected)
    before.filter(_._2._1 >= bigCut).foreach { case (n, m) =>
      assert(after.get(n).contains(m), s"big file $n must stay untouched")
    }
    // the compacted layout prunes again: a clustered upsert touches a
    // strict subset
    val spec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"))
    val batch = base.filter(col("id") < 50).withColumn("v", col("v") + 9.0)
    val st2 = PrunedMerge.merge(spark, spark.read.parquet(p), batch, spec, p)
    assert(st2.exists(s => s.filesRewritten > 0 && s.filesRewritten < s.filesTotal),
      s"post-compaction merge should prune: $st2")
  }

  test("partitioned layout compacts per partition dir") {
    import spark.implicits._
    val dir = tempDir("cp_part")
    val base = (0 until 3000).map(i => (i.toLong, s"g${i % 3}", i * 1.5))
      .toDF("id", "grp", "v")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base, p, partitionBy = Seq("grp"),
      indexBy = Seq("id"), maxRecordsPerFile = 100)
    val expected = sortedRows(spark.read.parquet(p))
    val before = walkFiles(new java.io.File(p))
    assert(before.size > 10)
    val st = Compaction.compact(spark, p, Seq("id"),
      targetFileBytes = 64L << 20) // everything is small → full per-dir rewrite
    assert(st.dirsCompacted == 3, s"one compaction per partition dir: $st")
    val after = walkFiles(new java.io.File(p))
    assert(after.size < before.size)
    assert(sortedRows(spark.read.parquet(p)) == expected)
  }

  test("CLI --compact parses sizes and dispatches on the target") {
    import spark.implicits._
    val dir = tempDir("cp_cli")
    val base = (0 until 1000).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("id"),
      maxRecordsPerFile = 50)
    val nBefore = walkFiles(new java.io.File(p)).size
    assert(nBefore > 5)
    val (_, opts) = graft.cli.Main.parse(Array(
      "-t", s"parquet/$dir/t", "--compact", "64m", "--mongo-index", "id"))
    assert(opts.compact.contains(64L << 20))
    // size suffix grammar
    assert(graft.cli.Main.parse(Array("-t", "parquet/a/b", "--compact", "1024"))
      ._2.compact.contains(1024L))
    assert(intercept[Exception](
      graft.cli.Main.parse(Array("-t", "parquet/a/b", "--compact", "nope"))
    ).getMessage.contains("--compact"))
    // DV debt-ceiling knob: parses a fraction, defaults to 0.2,
    // rejects garbage
    assert(graft.cli.Main.parse(Array("-t", "parquet/a/b", "--compact", "64m",
      "--fold-deletes-above", "0.05"))._2.foldDeletesAbove == 0.05)
    assert(graft.cli.Main.parse(Array("-t", "parquet/a/b", "--compact", "64m"))
      ._2.foldDeletesAbove == 0.2)
    assert(intercept[Exception](
      graft.cli.Main.parse(Array("-t", "parquet/a/b",
        "--fold-deletes-above", "-1"))
    ).getMessage.contains("--fold-deletes-above"))
    val (job, o) = graft.cli.Main.parse(Array(
      "-t", s"parquet/$dir/t", "--compact", "64m", "--mongo-index", "id"))
    graft.cli.Main.execute(spark, job, o)
    val after = walkFiles(new java.io.File(p))
    assert(after.size < nBefore)
    assert(sortedRows(spark.read.parquet(p)) == sortedRows(base))
  }

  test("snapshot compaction folds tombstones into rewritten files; carries for kept ones") {
    import graft.operators.Snapshot
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = tempDir("compact_dvfold")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    // incompressible payload so "big" files stay above the size cut
    val base = spark.range(400).select($"id",
      sha2(concat(lit("pay"), $"id".cast("string")), 512).as("txt"))
    // big sorted files for the low band, then fragment the high band
    // with small appends so compaction has a strict subset to rewrite
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("id"),
      maxRecordsPerFile = 200, commitMode = "snapshot", keepVersions = 2)
    val spec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Insert, pk = Seq("id"), indexBy = Seq("id"),
      commitMode = "snapshot")
    for (b <- 1L to 3L) {
      val batch = base.filter(col("id") < 10)
        .withColumn("id", col("id") + 100000L * b)
      assert(PrunedMerge.merge(spark,
        graft.sources.Resolver.readParquet(spark, p), batch, spec, p).isDefined)
    }
    // tombstone a band that lives in BOTH a big file and small ones
    Snapshot.deleteByKeys(spark, p,
      (Seq(5L, 6L) ++ Seq(100005L, 100006L)).toDF("id"))
    val want = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    // partial fold: small files rewrite with the fold, the big files
    // stay — tombstones must CARRY (kept files still need them)
    val bigEnough = 20000L
    val st = Compaction.compact(spark, p, Seq("id"), bigEnough,
      keepVersions = 2, foldDeletesAbove = 1.0) // trigger off
    assert(st.filesCompacted > 0)
    val (_, v1) = Snapshot.resolveVersion(fs, new Path(p), None)
    assert(Snapshot.manifestAt(fs, v1).get.deleteEntries.nonEmpty,
      "kept files still need their tombstones")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == want)
    // debt ceiling: foldDeletesAbove = 0 forces the full fold — every
    // data file rewrites, the DV set drops, rows unchanged, and the
    // pruned merge composes with no tombstones in sight
    val st2 = Compaction.compact(spark, p, Seq("id"), bigEnough,
      keepVersions = 2, foldDeletesAbove = 0.0)
    assert(st2.dirsCompacted > 0)
    val (_, v2) = Snapshot.resolveVersion(fs, new Path(p), None)
    assert(Snapshot.manifestAt(fs, v2).get.deleteEntries.isEmpty,
      "full fold must drop the DV set")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == want)
    val again = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq((5L, "back")).toDF("id", "txt"), spec.copy(op = WriteOp.Upsert), p)
    assert(again.exists(s => s.filesRewritten < s.filesTotal))

    // per-tombstone retirement (seq rule): three scattered append-shaped
    // upserts each add one batch file and one tombstone. The seed files
    // compact as one class, folding every tombstone; each single-file
    // batch class is kept. The oldest tombstone applies to no kept file
    // and drops; the newer two stay for the older batch files.
    val p2 = s"$dir/scatter.parquet"
    WriteOps.atomicOverwrite(spark, base, p2, indexBy = Seq("id"),
      maxRecordsPerFile = 100, commitMode = "snapshot", keepVersions = 8)
    for (k <- 0L to 2L)
      Snapshot.upsertAppend(spark, p2,
        (0L until 4L).map(i => (i * 100 + k, s"U$k")).toDF("id", "txt"),
        Seq("id"), indexBy = Seq("id"), keepVersions = 8)
    def tombSeqs = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p2), None)._2).get
      .deleteEntries.map(_.seq).sorted
    val before = tombSeqs
    assert(before.size == 3)
    val want2 = sortedRows(graft.sources.Resolver.readParquet(spark, p2))
    assert(Compaction.compact(spark, p2, Seq("id"), 1L << 20,
      keepVersions = 8).filesCompacted > 0)
    assert(tombSeqs == before.drop(1),
      s"only the oldest tombstone retires: before=$before after=$tombSeqs")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p2)) == want2)
  }

  test("class-count ceiling: many tiny appends force the full fold even under the byte ceiling (r12)") {
    import graft.operators.Snapshot
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = tempDir("compact_classes")
    val p = s"$dir/t.parquet"
    import spark.implicits._
    // incompressible payload keeps tombstone bytes far below the 0.2
    // byte ceiling, so ONLY the class trigger can force the fold
    val base = spark.range(10000).select($"id",
      sha2(concat(lit("pay"), $"id".cast("string")), 512).as("txt"))
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("id"),
      maxRecordsPerFile = 5000, commitMode = "snapshot", keepVersions = 2)
    // 10 tiny append-shaped upserts → 10 tombstones, 11 seq classes
    for (b <- 0L until 10L)
      Snapshot.upsertAppend(spark, p,
        (0L until 3L).map(i => (b * 3 + i, s"U$b$i")).toDF("id", "txt"),
        Seq("id"), indexBy = Seq("id"))
    val m0 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m0.deleteEntries.size == 10)
    val dvBytes = m0.deleteEntries.map(_.bytes).sum.toDouble
    val dataBytes = m0.dataEntries.map(_.bytes).sum.toDouble
    assert(dvBytes / dataBytes < 0.2,
      s"fixture must stay under the byte ceiling, got ${dvBytes / dataBytes}")
    val want = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    val st = Compaction.compact(spark, p, Seq("id"), 1L << 20,
      keepVersions = 2) // default byte ceiling — class trigger fires
    assert(st.filesCompacted > 0)
    val m1 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m1.deleteEntries.isEmpty,
      "class-count ceiling must widen to the full fold and retire the debt")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == want)
    assert(graft.sources.Resolver.readParquet(spark, p)
      .filter($"id" === 4L).select("txt").as[String].head() == "U11")
  }

  test("snapshot compaction folds PREDICATE tombstones; partition-col predicates carry (r12)") {
    import graft.operators.Snapshot
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._

    // flat layout: a data-schema predicate folds and (at the ceiling) drops
    val dir = tempDir("compact_dvpred")
    val p = s"$dir/t.parquet"
    val base = spark.range(400).select($"id",
      sha2(concat(lit("pay"), $"id".cast("string")), 512).as("txt"))
    // big sorted files + small appended fragments (the existing
    // fold-test fixture shape) so a partial compaction KEEPS files
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("id"),
      maxRecordsPerFile = 200, commitMode = "snapshot", keepVersions = 2)
    val spec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Insert, pk = Seq("id"), indexBy = Seq("id"),
      commitMode = "snapshot")
    for (b <- 1L to 3L) {
      val batch = base.filter(col("id") < 10)
        .withColumn("id", col("id") + 100000L * b)
      assert(PrunedMerge.merge(spark,
        graft.sources.Resolver.readParquet(spark, p), batch, spec, p).isDefined)
    }
    Snapshot.deleteByPredicate(spark, p, "id % 10 = 7")
    val want = sortedRows(graft.sources.Resolver.readParquet(spark, p))
    // ceiling off: tiny predicate bytes never trip it; small files
    // compact WITH the fold, big files are kept — the predicate
    // CARRIES (kept files still need it) and reads stay correct
    // (re-applying a folded filter is idempotent)
    val st = Compaction.compact(spark, p, Seq("id"), 20000L,
      keepVersions = 2, foldDeletesAbove = 1.0)
    assert(st.filesCompacted > 0)
    val m1 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m1.deleteEntries.nonEmpty,
      "kept files still need the predicate at read")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == want)
    // ceiling at zero: full rewrite folds the predicate and DROPS it
    val st2 = Compaction.compact(spark, p, Seq("id"), 20000L,
      keepVersions = 2, foldDeletesAbove = 0.0)
    assert(st2.dirsCompacted > 0)
    val m2 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    assert(m2.deleteEntries.isEmpty, "folded predicate must drop")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p)) == want)

    // partitioned layout: a predicate on the PARTITION column cannot
    // evaluate on the per-group read — it must carry through even at
    // the ceiling, and reads stay correct
    val dir2 = tempDir("compact_dvpredpart")
    val p2 = s"$dir2/t.parquet"
    val base2 = spark.range(200).select($"id",
      ($"id" % 4).cast("int").as("grp"),
      sha2(concat(lit("x"), $"id".cast("string")), 256).as("txt"))
    WriteOps.atomicOverwrite(spark, base2, p2, partitionBy = Seq("grp"),
      maxRecordsPerFile = 10, commitMode = "snapshot", keepVersions = 2)
    Snapshot.deleteByPredicate(spark, p2, "grp = 3")
    val want2 = sortedRows(graft.sources.Resolver.readParquet(spark, p2))
    assert(want2.size == 150)
    val st3 = Compaction.compact(spark, p2, Seq("id"), 1L << 20,
      keepVersions = 2, foldDeletesAbove = 0.0)
    assert(st3.dirsCompacted > 0)
    val m3 = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p2), None)._2).get
    assert(m3.deleteEntries.nonEmpty,
      "a partition-column predicate must carry through compaction")
    assert(sortedRows(graft.sources.Resolver.readParquet(spark, p2)) == want2)
  }
}
