package graft

import graft.operators.{PrunedMerge, WriteOps}
import graft.spec.{DatasetRef, JobSpec, SourceSpec, TargetSpec, WriteOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-level pruned MERGE: equivalence with the pure WriteOps
  * transforms, byte-identity of untouched files, conservative
  * fallbacks, and the engine-integrated path through Runner.
  */
class PrunedMergeSpec extends SparkSpec {

  /** Write `df` as a sorted-layout parquet target and return its path. */
  private def layTarget(df: DataFrame, dir: String, name: String,
                        indexBy: Seq[String]): String = {
    val p = s"$dir/$name.parquet"
    // maxRecordsPerFile splits each sorted range partition into
    // consecutive chunks — multiple files with tight pk envelopes
    WriteOps.atomicOverwrite(spark, df, p, indexBy = indexBy,
      maxRecordsPerFile = 300)
    p
  }

  private def dataFiles(p: String): Map[String, (Long, Long)] = {
    val d = new java.io.File(p)
    d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => f.getName -> (f.length, f.lastModified)).toMap
  }

  private def tgt(p: String, op: WriteOp, pk: Seq[String] = Seq("o_orderkey"),
                  indexBy: Seq[String] = Seq("o_orderkey")): TargetSpec = {
    val dir = p.stripSuffix(".parquet")
    val slash = dir.lastIndexOf('/')
    TargetSpec(DatasetRef("parquet", dir.substring(0, slash), dir.substring(slash + 1)),
      op = op, pk = pk, indexBy = indexBy)
  }

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy(df.columns.map(col).toIndexedSeq: _*))

  test("pruned upsert rewrites only pk-intersecting files; result equals the pure transform") {
    val dir = tempDir("pm_upsert")
    val orders = sf("orders")
    val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
    val before = dataFiles(p)
    assert(before.size > 1, "need a multi-file target to prove pruning")

    val batch = orders.filter(col("o_orderkey") < 300)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val expected = sortedRows(
      WriteOps.upsert(spark.read.parquet(p), batch, Seq("o_orderkey")))

    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      tgt(p, WriteOp.Upsert), p)
    assert(stats.isDefined, "pruned path must apply to a sorted parquet target")
    val st = stats.get
    assert(st.filesRewritten < st.filesTotal,
      s"expected pruning, rewrote ${st.filesRewritten}/${st.filesTotal}")
    assert(st.filesRewritten > 0)
    assert(st.bytesRewritten < st.bytesTotal)

    assert(sortedRows(spark.read.parquet(p)) == expected)
    // untouched files stay byte-identical (same name, length, mtime)
    val after = dataFiles(p)
    val untouchedKept = before.filter { case (n, m) => after.get(n).contains(m) }
    assert(untouchedKept.size == st.filesTotal - st.filesRewritten)
  }

  test("pruned update / delete / index match the pure transforms") {
    val orders = sf("orders")
    for ((op, mkBatch, pure) <- Seq[(WriteOp, DataFrame => DataFrame,
      (DataFrame, DataFrame) => DataFrame)](
      (WriteOp.Update,
        (o: DataFrame) => o.filter(col("o_orderkey") < 200)
          .withColumn("o_orderpriority", lit("9-X")),
        (t: DataFrame, b: DataFrame) => WriteOps.update(t, b, Seq("o_orderkey"))),
      (WriteOp.Delete,
        (o: DataFrame) => o.filter(col("o_orderkey") < 200),
        (t: DataFrame, b: DataFrame) => WriteOps.delete(t, b, Seq("o_orderkey"))),
      (WriteOp.Index,
        (o: DataFrame) => o.filter(col("o_orderkey") < 200)
          .withColumn("o_orderstatus", lit("Z")),
        (t: DataFrame, b: DataFrame) => WriteOps.index(t, b, Seq("o_orderkey"))))) {
      val dir = tempDir(s"pm_${op.name}")
      val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
      val batch = mkBatch(orders)
      val expected = sortedRows(pure(spark.read.parquet(p), batch))
      val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch, tgt(p, op), p)
      assert(stats.isDefined && stats.get.filesRewritten < stats.get.filesTotal,
        s"${op.name}: expected a pruned rewrite, got $stats")
      assert(sortedRows(spark.read.parquet(p)) == expected, op.name)
    }
  }

  test("insert of out-of-range keys appends without touching any existing file") {
    val dir = tempDir("pm_insert")
    val orders = sf("orders")
    val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
    val before = dataFiles(p)
    val batch = orders.filter(col("o_orderkey") < 100)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val expected = sortedRows(
      WriteOps.insert(spark.read.parquet(p), batch, Seq("o_orderkey")))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      tgt(p, WriteOp.Insert), p)
    assert(stats.isDefined && stats.get.filesRewritten == 0,
      s"disjoint insert should rewrite zero files, got $stats")
    assert(sortedRows(spark.read.parquet(p)) == expected)
    val after = dataFiles(p)
    assert(before.forall { case (n, m) => after.get(n).contains(m) },
      "every pre-existing file must stay byte-identical")
    assert(after.size > before.size, "appended files must exist")
  }

  test("string pk prunes with unsigned byte-order envelopes") {
    val dir = tempDir("pm_str")
    import spark.implicits._
    val docs = (0 until 4000).map(i => (f"doc_$i%05d", i.toLong)).toDF("id", "v")
    val p = s"$dir/docs.parquet"
    WriteOps.atomicOverwrite(spark, docs, p, indexBy = Seq("id"),
      maxRecordsPerFile = 500)
    val batch = Seq(("doc_00007", -1L), ("doc_00099", -2L)).toDF("id", "v")
    val expected = sortedRows(
      WriteOps.upsert(spark.read.parquet(p), batch, Seq("id")))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      TargetSpec(DatasetRef("parquet", dir, "docs"), op = WriteOp.Upsert,
        pk = Seq("id"), indexBy = Seq("id")), p)
    assert(stats.isDefined && stats.get.filesRewritten < stats.get.filesTotal,
      s"string-pk pruning failed: $stats")
    assert(sortedRows(spark.read.parquet(p)) == expected)
  }

  test("string pk on a snapshot table plans from MANIFEST byte envelopes (zero footer reads)") {
    import graft.operators.Snapshot
    import org.apache.hadoop.fs.Path
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = tempDir("pm_str_manifest")
    import spark.implicits._
    val docs = (0 until 2000).map(i => (f"doc_$i%05d", i.toLong)).toDF("id", "v")
    val p = s"$dir/docs.parquet"
    WriteOps.atomicOverwrite(spark, docs, p, indexBy = Seq("id"),
      maxRecordsPerFile = 250, commitMode = "snapshot", keepVersions = 4)
    val root = new Path(p)
    val (v, vdir) = Snapshot.resolveVersion(fs, root, None)
    val m = Snapshot.manifestAt(fs, vdir).get
    assert(m.dataEntries.forall(_.envs.exists(_.get("id").exists(e =>
      e.bmin.isDefined && e.bmax.isDefined))),
      "the sorted writer must record byte envelopes for the string pk")
    // WHITE-BOX plan-source proof (the r12 long-pk test's string twin):
    // falsify the envelope of the file holding doc_00007 so it excludes
    // the batch key — a manifest-planned merge must then MISS the stale
    // row and land the upsert as a duplicate; a footer-sweep plan would
    // have rewritten the file (1 row). Deliberate corruption of a
    // throwaway table.
    val key = Snapshot.BytesBounds.hex("doc_00007".getBytes("UTF-8"))
    val lied = m.entries.map(e =>
      if (e.envs.exists(_.get("id").exists(ce =>
        ce.bmin.exists(_ <= key) && ce.bmax.exists(_ >= key))))
        e.copy(envs = Some(Map("id" -> Snapshot.ColEnv(None, None, false,
          Some(Snapshot.BytesBounds.hex("zzz_0".getBytes)),
          Some(Snapshot.BytesBounds.hex("zzz_9".getBytes))))))
      else e)
    val v2dir = new Path(root, f"_v_${v + 1}%020d")
    graft.operators.ManifestCodec.writeManifest(fs, v2dir, m.copy(entries = lied))
    fs.create(new Path(v2dir, graft.operators.Versioned.Marker), false).close()
    Snapshot.clearResolvedCache()
    val t = TargetSpec(DatasetRef("parquet", dir, "docs"),
      op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 4)
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p),
      Seq(("doc_00007", -1L)).toDF("id", "v"), t, p)
    assert(st.isDefined)
    val dups = graft.sources.Resolver.readParquet(spark, p)
      .filter(col("id") === "doc_00007").count()
    assert(dups == 2L,
      s"string-pk plan must come from the (falsified) MANIFEST byte " +
        s"envelopes, got $dups row(s) — 1 means it swept footers")
  }

  test("timestamp pk prunes via annotated INT64 micros stats (both tz flavors)") {
    import spark.implicits._
    for (flavor <- Seq("timestamp", "timestamp_ntz")) {
      val dir = tempDir(s"pm_ts_$flavor")
      val base = spark.range(0, 2000)
        .select(timestamp_seconds(col("id") * 60).cast(flavor).as("ts"),
          col("id").as("v"))
      val p = s"$dir/t.parquet"
      WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("ts"),
        maxRecordsPerFile = 250)
      val batch = spark.range(0, 10)
        .select(timestamp_seconds(col("id") * 60).cast(flavor).as("ts"),
          (col("id") + 100000L).as("v"))
      val expected = sortedRows(
        WriteOps.upsert(spark.read.parquet(p), batch, Seq("ts")))
      val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
        TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
          pk = Seq("ts"), indexBy = Seq("ts")), p)
      assert(stats.isDefined && stats.get.filesRewritten < stats.get.filesTotal,
        s"$flavor pk should prune, got $stats")
      assert(stats.get.filesRewritten > 0, flavor)
      assert(sortedRows(spark.read.parquet(p)) == expected, flavor)
    }
  }

  test("multi-column pk prunes on later components (first component constant)") {
    val dir = tempDir("pm_multi")
    import spark.implicits._
    // first pk component is the SAME everywhere: first-component-only
    // pruning would touch every file; per-component intersection must
    // prune on `id`
    val base = (0 until 4000).map(i => ("g", i.toLong, s"v$i")).toDF("grp", "id", "v")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("id"),
      maxRecordsPerFile = 500)
    val batch = Seq(("g", 7L, "X"), ("g", 9L, "Y")).toDF("grp", "id", "v")
    val expected = sortedRows(
      WriteOps.upsert(spark.read.parquet(p), batch, Seq("grp", "id")))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
        pk = Seq("grp", "id"), indexBy = Seq("id")), p)
    assert(stats.isDefined && stats.get.filesRewritten < stats.get.filesTotal,
      s"second-component pruning failed: $stats")
    assert(sortedRows(spark.read.parquet(p)) == expected)
  }

  test("partitioned target: file pruning inside partitions, untouched files byte-identical") {
    val dir = tempDir("pm_part")
    val orders = sf("orders")
    val p = s"$dir/orders_t.parquet"
    WriteOps.atomicOverwrite(spark, orders, p, partitionBy = Seq("o_orderstatus"),
      maxRecordsPerFile = 200, indexBy = Seq("o_orderkey"))
    def walkFiles(d: java.io.File, rel: String = ""): Map[String, (Long, Long)] =
      d.listFiles().flatMap { f =>
        val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
        if (f.isDirectory) walkFiles(f, r)
        else if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
          Map(r -> (f.length, f.lastModified))
        } else Map.empty[String, (Long, Long)]
      }.toMap
    val before = walkFiles(new java.io.File(p))
    assert(before.size > 3, s"need multiple files per partition, got ${before.size}")

    val batch = orders.filter(col("o_orderkey") < 300)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val expected = sortedRows(
      WriteOps.upsert(spark.read.parquet(p), batch, Seq("o_orderkey")))
    val spec = TargetSpec(DatasetRef("parquet", dir, "orders_t"),
      op = WriteOp.Upsert, pk = Seq("o_orderkey"),
      indexBy = Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch, spec, p)
    assert(stats.isDefined && stats.get.filesRewritten < stats.get.filesTotal,
      s"partitioned pruning failed: $stats")
    assert(sortedRows(spark.read.parquet(p)) == expected)
    val after = walkFiles(new java.io.File(p))
    val kept = before.filter { case (n, m) => after.get(n).contains(m) }
    assert(kept.size == stats.get.filesTotal - stats.get.filesRewritten,
      "untouched files must stay byte-identical in place")
  }

  test("partition column in the pk becomes a point envelope (whole partitions pruned)") {
    val dir = tempDir("pm_partpk")
    val orders = sf("orders")
    val p = s"$dir/orders_t.parquet"
    WriteOps.atomicOverwrite(spark, orders, p, partitionBy = Seq("o_orderstatus"),
      maxRecordsPerFile = 200, indexBy = Seq("o_orderkey"))
    // batch touches ONLY status 'F' rows → every file under other
    // status dirs must be excluded by the partition point envelope
    val batch = orders.filter(col("o_orderstatus") === "F" && col("o_orderkey") < 500)
      .withColumn("o_orderpriority", lit("9-PARTPK"))
    val expected = sortedRows(WriteOps.upsert(
      spark.read.parquet(p), batch, Seq("o_orderstatus", "o_orderkey")))
    val spec = TargetSpec(DatasetRef("parquet", dir, "orders_t"),
      op = WriteOp.Upsert, pk = Seq("o_orderstatus", "o_orderkey"),
      indexBy = Seq("o_orderkey"), partitionBy = Seq("o_orderstatus"))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch, spec, p)
    assert(stats.isDefined, "partition-pk pruning must apply")
    // no file outside o_orderstatus=F may be rewritten
    def countFiles(sub: String): Int = {
      val d = new java.io.File(s"$p/o_orderstatus=$sub")
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    }
    val nonF = Seq("O", "P").map(countFiles).sum
    assert(stats.get.filesRewritten <= stats.get.filesTotal - nonF,
      s"only F-partition files may be touched: $stats, nonF=$nonF")
    assert(sortedRows(spark.read.parquet(p)) == expected)
  }

  test("schema-extending update falls back (None) and leaves the target untouched") {
    val dir = tempDir("pm_schema")
    val orders = sf("orders")
    val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
    val before = dataFiles(p)
    val batch = orders.filter(col("o_orderkey") < 200)
      .withColumn("brand_new_col", lit("x"))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      tgt(p, WriteOp.Update), p)
    assert(stats.isEmpty, "schema extension must fall back to the full rewrite")
    assert(dataFiles(p) == before)
  }

  test("conservative fallbacks: partitioned spec on flat layout, tmap, versioned layout") {
    val dir = tempDir("pm_fallback")
    val orders = sf("orders")
    val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
    val cur = spark.read.parquet(p)
    val batch = orders.filter(col("o_orderkey") < 200)
    assert(PrunedMerge.merge(spark, cur, batch,
      tgt(p, WriteOp.Upsert).copy(partitionBy = Seq("o_orderstatus")), p).isEmpty)
    assert(PrunedMerge.merge(spark, cur, batch,
      tgt(p, WriteOp.Upsert).copy(tmap = Some("o_orderkey BIGINT")), p).isEmpty)
    assert(PrunedMerge.merge(spark, cur, batch,
      tgt(p, WriteOp.Upsert).copy(commitMode = "versioned"), p).isEmpty)
    // a versioned-layout dataset never takes the in-place file swap
    val vdir = tempDir("pm_versioned")
    val vp = s"$vdir/orders_v.parquet"
    WriteOps.atomicOverwrite(spark, orders, vp, commitMode = "versioned")
    assert(PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, vp), batch,
      tgt(vp, WriteOp.Upsert), vp).isEmpty)
  }

  test("oversized batch prunes via distributed range summaries, result unchanged") {
    val dir = tempDir("pm_summary")
    val orders = sf("orders")
    val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
    val before = dataFiles(p)
    // a clustered batch far above maxBatchKeys=10: the exact key set
    // is never collected; the ≤1024-range summary must still exclude
    // the files whose envelopes sit outside the key band
    val batch = orders.filter(col("o_orderkey") < 500)
      .withColumn("o_orderpriority", lit("9-SUM"))
    assert(batch.select("o_orderkey").distinct().count() > 10)
    val expected = sortedRows(
      WriteOps.upsert(spark.read.parquet(p), batch, Seq("o_orderkey")))
    val stats = PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      tgt(p, WriteOp.Upsert), p, maxBatchKeys = 10)
    assert(stats.isDefined && stats.get.filesRewritten < stats.get.filesTotal,
      s"range-summary pruning failed: $stats")
    assert(sortedRows(spark.read.parquet(p)) == expected)
    val after = dataFiles(p)
    val kept = before.filter { case (n, m) => after.get(n).contains(m) }
    assert(kept.size == stats.get.filesTotal - stats.get.filesRewritten)
    // and a summary-path disjoint insert still touches nothing
    val dir2 = tempDir("pm_summary2")
    val p2 = layTarget(orders, dir2, "orders_t", Seq("o_orderkey"))
    val ins = orders.withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val st2 = PrunedMerge.merge(spark, spark.read.parquet(p2), ins,
      tgt(p2, WriteOp.Insert), p2, maxBatchKeys = 10)
    assert(st2.isDefined && st2.get.filesRewritten == 0, s"$st2")
    assert(spark.read.parquet(p2).count() == 2 * orders.count())
  }

  test("null pk keys in the batch stay correct (conservative envelope nulls)") {
    val dir = tempDir("pm_null")
    import spark.implicits._
    val base = (1 to 1000).map(i => (Option(i.toLong), s"v$i")).toDF("k", "v")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, base, p, indexBy = Seq("k"),
      maxRecordsPerFile = 250)
    val batch = Seq((Option.empty[Long], "NULLROW"), (Option(5L), "five"))
      .toDF("k", "v")
    val expected = sortedRows(
      WriteOps.upsert(spark.read.parquet(p), batch, Seq("k")))
    PrunedMerge.merge(spark, spark.read.parquet(p), batch,
      TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
        pk = Seq("k"), indexBy = Seq("k")), p)
    assert(sortedRows(spark.read.parquet(p)) == expected)
  }

  test("ADD-COLUMN widening upsert: strict subset rewrite, NULLs served, compaction unifies") {
    import spark.implicits._
    val dir = tempDir("pm_evolve")
    val p = s"$dir/t.parquet"
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "txt")
    WriteOps.atomicOverwrite(spark, df, p, indexBy = Seq("id"),
      maxRecordsPerFile = 100, commitMode = "snapshot", keepVersions = 2)
    val before = poolRels(p)
    val batch = (0L until 50L).map(i => (i, s"V$i", i % 5)).toDF("id", "txt", "flag")
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot")
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p), batch, t, p)
    assert(st.exists(s => s.filesRewritten > 0 && s.filesRewritten < s.filesTotal))
    // untouched pool files byte-identical (still listed); schema evolved
    val after = graft.sources.Resolver.readParquet(spark, p)
    assert(after.columns.toSeq == Seq("id", "txt", "flag"))
    assert(after.count() == 1000)
    assert(after.filter($"id" < 50 && $"flag" =!= $"id" % 5).isEmpty)
    assert(after.filter($"id" >= 50 && $"flag".isNotNull).isEmpty,
      "untouched rows must serve the new column as NULL")
    assert(before.intersect(poolRels(p)).nonEmpty,
      "untouched files must be shared by reference")
    // compaction over the mixed pre/post-evolution files keeps the
    // evolved schema and the NULL-fill semantics
    val stc = graft.operators.Compaction.compact(spark, p, Seq("id"),
      1L << 20, keepVersions = 2)
    assert(stc.filesCompacted > 0)
    val compacted = graft.sources.Resolver.readParquet(spark, p)
    assert(compacted.count() == 1000 &&
      compacted.filter($"id" >= 50 && $"flag".isNotNull).isEmpty)
  }

  private def poolRels(p: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(p)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dd = graft.operators.Snapshot.dataDir(root)
    graft.operators.Snapshot.listDataFilesRec(fsys, dd)
      .map(f => graft.operators.Snapshot.relPath(dd, f.getPath)).toSet
  }

  test("engine-integrated: Runner upsert takes the pruned path and keeps untouched files") {
    val dir = tempDir("pm_runner")
    val orders = sf("orders")
    val p = layTarget(orders, dir, "orders_t", Seq("o_orderkey"))
    val before = dataFiles(p)
    // source: a small low-key slice, upserted back with a transform
    val srcP = s"$dir/batch.parquet"
    orders.filter(col("o_orderkey") < 300)
      .withColumn("o_orderpriority", lit("0-ENGINE"))
      .write.parquet(srcP)
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", dir, "batch")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "orders_t"),
        op = WriteOp.Upsert, pk = Seq("o_orderkey"),
        indexBy = Seq("o_orderkey"), skipTimestamp = true)))
    graft.engine.Runner.execute(spark, job, log = false)
    val after = dataFiles(p)
    val kept = before.count { case (n, m) => after.get(n).contains(m) }
    assert(kept > 0 && kept < before.size,
      s"engine write should rewrite some files and keep the rest ($kept/${before.size} kept)")
    val got = spark.read.parquet(p)
    assert(got.filter(col("o_orderpriority") === "0-ENGINE").count() ==
      orders.filter(col("o_orderkey") < 300).count())
    assert(got.count() == orders.count())
  }
}
