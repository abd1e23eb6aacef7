package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: key arithmetic exactness and the
  * data-skipping payoff the layout exists for.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zvalue interleaves bucket bits exactly") {
    val d = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("x", "y")
    val z = d.withColumn("z", ZOrder.zvalue(
        Seq(col("x"), col("y")), Seq(0L, 0L), Seq(255L, 255L), bits = 8))
      .orderBy("x", "y")
      .select("x", "y", "z").as[(Long, Long, Long)].collect().toSeq
    // x occupies even bit positions, y odd: x=3 -> 1+4, y=5 -> 2+32
    assert(z == Seq((0L, 0L, 0L), (0L, 1L, 2L), (1L, 0L, 1L),
      (3L, 5L, 39L), (255L, 255L, 65535L)))
  }

  test("zvalue bucket scaling: max lands in the top bucket, min in 0") {
    val d = Seq((10L, -5L), (265L, 250L)).toDF("x", "y")
    val z = d.withColumn("z", ZOrder.zvalue(
        Seq(col("x"), col("y")), Seq(10L, -5L), Seq(265L, 250L), bits = 8))
      .orderBy("x").select("z").as[Long].collect().toSeq
    assert(z == Seq(0L, 65535L))
  }

  test("zorderWrite skips files on the non-leading dimension") {
    // 64x64 grid; a single-column layout keeps tight envelopes on `a`
    // only, the z-order layout bounds BOTH dims per file
    val grid = spark.range(64L * 64L)
      .select((col("id") / 64).cast("long").as("a"),
        pmod(col("id"), lit(64L)).cast("long").as("b"),
        col("id").as("payload"))
    val tmp = tempDir("zorder")
    val zPath = s"$tmp/z"; val aPath = s"$tmp/a"
    ZOrder.zorderWrite(grid, Seq("a", "b"), zPath, numFiles = 8, bits = 6)
    grid.repartitionByRange(8, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(aPath)
    assert(spark.read.parquet(zPath).count() == 4096L)
    val zFiles = ZOrder.fileEnvelopes(spark, zPath, "b").count()
    val aFiles = ZOrder.fileEnvelopes(spark, aPath, "b").count()
    // predicate b BETWEEN 0 AND 7: the a-sorted layout must read every
    // file (each spans the full b range); z-order reads a strict subset
    val zTouched = ZOrder.filesTouched(spark, zPath, "b", 0L, 7L)
    assert(ZOrder.filesTouched(spark, aPath, "b", 0L, 7L) == aFiles)
    assert(zTouched < zFiles, s"z-order touched $zTouched of $zFiles")
    // and it still prunes on the leading dim too (not as tightly as a
    // dedicated single-column sort -- that is the documented trade)
    assert(ZOrder.filesTouched(spark, zPath, "a", 0L, 7L) < zFiles)
  }

  test("bytePrefixDim: first-N-bytes big-endian long, zero-extended, " +
    "order-preserving (r17)") {
    val d = Seq("", "a", "ab", "abcdef", "abcdefgh", "b", "zz", "Zz9")
      .toDF("s")
    def ref(s: String): Long =
      s.getBytes("UTF-8").padTo(6, 0.toByte).take(6)
        .foldLeft(0L)((acc, x) => (acc << 8) | (x & 0xffL))
    val got = d.withColumn("v", ZOrder.bytePrefixDim(col("s")))
      .select("s", "v").as[(String, Long)].collect().toSeq
    got.foreach { case (s, v) =>
      assert(v == ref(s), s"prefix long of '$s'") }
    // monotone non-decreasing in unsigned byte order — the truncation
    // discipline that makes it a sound clustering dimension
    val sortedByBytes = got.map(_._1).sortBy(_.getBytes("UTF-8").toSeq
      .map(b => b & 0xff).toIndexedSeq)(
      Ordering.Implicits.seqOrdering[IndexedSeq, Int])
    val vs = sortedByBytes.map(ref)
    assert(vs == vs.sorted, "prefix longs must follow byte order")
    intercept[IllegalArgumentException] {
      ZOrder.bytePrefixDim(col("s"), nBytes = 8) }
  }

  test("r18 safeDim: wide dimensions pre-shift so the key arithmetic " +
    "never overflows; order preserved; narrow dims pass through") {
    // narrow: untouched
    val (c0, m0, x0) = ZOrder.safeDim(col("v"), 0L, 1000L, 16)
    assert((m0, x0) == (0L, 1000L))
    assert(c0.toString == col("v").cast("long").toString)
    // wide: a micros-scale span with 16-bit buckets would multiply a
    // ~2^50 difference by 2^16 — safeDim shifts first
    val mn = 1600000000000000L; val mx = mn + (1L << 50)
    val (c1, m1, x1) = ZOrder.safeDim(col("v"), mn, mx, 16)
    assert(m1 == (mn >> 5) && x1 == (mx >> 5),
      s"span 2^50 with 16-bit buckets needs a 5-bit shift, got ($m1,$x1)")
    // end-to-end: zvalue over the shifted dim computes without
    // overflow and stays monotone in the source column
    val vals = Seq(mn, mn + 12345L, mn + (1L << 30), mn + (1L << 49), mx)
    val d = vals.toDF("v")
    val z = d.withColumn("z",
        ZOrder.zvalue(Seq(c1), Seq(m1), Seq(x1), bits = 16))
      .orderBy("v").select("z").as[Long].collect().toSeq
    assert(z == z.sorted && z.distinct.size >= 3,
      s"z keys must be monotone in v: $z")
    // full-range long span (bitLength 64+1) still yields a legal shift
    val (_, m2, x2) = ZOrder.safeDim(col("v"), Long.MinValue,
      Long.MaxValue, 16)
    assert(x2 - m2 >= 0 && x2 - m2 < (1L << 47))
    // bounds: an all-NULL column is a loud error now, not an NPE
    val nul = Seq((1L, null: String), (2L, null: String)).toDF("id", "s")
    val e = intercept[IllegalArgumentException](
      ZOrder.bounds(nul.select(col("id"),
        ZOrder.bytePrefixDim(col("s")).as("s")), Seq("s")))
    assert(e.getMessage.contains("no non-null"))
  }

  test("z-order on a STRING dim: the snapshot layout records tight " +
    "byte bounds per file and a hex-key range prunes (r17)") {
    import graft.operators.Snapshot
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = (0L until 400L).map { i =>
      val k = md.digest(i.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      (i, k)
    }
    val d = rows.toDF("id", "k")
      .withColumn("__kp__", ZOrder.bytePrefixDim(col("k")))
    val b = d.agg(min("__kp__"), max("__kp__")).head()
    val zed = d.withColumn("zval", ZOrder.zvalue(
        Seq(col("__kp__"), col("id")),
        Seq(b.getLong(0), 0L), Seq(b.getLong(1), 399L), bits = 8))
      .select("id", "k", "zval")
    val tmp = tempDir("zstr")
    val p = s"$tmp/t.parquet"
    Snapshot.overwrite(spark, zed, p, indexBy = Seq("zval"),
      maxRecordsPerFile = 25, statsCols = Seq("k", "id"))
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, root, None)._2).get
    val dd = Snapshot.dataDir(root)
    assert(m.dataEntries.size >= 10)
    m.dataEntries.foreach { e =>
      val env = e.envs.flatMap(_.get("k"))
      assert(env.exists(v => v.bmin.isDefined && v.bmax.isDefined),
        s"entry ${e.rel} must carry byte bounds on the string dim")
      // bound soundness against the file's actual rows
      val kv = spark.read.parquet(new org.apache.hadoop.fs.Path(dd, e.rel)
        .toString).agg(min(col("k")), max(col("k"))).head()
      def hx(s: String) = s.getBytes("UTF-8").map(x => f"$x%02x").mkString
      val (bmin, bmax) = (env.get.bmin.get, env.get.bmax.get)
      assert(bmin <= hx(kv.getString(0)) && hx(kv.getString(1)) <= bmax,
        s"bounds of ${e.rel} must bracket the file's actual min/max")
    }
    // the clustered string dim prunes a range read from the manifest
    Snapshot.lastSkipPlan = (-1, -1)
    val got = Snapshot.readAt(spark, p, skipping = Seq(
        Snapshot.ReadPred.Cmp("k", "gte", "2"),
        Snapshot.ReadPred.Cmp("k", "lt", "4")))
      .filter(col("k") >= "2" && col("k") < "4").count()
    val want = rows.count { case (_, k) => k >= "2" && k < "4" }
    assert(got == want.toLong)
    val (kept, total) = Snapshot.lastSkipPlan
    assert(total == m.dataEntries.size && kept < total,
      s"string range must prune the z-ordered members (kept $kept of $total)")
  }

  test("zvalue guards: key width and bounds") {
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq(col("x"), col("y")), Seq(0L, 0L), Seq(1L, 1L), bits = 32)
    }
    intercept[IllegalArgumentException] {
      ZOrder.zvalue(Seq(col("x")), Seq(5L), Seq(1L), bits = 8)
    }
  }
}
