package graft

import graft.operators.{Snapshot, WriteOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The read-side `format("graft")` Table (r14): external Spark — bare
  * `spark.read` and plain SQL — must see a snapshot table exactly as
  * the engine's own [[graft.sources.Resolver.readParquet]] does,
  * through deletion vectors, column rename/widen evolution and time
  * travel, with filters/projections pushed into the inner native scan.
  */
class GraftReadSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  /** A table exercising the full evolved-read stack: DV tombstones, a
    * rename (alias recovery), a type widen (mixed-width files).
    */
  private def build(p: String): Unit = {
    WriteOps.atomicOverwrite(spark,
      (0L until 60L).map(i => (i, s"v$i", (i % 5).toInt)).toDF("id", "txt", "grp"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 15,
      commitMode = "snapshot", keepVersions = 10)                  // v1
    Snapshot.deleteByKeys(spark, p, Seq(7L, 8L).toDF("id"),
      keepVersions = 10)                                           // v2 (DV)
    Snapshot.renameColumn(spark, p, "txt", "label", keepVersions = 10) // v3
    Snapshot.widenColumn(spark, p, "grp",
      org.apache.spark.sql.types.LongType, keepVersions = 10)      // v4
    Snapshot.upsertAppend(spark, p,
      Seq((100L, "wide", 10000000000L)).toDF("id", "label", "grp"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 10)           // v5
  }

  test("bare spark.read.format(\"graft\") ≡ the engine's resolved read, through DVs + rename + widen") {
    val dir = tempDir("gds_eq")
    val p = s"$dir/t.parquet"
    build(p)
    val viaFormat = spark.read.format("graft").load(p)
    val viaEngine = graft.sources.Resolver.readParquet(spark, p)
    assert(viaFormat.schema == viaEngine.schema)
    assert(canon(viaFormat) == canon(viaEngine))
    assert(viaFormat.filter(col("id").isin(7L, 8L)).isEmpty,
      "tombstones must apply through the external read")
    assert(viaFormat.filter(col("grp") === 10000000000L).count() == 1,
      "widened values and alias-recovered columns serve externally")
    assert(viaFormat.count() == 59)
  }

  test("time travel via options; version/timestamp exclusivity is loud") {
    val dir = tempDir("gds_tt")
    val p = s"$dir/t.parquet"
    build(p)
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(p)
    assert(v1.columns.toSeq == Seq("id", "txt", "grp") && v1.count() == 60,
      "a pinned version serves ITS OWN schema and rows")
    assert(canon(v1) ==
      canon(graft.sources.Resolver.readParquet(spark, p, Some(1L))))
    // timestampAsOf resolves to the latest commit at-or-before
    val (_, v2dir) = Snapshot.resolveVersion(fs, new Path(p), Some(2L))
    val ts2 = Snapshot.manifestAt(fs, v2dir).get.commitTsMillis.get
    val atTs = spark.read.format("graft")
      .option("timestampAsOf", ts2.toString).load(p)
    assert(atTs.filter(col("id") === 7L).isEmpty && atTs.count() == 58,
      "timestampAsOf lands on the DV-delete version")
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("timestampAsOf", ts2.toString).load(p)
    }
    assert(e.getMessage.contains("mutually exclusive"))
    intercept[Exception] { // a vacuumed/unknown version errors loudly
      spark.read.format("graft").option("versionAsOf", "99").load(p).count()
    }
  }

  test("plain SQL over a temporary view; filters and projections push soundly") {
    val dir = tempDir("gds_sql")
    val p = s"$dir/t.parquet"
    build(p)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gtv USING graft " +
      s"OPTIONS (path '$p')")
    val got = spark.sql(
      "SELECT id, label FROM gtv WHERE grp = 2 AND id < 20 ORDER BY id")
    // grp = i%5 == 2 → ids 2,12,17 survive (7 is tombstoned)
    assert(rows(got) == Seq(Seq(2L, "v2"), Seq(12L, "v12"), Seq(17L, "v17")))
    // every translated-filter shape returns exactly the engine's rows
    val ext = spark.read.format("graft").load(p)
    val eng = graft.sources.Resolver.readParquet(spark, p)
    def same(f: DataFrame => DataFrame): Unit =
      assert(canon(f(ext)) == canon(f(eng)))
    same(_.filter(col("id") > 50))
    same(_.filter(col("label").startsWith("v1")))
    same(_.filter(col("id").isin(1L, 2L, 100L)))
    same(_.filter(!(col("grp") === 2L && col("id") < 30)))
    same(_.filter(col("label").isNotNull && col("grp") <=> 3L))
    same(_.select("label"))
    assert(ext.filter(col("id") === -1L).isEmpty)
    spark.sql("DROP VIEW gtv")
  }

  test("a relation PINS its snapshot: repeated scans never mix versions across a concurrent commit") {
    // r16 (ADVICE): the filtered buildScan path used to re-resolve the
    // head per scan — a commit landing between two actions on ONE
    // relation silently mixed versions. The head is now pinned at
    // relation construction.
    val dir = tempDir("gds_pin")
    val p = s"$dir/t.parquet"
    build(p)
    val t = spark.read.format("graft").load(p)
    val c1 = t.filter(col("id") < 1000).count() // filtered → skip path
    Snapshot.appendBatch(spark, p,
      Seq((500L, "late", 1L)).toDF("id", "label", "grp"), keepVersions = 10)
    val c2 = t.filter(col("id") < 1000).count()
    assert(c1 == c2,
      s"the SAME relation must keep serving its pinned snapshot ($c1 vs $c2)")
    assert(t.count() == c1, "unfiltered scans pin identically")
    // a FRESH relation sees the new head
    val t2 = spark.read.format("graft").load(p)
    assert(t2.filter(col("id") < 1000).count() == c1 + 1)
  }

  test("write-side append: external save() ≡ engine append, atomic under a racing commit") {
    val dir = tempDir("gds_append")
    val (pExt, pEng) = (s"$dir/ext.parquet", s"$dir/eng.parquet")
    build(pExt); build(pEng)
    val batch = Seq((200L, "app200", 7L), (201L, "app201", 8L))
      .toDF("id", "label", "grp")
    // TWIN: the same batch through the external surface and through
    // the engine's own pure-add commit
    batch.write.format("graft").mode("append").save(pExt)
    Snapshot.appendBatch(spark, pEng, batch, keepVersions = 2)
    assert(canon(graft.sources.Resolver.readParquet(spark, pExt)) ==
      canon(graft.sources.Resolver.readParquet(spark, pEng)),
      "external append ≡ engine-side append")
    // read-back through BOTH surfaces is identical
    assert(canon(spark.read.format("graft").load(pExt)) ==
      canon(graft.sources.Resolver.readParquet(spark, pExt)))
    // the appended files carry manifest envelopes → read-skipping works
    val pt = Snapshot.readAt(spark, pExt,
      skipping = Seq(Snapshot.ReadPred.Cmp("id", "eq", "200")))
    assert(pt.filter(col("id") === 200L).count() == 1)
    val (kept, total) = Snapshot.lastSkipPlan
    assert(kept < total, s"appended file must be envelope-planned ($kept/$total)")
    // ATOMIC under a RACING engine commit (deterministic via the
    // append race hook): an engine delete lands between the external
    // append's staging and its commit — the head moved past the
    // resolved base, and the pure-add commit must REBASE, losing
    // neither side
    val vBefore = Snapshot.resolveVersion(fs, new Path(pExt), None)._1
    @volatile var raced = false
    Snapshot.appendRaceHook = () => {
      if (!raced) {
        raced = true
        Snapshot.appendRaceHook = () => ()
        Snapshot.deleteByKeys(spark, pExt, Seq(3L).toDF("id"),
          keepVersions = 2)
        ()
      }
    }
    try Seq((300L, "late", 1L)).toDF("id", "label", "grp")
      .write.format("graft").mode("append").save(pExt)
    finally Snapshot.appendRaceHook = () => ()
    assert(raced, "the race hook must have interleaved the delete")
    assert(Snapshot.resolveVersion(fs, new Path(pExt), None)._1 ==
      vBefore + 2, "both commits landed (delete + rebased append)")
    val after = graft.sources.Resolver.readParquet(spark, pExt)
    assert(after.filter(col("id") === 3L).isEmpty, "racer's delete kept")
    assert(after.filter(col("id") === 300L).count() == 1, "append kept")
    // refusals are loud: every non-append SaveMode, and writes to a
    // pinned version
    intercept[UnsupportedOperationException] {
      batch.write.format("graft").mode("overwrite").save(pExt)
    }
    intercept[Exception] {
      batch.write.format("graft").save(pExt) // ErrorIfExists default
    }
    intercept[Exception] {
      batch.write.format("graft").mode("append")
        .option("versionAsOf", "1").save(pExt)
    }
    // column-set mismatch refuses
    intercept[Exception] {
      Seq((1L, "x")).toDF("id", "label").write.format("graft")
        .mode("append").save(pExt)
    }
    // r16 (ADVICE): a LOSSY type mismatch refuses loudly instead of
    // committing silent NULLs — string grp against the long column
    val lossy = intercept[Exception] {
      Seq((400L, "x", "not-a-number")).toDF("id", "label", "grp")
        .write.format("graft").mode("append").save(pExt)
    }
    assert(lossy.getMessage.contains("LOSSLESS"),
      s"lossy append must name the contract, got: ${lossy.getMessage}")
    assert(graft.sources.Resolver.readParquet(spark, pExt)
      .filter(col("id") === 400L).isEmpty, "nothing committed")
    // an UPCAST (int batch column into the long table column) still lands
    val up = Seq((500, "up500", 9)).toDF("id", "label", "grp")
      .select(col("id").cast("int").as("id"), col("label"),
        col("grp").cast("int").as("grp"))
    up.write.format("graft").mode("append").save(pExt)
    assert(graft.sources.Resolver.readParquet(spark, pExt)
      .filter(col("id") === 500L).count() == 1, "lossless upcast lands")
  }
}
