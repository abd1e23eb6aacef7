package graft

import graft.operators.{Maintenance, Snapshot, WriteOps}
import org.apache.spark.sql.functions._

/** Debt-triggered auto-maintenance: an upsert-heavy load with the
  * post-commit hook enabled must keep read-side debt (sequence-class
  * plan width, tombstone bytes) bounded with ZERO manual compaction
  * calls, stay content-correct throughout, and leave an audit trail of
  * every automatic decision in the manifest history.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("soak: append-upsert load under the hook keeps debt bounded, content exact, decisions audited") {
    val dir = tempDir("maint_soak")
    val p = s"$dir/t.parquet"
    val expect = scala.collection.mutable.Map.empty[Long, String]
    (0L until 200L).foreach(i => expect(i) = s"v0_$i")
    WriteOps.atomicOverwrite(spark, expect.toSeq.toDF("id", "txt"), p,
      indexBy = Seq("id"), maxRecordsPerFile = 50,
      commitMode = "snapshot", keepVersions = 4)
    val policy = Maintenance.Policy(maxSeqClasses = 3, maxDvBytesFrac = 0.5,
      maxSmallFiles = 10000, indexBy = Seq("id"), keepVersions = 4)
    var passes = 0
    (1 to 12).foreach { b =>
      val batch = (0 until 40).map { j =>
        val id = (b * 31L + j * 7L) % 260L
        expect(id) = s"v${b}_$j"
        (id, s"v${b}_$j")
      }
      // dedupe the synthetic batch the same way the writer would pick
      val byId = batch.groupBy(_._1).map { case (id, vs) =>
        val last = vs.last; expect(id) = last._2; last
      }.toSeq
      Snapshot.upsertAppend(spark, p, byId.toDF("id", "txt"), Seq("id"),
        indexBy = Seq("id"), keepVersions = 4)
      // the hook — the ONLY maintenance in the loop (rethrow: a failed
      // pass must fail the soak, not hide)
      if (Maintenance.maybeCompact(spark, p, policy, rethrow = true).isDefined)
        passes += 1
      val d = Maintenance.debt(spark, p).get
      assert(d.seqClasses <= policy.maxSeqClasses,
        s"batch $b: hook must keep plan width bounded, got ${d.seqClasses}")
    }
    assert(passes >= 2, s"the class ceiling must have fired repeatedly, got $passes")
    // content law: the table equals the driver-side fold of every batch
    val got = graft.sources.Resolver.readParquet(spark, p)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == expect.toMap, "auto-maintained table must stay content-exact")
    // audit trail: maintenance commits carry the #note= trigger line
    val notes = Snapshot.history(spark, p)
      .filter(col("note").isNotNull).select("note").as[String].collect()
    assert(notes.nonEmpty && notes.forall(_.startsWith("auto-maintain: ")),
      s"every automatic decision must be recorded, got ${notes.toSeq}")
    assert(notes.exists(_.contains("seq_classes")),
      "the note names the ceiling that fired")
    assert(Snapshot.fsck(spark, p).isEmpty)
  }

  test("under-ceiling commits trigger nothing; non-snapshot layouts measure None") {
    val dir = tempDir("maint_idle")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "txt"), p,
      indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 4)
    Snapshot.upsertAppend(spark, p, Seq((5L, "x")).toDF("id", "txt"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 4)
    val before = Snapshot.history(spark, p).count()
    // ceilings sized for toy scale (a single tombstone parquet file is
    // byte-heavy next to 100 rows of data)
    assert(Maintenance.maybeCompact(spark, p,
      Maintenance.Policy(maxSeqClasses = 8, maxDvBytesFrac = 0.9,
        maxSmallFiles = 10000), rethrow = true).isEmpty,
      "under every ceiling the hook is a metadata-only no-op")
    assert(Snapshot.history(spark, p).count() == before, "no commit added")
    // plain (non-snapshot) parquet: nothing to measure, nothing to do
    val plain = s"$dir/plain.parquet"
    (0 until 10).map(i => (i, i)).toDF("a", "b").write.parquet(plain)
    assert(Maintenance.debt(spark, plain).isEmpty)
    assert(Maintenance.maybeCompact(spark, plain, rethrow = true).isEmpty)
  }
}
