package graft

import graft.operators.{Compaction, PrunedMerge, Snapshot, WriteOps}
import graft.spec.{DatasetRef, TargetSpec, WriteOp}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based property test of the snapshot protocol: random
  * interleavings of every committing operation — full overwrite,
  * pruned upsert, rewrite delete, DELETION-VECTOR delete, ADD-COLUMN
  * widening upsert, compaction, materialize-deletes, APPEND-SHAPED
  * upsert and PREDICATE delete (r12) — are replayed against an
  * in-memory model table. After every step:
  *
  *   - the latest read equals the model exactly;
  *   - every RETAINED version still reads as the model archived at
  *     its commit (time travel is never corrupted by later ops,
  *     whatever their mechanism);
  *   - `fsck` reports zero ERROR rows (missing/mis-sized members).
  *
  * This is the lakehouse analog of PrunedMergeProps: the per-op specs
  * prove each mechanism alone; this proves their COMPOSITIONS — e.g.
  * compaction over a tombstoned, schema-evolved table produced by a
  * pruned merge — where protocol bugs actually live.
  */
class SnapshotPropsSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // model row: id -> (txt, flag); flag participates only once widened
  private type Model = Map[Long, (String, Option[Long])]

  private def render(m: Model, widened: Boolean): DataFrame = {
    val rows = m.toSeq.sortBy(_._1)
    if (widened) rows.map { case (id, (t, f)) => (id, t, f) }
      .toDF("id", "txt", "flag")
    else rows.map { case (id, (t, _)) => (id, t) }.toDF("id", "txt")
  }

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    rows(df.orderBy("id"))

  // trace names of the ops drawn by `rnd.nextInt(10)` below
  private val OpNames = Vector("overwrite", "upsert", "upsert-widen",
    "delete", "dv-delete", "compact", "materialize", "append-upsert",
    "pred-delete", "drop-column")

  test("random op sequences: reads ≡ model, retained versions ≡ archived models, fsck clean") {
    for (seed <- Seq(7, 21, 63, 88, 134)) runSequence(seed)
  }

  private def runSequence(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = tempDir(s"snap_props_$seed")
    val p = s"$dir/t.parquet"
    val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 3)
    var model: Model =
      (0L until 400L).map(i => i -> (s"s$seed-$i", Option.empty[Long])).toMap
    var widened = false
    // set once "flag" is DROPPED: re-adding the name through the
    // incremental path is refused (resurrection fence) until a full
    // overwrite clears the dropped set — the fuzz routes around it the
    // way a user would, and the refusal itself is spec'd in SnapshotSpec
    var droppedFlag = false
    // fresh-write the initial model
    WriteOps.atomicOverwrite(spark, render(model, widened), p,
      indexBy = Seq("id"), maxRecordsPerFile = 60,
      commitMode = "snapshot", keepVersions = 3)
    // version -> (widened-at-commit, model-at-commit)
    val archive = scala.collection.mutable.Map.empty[Long, (Boolean, Model)]
    def latestVersion: Long =
      Snapshot.committed(fs, new Path(p)).last._1
    def record(): Unit = archive(latestVersion) = (widened, model)
    record()

    def band(): Seq[Long] = {
      val lo = rnd.nextInt(450).toLong
      (lo until math.min(450L, lo + 1 + rnd.nextInt(60)))
    }
    def upsert(ids: Seq[Long], withFlag: Boolean): Unit = {
      val rows = ids.map(i => (i, s"u$seed-${rnd.nextInt(1000)}-$i",
        if (withFlag) Some(i % 9) else Option.empty[Long]))
      val batch =
        if (withFlag) rows.map { case (a, b, c) => (a, b, c) }.toDF("id", "txt", "flag")
        else rows.map { case (a, b, _) => (a, b) }.toDF("id", "txt")
      val cur = graft.sources.Resolver.readParquet(spark, p)
      if (withFlag && !widened) widened = true
      val merged = PrunedMerge.merge(spark, cur, batch, t, p)
      if (merged.isEmpty) { // fallback: the engine's full-rewrite path
        val newState = WriteOps.applyOp(cur, batch, t)
        WriteOps.atomicOverwrite(spark, newState, p, indexBy = Seq("id"),
          maxRecordsPerFile = 60, commitMode = "snapshot", keepVersions = 3)
      }
      rows.foreach { case (id, txt, f) => model += id -> (txt, f) }
    }

    // the ops run so far, so a failure replays from its message alone
    var ops = Vector.empty[String]
    for (step <- 1 to 12) {
      val op = rnd.nextInt(10)
      ops :+= OpNames(op)
      val at = s"seed=$seed step=$step ops=${ops.mkString(",")}"
      op match {
        case 0 => // full overwrite with a fresh table
          model = (0L until (200L + rnd.nextInt(200)))
            .map(i => i -> (s"o$seed-$step-$i",
              if (widened) Some((i + step) % 5) else Option.empty[Long])).toMap
          WriteOps.atomicOverwrite(spark, render(model, widened), p,
            indexBy = Seq("id"), maxRecordsPerFile = 60,
            commitMode = "snapshot", keepVersions = 3)
          droppedFlag = false // fresh files only: the name is free again
        // once widened, every upsert carries the flag column (a
        // narrower batch against a wider table is the schema-extending
        // fallback matrix's territory, pinned in PrunedMergeSpec)
        case 1 => upsert(band(), withFlag = widened)
        case 2 => // widens on first use; after a DROP of "flag" the
          // incremental re-add would refuse, so stay narrow until a
          // full overwrite (case 0) legitimately frees the name
          upsert(band(), withFlag = !droppedFlag)
        case 3 => // rewrite delete (pruned or fallback)
          val ids = band()
          val cur = graft.sources.Resolver.readParquet(spark, p)
          val batch = render(ids.map(i =>
            i -> (("x", Option.empty[Long]))).toMap, widened)
          val dt = t.copy(op = WriteOp.Delete)
          if (PrunedMerge.merge(spark, cur, batch, dt, p).isEmpty) {
            val newState = WriteOps.applyOp(cur, batch, dt)
            WriteOps.atomicOverwrite(spark, newState, p, indexBy = Seq("id"),
              maxRecordsPerFile = 60, commitMode = "snapshot", keepVersions = 3)
          }
          model --= ids
        case 4 => // deletion-vector delete — alternate tombstone key
          // schemas so commits with DIFFERENT column sets coexist
          // (each must apply per its own partial key tuple)
          val ids = band()
          if (rnd.nextBoolean()) {
            Snapshot.deleteByKeys(spark, p, ids.toDF("id"), keepVersions = 3)
            model --= ids
          } else {
            // (id, txt) tombstones: half carry the CURRENT txt (hit),
            // half a wrong txt (must not delete)
            val tuples = ids.zipWithIndex.map { case (id, i) =>
              val txt = model.get(id).map(_._1).getOrElse("absent")
              (id, if (i % 2 == 0) txt else s"WRONG-$txt")
            }
            Snapshot.deleteByKeys(spark, p, tuples.toDF("id", "txt"),
              keepVersions = 3)
            tuples.foreach { case (id, txt) =>
              if (model.get(id).exists(_._1 == txt)) model -= id }
          }
        case 5 => // compaction (may be a no-op commit-wise)
          Compaction.compact(spark, p, Seq("id"), 1L << 18, keepVersions = 3)
        case 6 => // materialize tombstones (no-op when none)
          Snapshot.materializeDeletes(spark, p, indexBy = Seq("id"),
            keepVersions = 3)
        case 7 => // append-shaped upsert (r12): replace-by-pk at a new
          // seq, composing with every tombstone kind this sequence
          // produces (full-key, partial-key, predicate) via the seq rule
          val ids = band()
          val rows = ids.map(i => (i, s"a$seed-${rnd.nextInt(1000)}-$i",
            if (widened) Some(i % 7) else Option.empty[Long]))
          val batch =
            if (widened) rows.toDF("id", "txt", "flag")
            else rows.map { case (a, b, _) => (a, b) }.toDF("id", "txt")
          Snapshot.upsertAppend(spark, p, batch, Seq("id"),
            indexBy = Seq("id"), keepVersions = 3)
          rows.foreach { case (id, txt, f) => model += id -> (txt, f) }
        case 8 => // predicate deletion vector (r12): a band delete
          // committed as the predicate itself
          val lo = rnd.nextInt(450).toLong
          val hi = lo + 1 + rnd.nextInt(40)
          Snapshot.deleteByPredicate(spark, p, s"id >= $lo AND id < $hi",
            keepVersions = 3)
          model = model.filter { case (id, _) => id < lo || id >= hi }
        case 9 => // metadata-only COLUMN DROP of the widened column
          // (r12): live tombstones are materialized first (drop
          // refuses over keyed/predicate DVs — the realistic sequence)
          if (widened) {
            Snapshot.materializeDeletes(spark, p, indexBy = Seq("id"),
              keepVersions = 3)
            Snapshot.dropColumn(spark, p, "flag", keepVersions = 3)
            widened = false
            droppedFlag = true
            model = model.map { case (k, (t, _)) => k -> (t, None) }
          }
      }
      record()
      // 1) latest read ≡ model
      assert(sorted(graft.sources.Resolver.readParquet(spark, p)) ==
        sorted(render(model, widened)),
        s"$at: latest read diverged from model")
      // 2) every retained version ≡ its archived model
      Snapshot.committed(fs, new Path(p)).map(_._1).foreach { v =>
        archive.get(v).foreach { case (w, m) =>
          assert(sorted(graft.sources.Resolver.readParquet(spark, p, Some(v))) ==
            sorted(render(m, w)),
            s"$at: retained v$v diverged from its archive")
        }
      }
      // 3) structural integrity: zero ERROR rows
      val errs = Snapshot.fsck(spark, p)
        .filter(col("severity") === "error").collect()
      assert(errs.isEmpty,
        s"$at: fsck errors ${errs.mkString("; ")}")
      // 4) every third step: the DV-aware pruned changelog between the
      // two newest retained versions ≡ the unpruned full-read diff —
      // the r11 CDC-under-deletes restriction is exact under every
      // composition this sequence produces (sampled for cost)
      if (step % 3 == 0) {
        val vs = Snapshot.committed(fs, new Path(p)).map(_._1)
        if (vs.size >= 2) {
          val (f, v) = (vs(vs.size - 2), vs.last)
          val ok = scala.util.Try {
            def canon(df: DataFrame) =
              rows(df.orderBy(col("id"), col("_change_type")))
            canon(Snapshot.changelog(spark, p, f, v, Seq("id"))) ==
              canon(Snapshot.changelog(spark, p, f, v, Seq("id"),
                filePruned = false))
          }
          // non-widening schema steps refuse loudly on BOTH paths —
          // Try covers those; a successful pair must agree
          ok.foreach(eq => assert(eq,
            s"$at: pruned changelog v$f→v$v diverged"))
        }
      }
    }
  }
}
