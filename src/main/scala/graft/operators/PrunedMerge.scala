package graft.operators

import graft.spec.{TargetSpec, WriteOp}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-level pruned MERGE for keyed writes (the lake-native shape the
  * reference delegates to its server backends — ops vocabulary
  * etl_cli/etl.py:13, index intent etl_cli/base.py:568-593).
  *
  * The full-rewrite writer ([[WriteOps.atomicOverwrite]]) re-materializes
  * the whole target on every keyed write; the partition-scoped path
  * helps only when the touched keys cluster into few hive partitions.
  * At 100 TB an upsert of a 1k-row batch into an unpartitioned (or
  * coarsely partitioned) target must NOT rewrite everything — and the
  * O6 sorted layout (`--mongo-index` → [[WriteOps]] indexLayout) already
  * gives every parquet file a tight pk min/max envelope in its footer.
  * This planner reads ONLY footer metadata, intersects each file's pk
  * envelope with the batch's key set, applies the op to the rows of the
  * intersecting files alone, rewrites those files (+ appends new keys),
  * and leaves every other file byte-identical. The same mechanism
  * Delta/Iceberg MERGE uses via manifest stats, expressed directly over
  * parquet footers with no table format.
  *
  * SOUNDNESS. A file whose envelope does not contain any batch key
  * cannot hold a row the op touches: every keyed op (insert / index /
  * update / upsert / delete) leaves rows with pk ∉ batch untouched, so
  * `op(touchedFiles, batch) ∪ untouchedFiles ≡ op(target, batch)`.
  * Multi-column pks prune per COMPONENT: a file is untouched as soon as
  * ONE pk component's envelope is provably disjoint from the batch's
  * values for that component (a matching row would have to agree on
  * every component) — necessary-condition pruning, strictly tighter
  * than first-component-only. Pruning is CONSERVATIVE everywhere
  * information is missing: a component with absent/unreadable stats, an
  * unsupported physical/logical type, or (when the batch carries a NULL
  * in that component) a non-zero/unknown null count contributes no
  * exclusion.
  *
  * PARTITIONED targets compose: partition-dir values ARE point
  * envelopes for pk components that are partition columns (a file under
  * `k=5/` has min = max = 5 for `k`), and data-resident components keep
  * their footer envelopes — so hive-partition pruning and file pruning
  * are ONE mechanism here. Untouched files in touched partitions stay
  * byte-identical, which the partition-scoped rewrite cannot do.
  *
  * SCALE SHAPE. Footer reads are pure metadata (O(#files), ~KBs each)
  * and run DISTRIBUTED above a small threshold — at 100k files the
  * driver plans from a parallelized footer sweep, the same shape as an
  * Iceberg manifest scan. The batch key set is collected exactly only
  * below `maxBatchKeys` (default 1M distinct pk tuples); a LARGER
  * batch is summarized distributed into ≤ 1024 sorted [lo, hi] key
  * ranges per component (repartitionByRange → per-partition min/max —
  * coverage, not exactness, is what soundness needs), so a 100M-row
  * backfill into a sorted 10B-row target still rewrites only the
  * intersecting band. The rewrite itself shuffles only the
  * touched-file rows (range-partitioned back to ≈ one output file per
  * input file — more when the batch itself is file-sized multiples —
  * re-sorted so envelopes stay tight for the NEXT merge).
  *
  * ATOMICITY is per file-move, not per job (the nature of in-place file
  * swaps, as with partition-scoped rewrite): new files land via rename
  * after a fully-written temp dir, then the old touched files are
  * deleted. A crash between the two steps can leave a touched row
  * visible twice; jobs needing all-or-nothing semantics use the full
  * rewrite or the versioned commit protocol ([[Versioned]]). Before the
  * first rename, failure leaves the target byte-identical.
  *
  * Applicability (returns None → caller falls back to the full/scoped
  * writers): parquet backend, rename commit mode on a non-versioned
  * layout, no `--tmap`, keyed op, layout on disk agreeing with the spec
  * (flat for unpartitioned, hive dirs matching `partitionBy` for
  * partitioned), at least one pk component with comparable stats
  * (integral / string / date / timestamp), and — on plain layouts —
  * the op must not extend the target schema (untouched files could
  * not serve the new columns). SNAPSHOT layouts lift that last
  * restriction: a widening op (mongo `$set` of a new field) commits
  * an EVOLVED manifest schema, old members read null-filled, and the
  * ADD COLUMN costs only the touched-file rewrite.
  * Timestamp pks prune via micros-since-epoch when the files carry
  * annotated INT64 stats (graft's own sessions write TIMESTAMP_MICROS;
  * deprecated INT96 has no usable stats → conservative). Single-writer
  * model, like every graft writer.
  */
object PrunedMerge {

  /** What the merge did — the test witness that pruning
    * actually pruned: `bytesRewritten / bytesTotal` is the fraction of
    * the target the write touched.
    */
  final case class Stats(filesTotal: Int, filesRewritten: Int,
                         bytesTotal: Long, bytesRewritten: Long) {
    def rewrittenFrac: Double =
      if (bytesTotal == 0) 1.0 else bytesRewritten.toDouble / bytesTotal
  }

  /** One pk component's envelope for one file. `min`/`max` are in the
    * pruning domain (Long for integral/date/timestamp-micros, unsigned
    * byte array for strings). `known=false` = stats unavailable →
    * contributes no exclusion; known with min/max None = provably
    * all-null in this file.
    */
  private final case class CompEnv(min: Option[Any], max: Option[Any],
                                   hasNulls: Boolean, known: Boolean)
  private val UnknownEnv = CompEnv(None, None, hasNulls = true, known = false)

  /** Per-file envelope: one [[CompEnv]] per PRUNABLE pk component (in
    * `comps` order as passed to the footer sweep). `rows` (r16) is
    * the file's footer row count when the sweep opened the footer —
    * recorded into manifest entries for metadata-only counts.
    */
  private final case class Envelope(path: String, bytes: Long,
                                    comps: Array[CompEnv],
                                    rows: Option[Long] = None)

  /** Batch-side key summary for one pk component: DISJOINT sorted
    * [lo, hi] ranges in the pruning domain covering every non-null
    * batch value (exact point ranges [k, k] below `maxBatchKeys`;
    * coarse per-range-partition envelopes above it), plus whether any
    * batch row has NULL in this component. Soundness needs only
    * coverage: every batch key lies inside some range, so a file
    * disjoint from every range cannot hold a touched row.
    */
  private final case class CompKeys(ranges: Array[(Any, Any)], hasNull: Boolean,
                                    domain: Domain)

  /** Number of [lo, hi] ranges the OVERSIZED-batch summary collects
    * per pk component — the driver sees `RangeSummaryParts` rows
    * instead of the key set, so a 100M-key batch still prunes.
    */
  private val RangeSummaryParts = 1024

  private val DistributedFooterThreshold = 64

  /** How a prunable pk component is physically resolved for one file:
    * from footer stats of a data column, or from the hive partition
    * dir value (point envelope).
    */
  private sealed trait CompSource extends Serializable
  private final case class DataCol(name: String, kind: StatKind) extends CompSource
  private final case class PartCol(idx: Int) extends CompSource

  /** Attempt a pruned merge of `batch` into the target at `path`.
    * `current` supplies the authoritative target schema (one consistent
    * Resolver read). Returns the stats when the pruned path ran, None
    * when not applicable — the caller MUST then fall back to a full
    * writer; the target is untouched in that case.
    */
  def merge(spark: SparkSession, current: DataFrame, batch: DataFrame,
            t: TargetSpec, path: String,
            maxBatchKeys: Long = 1L << 20): Option[Stats] = {
    // STALE-READ fence (r12): this merge's scans (base read, touched
    // files, tombstones) execute lazily against the manifest resolved
    // below; under concurrent writers a racing commit + vacuum can
    // reclaim a planned file mid-execution. That surfaces as a
    // missing-file read error — converted to a loud
    // CommitConflictException (iff the head moved) so the Runner's
    // re-plan loop absorbs it like any other commit race.
    val hPath0 = new Path(path)
    val fs0 = hPath0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs0.exists(hPath0) && Snapshot.isSnapshotLayout(fs0, hPath0)) {
      val baseV = Snapshot.resolveVersion(fs0, hPath0, None)._1
      Snapshot.staleReadAsConflict(fs0, hPath0, baseV)(
        mergeImpl(spark, current, batch, t, path, maxBatchKeys))
    } else mergeImpl(spark, current, batch, t, path, maxBatchKeys)
  }

  private def mergeImpl(spark: SparkSession, current: DataFrame,
                        batch: DataFrame, t: TargetSpec, path: String,
                        maxBatchKeys: Long): Option[Stats] = {
    val pk = if (t.pk.nonEmpty) t.pk else t.skipBy
    if (pk.isEmpty || t.tmap.isDefined) return None
    if (!Set("parquet", "ds").contains(t.ref.backend)) return None
    if (t.op == WriteOp.Create && t.pk.isEmpty && t.skipBy.isEmpty) return None
    if (!pk.forall(current.columns.contains)) return None
    val pcols = t.partitionBy
    if (!pcols.forall(current.columns.contains)) return None

    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return None
    // snapshot layouts take the MANIFEST-COMMIT variant of this merge
    // (new files into the shared pool, untouched files listed by
    // reference — the protocol this merge exists to pair with);
    // dir-protocol `versioned` layouts have no file-membership record,
    // so in-place file swaps would corrupt retained generations →
    // full rewrite there. In-place swaps otherwise require the plain
    // rename layout.
    val snapCtx: Option[(Long, Snapshot.Manifest, Path)] =
      if (Snapshot.isSnapshotLayout(fs, hPath)) {
        val (baseV, vdir) = Snapshot.resolveVersion(fs, hPath, None)
        Snapshot.manifestAt(fs, vdir).map((baseV, _, Snapshot.dataDir(hPath)))
      } else None
    if (snapCtx.isEmpty) {
      if (t.commitMode != "rename") return None
      if (Versioned.list(fs, hPath).exists(_._3)) return None
    }
    // the manifest's layout must agree with the spec's — a mismatch is
    // a foreign layout exactly like a failed dir walk
    snapCtx.foreach { case (_, m, _) => if (m.partitionBy != pcols) return None }
    // ACTIVE DELETION VECTORS compose (r11): the touched-file reads
    // anti-join the tombstone set (O(deletes), pk-keyed) before the op
    // runs, so rewritten files can never resurrect a deleted row, and
    // untouched files keep reading through the surviving tombstones.
    // Tombstones whose FULL pk tuple the batch re-asserts are dropped
    // from the committed set — the batch's write must win over an
    // older delete, and any pre-existing row matching such a tombstone
    // can only live in a touched file (its envelope intersects the
    // batch on every prunable component), which is rewritten with the
    // tombstone applied. SOUNDNESS requires every tombstone's column
    // set to equal the pk — a partial-key tombstone can match rows the
    // batch does not cover inside untouched files, so those decline to
    // the full rewrite (which materializes), as before.
    // PREDICATE tombstones (r12) compose too: they fold into the
    // touched reads as FILTERS (per seq class, below) and the base set
    // commits unchanged — rewritten files carry a new seq and are
    // exempt, exactly the batch-write-wins contract; untouched files
    // keep reading through them. Requires every predicate to analyze
    // against the DATA schema alone (one referencing a partition
    // column cannot filter a per-file read that lacks the column →
    // decline to the materializing full route, as before).
    val isPredEntry: Snapshot.Entry => Boolean = e =>
      e.cols.contains(Seq(Snapshot.PredColName))
    val (dvKeyCols, predsByRel): (Option[Seq[String]], Map[String, Seq[String]]) =
      snapCtx.map { case (_, m, dd) =>
        val dels = m.deleteEntries
        if (dels.isEmpty) (Option.empty[Seq[String]], Map.empty[String, Seq[String]])
        else {
          val pkSet = pk.toSet
          val (predDel, keyDel) = dels.partition(e => isPredEntry(e) ||
            (e.cols.isEmpty && spark.read.parquet(new Path(dd, e.rel).toString)
              .columns.sameElements(Array(Snapshot.PredColName))))
          val ok = keyDel.forall { e =>
            val cols = e.cols.getOrElse(
              spark.read.parquet(new Path(dd, e.rel).toString).columns.toSeq)
            cols.toSet == pkSet
          }
          if (!ok) return None
          val dataSchema = org.apache.spark.sql.types.StructType(
            current.schema.fields.filterNot(f => pcols.contains(f.name)))
          val emptyData = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
          def foldable(p: String): Boolean =
            try {
              emptyData.filter(!coalesce(expr(p), lit(false)))
                .queryExecution.analyzed
              true
            } catch { case scala.util.control.NonFatal(_) => false }
          val byRel = predDel.map(e => e.rel -> Snapshot.readPredicates(spark,
            Seq(new Path(dd, e.rel).toString))).toMap
          if (!byRel.values.flatten.forall(foldable)) return None
          (if (keyDel.isEmpty) None else Some(pk), byRel)
        }
      }.getOrElse((None, Map.empty))

    // layout walk: flat files for unpartitioned, exactly-`pcols` hive
    // dirs for partitioned; anything else is a foreign layout. On a
    // snapshot layout the walk runs over the POOL dir and is filtered
    // to the current manifest's DATA membership (the pool also holds
    // other retained generations' files and the `_deletes` subdir —
    // not this version's raw rows).
    val listed: Seq[(String, Long, Array[String])] = snapCtx match {
      case None => listLayout(fs, hPath, pcols).getOrElse(return None)
      case Some((_, m, dd)) =>
        // LISTING-FREE (r12): the manifest IS the membership record —
        // path, size, and hive partition values all derive from the
        // entry line, so the per-merge O(files) directory walk goes
        // away entirely (with manifest envelopes the whole plan is
        // O(manifest): no walk, no footer reads — the Delta/Iceberg
        // trust-the-log shape). A member missing on disk surfaces
        // LOUDLY at read (stale-read fence under concurrency, raw
        // error otherwise) and in fsck; a rel that does not parse at
        // the declared hive depth is a foreign layout → full writer.
        m.dataEntries.map(e =>
          entryListing(dd, e, pcols).getOrElse(return None))
    }
    if (listed.isEmpty) return None

    // prunable pk components: data-resident ones need a stats domain;
    // partition-resident ones additionally need a path-parseable value.
    // Components without a domain contribute no constraint; at least
    // one prunable component is required for the plan to make sense.
    val comps: Seq[(String, Domain, CompSource)] = pk.flatMap { c =>
      val dt = current.schema(c).dataType
      pruningDomain(dt).flatMap { dom =>
        val pIdx = pcols.indexOf(c)
        if (pIdx >= 0) Some((c, dom, PartCol(pIdx)))
        else Some((c, dom, DataCol(c, statKind(dt))))
      }
    }
    if (comps.isEmpty) return None

    // batch key tuples on the prunable components — bounded collect.
    // Below `maxBatchKeys` distinct tuples the driver holds the exact
    // key set (point ranges); above it, each component collapses to
    // ≤ RangeSummaryParts sorted [lo, hi] range envelopes computed
    // distributed (repartitionByRange → per-partition min/max), so
    // pruning keeps working for arbitrarily large batches — a 100M-row
    // backfill into a sorted 10B-row target rewrites the intersecting
    // band, not the table.
    val keyCols = comps.map { case (c, _, _) =>
      col(c).cast(current.schema(c).dataType).as(c) }
    val distinctKeys = batch.select(keyCols: _*).distinct()
    // ONE bounded collect (r19): take maxBatchKeys+1 rows — the exact
    // key set when the batch fits, the over-cap signal when it does
    // not. The previous count()-then-collect() pair recomputed the
    // whole distinct shuffle twice to learn one bit.
    val keyCap = math.min(maxBatchKeys, Int.MaxValue - 2L).toInt
    val rawRows = distinctKeys.limit(keyCap + 1).collect()
    // an empty batch touches nothing under every keyed op — the merge
    // is a no-op and the target stays byte-identical
    if (rawRows.isEmpty)
      return Some(Stats(listed.size, 0, listed.map(_._2).sum, 0))
    // exact below the cap (the collected rows ARE the key set); the
    // over-cap path pays the count job it always needed — there it
    // sizes the output file fan-out for many-files'-worth batches
    lazy val nKeys: Long =
      if (rawRows.length <= keyCap) rawRows.length.toLong
      else distinctKeys.count()
    val compKeys: Array[CompKeys] =
      if (rawRows.length <= keyCap) {
        comps.zipWithIndex.map { case ((_, dom, _), i) =>
          val vs = rawRows.map(_.get(i))
          val pts = dom.sortKeys(vs.filter(_ != null).map(dom.toDomain))
          CompKeys(pts.map(k => (k, k)), vs.contains(null), dom)
        }.toArray
      } else comps.map { case (c, dom, _) =>
        val v = distinctKeys.select(col(c).as("__k__"))
        val hasNull = !v.filter(col("__k__").isNull).isEmpty
        val rows = v.filter(col("__k__").isNotNull)
          .repartitionByRange(RangeSummaryParts, col("__k__"))
          .groupBy(spark_partition_id().as("__p__"))
          .agg(min(col("__k__")).as("lo"), max(col("__k__")).as("hi"))
          .select("lo", "hi").collect()
        val ranges = rows.map(r => (dom.toDomain(r.get(0)), dom.toDomain(r.get(1))))
        CompKeys(dom.sortRanges(ranges), hasNull, dom)
      }.toArray

    // MANIFEST-STATS plan path (r12): when every data member carries
    // recorded key envelopes, the pruning plan needs ZERO footer I/O —
    // the manifest read already happened. Falls back to the footer
    // sweep on any gap (legacy entries, string-keyed components), with
    // identical pruning power either way.
    val envelopes = snapCtx.flatMap { case (_, m, dd) =>
      manifestEnvelopes(listed, dd,
        m.dataEntries.map(e => e.rel -> e).toMap, comps)
    }.getOrElse(readEnvelopes(spark, listed,
      comps.map { case (_, dom, src) => (dom, src) }))
    val (touchedByKeys, untouchedByKeys) =
      envelopes.partition(e => isTouched(e, compKeys))
    // r16 (verdict #7): the `--tq` row restriction prunes as EXTRA
    // envelope conjuncts for the ROW-PRESERVING keyed ops (update /
    // delete): a file whose envelope provably holds no tq-satisfying
    // row has no touchable rows — rewriting it would be bit-identical
    // work. Excluded for ops with INSERT semantics (upsert/index/
    // insert/create): they consult GLOBAL key existence, and dropping
    // a file from the touched read would turn its matched keys into
    // phantom inserts. Snapshot layouts only (the conjuncts test the
    // manifest's recorded envelopes, any column, partition points
    // included — the same planner the read path trusts).
    val (touched0, untouched0) = snapCtx match {
      case Some((_, m, dd))
          if (t.op == WriteOp.Update || t.op == WriteOp.Delete) &&
            t.query.nonEmpty && touchedByKeys.nonEmpty =>
        val preds = graft.dsl.QueryCompiler.skipPreds(t.query)
        if (preds.isEmpty) (touchedByKeys, untouchedByKeys)
        else {
          val byRel = m.dataEntries.map(e => e.rel -> e).toMap
          val tEntries = touchedByKeys
            .map(e => byRel(Snapshot.relPath(dd, new Path(e.path))))
          val keep = Snapshot.pruneEntries(spark, m, tEntries, preds)
            .map(_.rel).toSet
          val (a, b) = touchedByKeys
            .partition(e => keep(Snapshot.relPath(dd, new Path(e.path))))
          (a, untouchedByKeys ++ b)
        }
      case _ => (touchedByKeys, untouchedByKeys)
    }
    // r17 (verdict #7): `--tq` file pruning extends to UPSERT — of the
    // insert-class ops it is the only one whose semantics consume the
    // tq at all ([[WriteOps.applyOp]]: index/insert/create take no
    // tq), and its two halves decompose soundly over a tq-excluded
    // file f (envelope-proven to hold no tq-satisfying row):
    //   - update half: f's rows are untouchable, so rewriting f would
    //     be bit-identical — carry it BY REFERENCE (the r16
    //     row-preserving argument verbatim);
    //   - insert half: f's KEYS must stay in the existence domain, or
    //     a batch key whose only live row sits in f would re-insert
    //     as a duplicate — the r16 phantom-insert risk. They ride as
    //     a pk-only tombstone-applied read ([[WriteOps.insert]]'s
    //     `extraExistingKeys`); Catalyst prunes that scan to the pk
    //     columns, so the excluded files cost key IO, not row IO.
    // A DV-tombstoned key in f correctly does NOT veto (its row is
    // dead — the batch row must insert), which is why the extra-keys
    // read goes through the same sequence-classed tombstone plan as
    // the touched read.
    val (touched, untouched, upsertExcluded) = snapCtx match {
      case Some((_, m, dd))
          if t.op == WriteOp.Upsert && t.query.nonEmpty && touched0.nonEmpty =>
        val preds = graft.dsl.QueryCompiler.skipPreds(t.query)
        if (preds.isEmpty) (touched0, untouched0, Nil)
        else {
          val byRel = m.dataEntries.map(e => e.rel -> e).toMap
          val tEntries = touched0
            .map(e => byRel(Snapshot.relPath(dd, new Path(e.path))))
          val keep = Snapshot.pruneEntries(spark, m, tEntries, preds)
            .map(_.rel).toSet
          val (a, b) = touched0
            .partition(e => keep(Snapshot.relPath(dd, new Path(e.path))))
          (a, untouched0 ++ b, b)
        }
      case _ => (touched0, untouched0, Nil)
    }
    locally { val _ = untouched } // membership is manifest-carried
    // nothing to prune — the full rewrite costs the same and is atomic
    if (touched.size == listed.size) return None

    // apply the op to the touched subset only; schema pinned to the
    // authoritative target schema (single-writer layout — files agree).
    // basePath recovers partition-column values from the dir structure.
    // Active tombstones are anti-joined out of the touched reads FIRST
    // (null-safe per pk component, the readAt contract) — the op must
    // see the table's logical rows, not the raw file rows. SEQUENCE
    // AWARE (r12): the anti-join runs per [[Snapshot.seqClasses]]
    // class, so a touched file committed at-or-after a tombstone (a
    // previous append-shaped upsert's batch) keeps the rows that
    // tombstone retired elsewhere — one class on every pre-append
    // state, where the plan is byte-identical to the global anti-join.
    def rawTouched(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          current.schema)
      else {
        // alias-aware ([[Snapshot.aliasedRead]]): files written before
        // a column rename carry the old physical name — recovered by
        // coalesce; identical plan when the table has no aliases
        val bp = snapCtx.fold(path)(_._3.toString)
        Snapshot.aliasedRead(spark,
          snapCtx.map(_._2.aliases).getOrElse(Nil), current.schema,
          paths, if (pcols.nonEmpty) Some(bp) else None)
      }
    def tombstonedOf(sel: Seq[Envelope]): DataFrame = snapCtx match {
      case Some((_, m, dd))
          if (dvKeyCols.isDefined || predsByRel.nonEmpty) && sel.nonEmpty =>
        val byRel = m.dataEntries.map(e => e.rel -> e).toMap
        val tEntries = sel.map(e => byRel(Snapshot.relPath(dd, new Path(e.path))))
        Snapshot.seqClasses(m, tEntries).map { case (es, dels) =>
          val df0 = rawTouched(es.map(e => new Path(dd, e.rel).toString))
          val (pDels, kDels) = dels.partition(e => predsByRel.contains(e.rel))
          val df1 =
            if (kDels.isEmpty) df0
            else {
              val keys = Snapshot.tombstoneKeys(spark, m, dvKeyCols.get,
                kDels.map(e => new Path(dd, e.rel).toString))
              val cond = keys.columns.map(c => df0(c) <=> keys(c)).reduce(_ && _)
              df0.join(keys, cond, "left_anti")
            }
          // predicate tombstones fold as pushed filters (NULL keeps
          // the row — SQL DELETE semantics, the read path's rule)
          pDels.flatMap(e => predsByRel(e.rel)).distinct.sorted
            .foldLeft(df1)((acc, p) =>
              acc.filter(!coalesce(expr(p), lit(false))))
        }.reduce(_ unionByName _)
      case _ => rawTouched(sel.map(_.path))
    }
    val touchedDf: DataFrame = tombstonedOf(touched)
    // r17: the tq-excluded upsert files' LIVE keys (same sequence-
    // classed tombstone plan as the touched read — a DV-dead key must
    // not veto its re-insert) join the insert half's existence domain;
    // Catalyst prunes their scan to the pk columns
    val upsertExtraKeys: Option[DataFrame] =
      if (upsertExcluded.isEmpty) None
      else Some(tombstonedOf(upsertExcluded)
        .select(comps.map { case (c, _, _) => col(c) }: _*))
    val merged = WriteOps.applyOp(touchedDf, batch, t, upsertExtraKeys)
    // schema-extending op (schema-free update $set): on a SNAPSHOT
    // layout the op widens the MANIFEST schema instead of forcing a
    // full rewrite — untouched files serve the new columns as nulls
    // (explicit-schema member reads), which is exactly the op's
    // semantics for unmatched rows. [[WriteOps.update]] appends new
    // fields after the target's, so widening is prefix-preserving;
    // anything else (a reorder, a drop) is not an extension → decline.
    // Plain layouts have no schema record unifying mixed files →
    // full rewrite there, as before.
    val widens = merged.columns.length > current.columns.length &&
      merged.columns.startsWith(current.columns)
    if (!merged.columns.sameElements(current.columns) &&
        !(widens && snapCtx.isDefined)) return None

    // rewrite: range-partition back to ≈ one file per touched input
    // (+1 for pure-insert growth), re-sorted on the layout keys so the
    // new files' envelopes stay as tight as the ones they replace.
    // Partitioned targets range-partition on (pcols ++ sort keys) so
    // each task writes few partition dirs.
    val sortKeys = ((if (t.indexBy.nonEmpty) t.indexBy else pk)
      .filterNot(pcols.contains))
    val rangeKeys = (pcols ++ sortKeys).map(col)
    // output file count: ≈ one per touched input, widened when the
    // batch itself is many files' worth of rows (the range-summary
    // path admits arbitrarily large batches)
    val nOut = math.max(math.max(1, touched.size),
      math.min(4096L, nKeys / 2000000L).toInt)
    val laid0 = merged.repartitionByRange(nOut, rangeKeys: _*)
    val laid = if (sortKeys.nonEmpty)
      laid0.sortWithinPartitions(sortKeys.map(col): _*) else laid0

    // snapshot layout: no in-place swap — stage the rewritten files
    // under the table root, move them into the shared pool and COMMIT
    // a manifest whose membership is (untouched by reference) ++ (new
    // files). All-or-nothing at the marker create; prior generations
    // keep reading their own manifests (time travel through an
    // incremental merge), and the replaced files are reclaimed by the
    // refcount vacuum once no retained manifest lists them.
    snapCtx match {
      case Some((baseV, m, dd)) =>
        // DV compose under SEQUENCE semantics (r12): the base
        // tombstone set commits UNCHANGED. The rewritten files carry a
        // NEW seq, so every base tombstone is exempt for them — their
        // rows already read through the applicable tombstones above,
        // and the batch's re-asserted keys live in them legitimately
        // (the batch-write-wins contract, now expressed by sequence
        // order instead of the old survivor-consolidation rewrite of
        // the DV set). Untouched files keep their lower seqs, so the
        // same tombstones keep applying to them at read. The
        // merge-on-read debt is unchanged and remains compaction's
        // (`foldDeletesAbove`) to retire.
        // record key envelopes + row counts for the NEW files (one
        // footer pass over the touched fraction, paid here so future
        // merges plan from the manifest alone and metadata counts
        // keep working); untouched members keep theirs
        val envCols = (comps.collect { case (c, _, _: DataCol) => c } ++
          sortKeys).distinct
        val newEntries = Snapshot.withKeyEnvs(spark, dd,
          Snapshot.stageIntoPool(fs, hPath, laid, pcols, t.maxRecordsPerFile),
          merged.schema, envCols)
        // scheme-insensitive membership: listStatus returns qualified
        // paths (file:/…) while manifest entries are pool-relative
        val touchedRel = touched.map(e => Snapshot.relPath(dd, new Path(e.path))).toSet
        // a widening op commits the EVOLVED schema — ADD COLUMN priced
        // per change: only the touched files carry the column
        // physically, every other member serves it as nulls
        val outDdl =
          if (widens) org.apache.spark.sql.types.StructType(
            merged.schema.fields.map(_.copy(nullable = true))).toDDL
          else m.schemaDdl
        // OPTIMISTIC commit: removed = the touched files (the base DV
        // set commits unchanged — sequence order expresses the
        // compose); a concurrent non-conflicting commit (a disjoint
        // merge, an append, a DV delete) rebases under the commit
        // lock, a conflicting one fails loudly
        // (Snapshot.CommitConflictException) for the caller to re-plan.
        val removed = touchedRel
        // baseDeleteRels: a tombstone committed between this merge's
        // base read and its commit is a CONFLICT, not a compose — the
        // rewritten files re-assert their SURVIVOR rows at the new
        // seq, which would exempt them from a delete that (in commit
        // order) should still apply to them (Runner re-plans — or the
        // append-shaped rebase below absorbs it, which re-asserts only
        // the batch's own rows)
        val appended: Boolean =
        try {
          Snapshot.commitRebase(fs, hPath, baseV, removed,
            newEntries, outDdl, m.partitionBy, t.keepVersions,
            baseDeleteRels = Some(m.deleteEntries.map(_.rel).toSet))
          false
        } catch {
          case e: Snapshot.CommitConflictException if e.retryableByAppend =>
            // the planned rewrite is stale against the new head —
            // reclaim its pooled files, then absorb the conflict
            // WITHOUT a re-plan when the op is a BLIND replace-by-pk:
            // [[Snapshot.upsertAppend]] commits (batch file +
            // batch-key tombstone) at the new seq, which equals the
            // serial winner-then-batch order a re-plan would compute.
            // Blind means the committed rows depend on the batch
            // alone: plain upsert, no --tq row restriction, no --tf
            // projection, no widening, batch covering the schema, and
            // per-column either full-overwrite policy or no NULL
            // batch values (the default upsert keeps the OLD value
            // under a NULL — that reads the table, so it must re-plan).
            newEntries.foreach(en =>
              try fs.delete(new Path(dd, en.rel), false)
              catch { case _: Throwable => () })
            val nonPk = current.columns.filterNot(pk.contains).toSeq
            def blind =
              t.op == WriteOp.Upsert && t.query.isEmpty &&
                t.fields.isEmpty && !widens &&
                batch.columns.toSet == current.columns.toSet &&
                m.deleteEntries.forall(_.seq != Long.MaxValue) &&
                (if (t.overwrite.nonEmpty) nonPk.forall(t.overwrite.contains)
                 else nonPk.isEmpty || batch.filter(
                   nonPk.map(c => col(c).isNull).reduce(_ || _)).isEmpty)
            if (!blind) throw e
            try Snapshot.upsertAppend(spark, path, batch, pk,
              t.indexBy, t.maxRecordsPerFile, t.keepVersions)
            catch {
              // the append route has its own refusals (a schema
              // widened under us, legacy tombstones committed since
              // the check) — surface the ORIGINAL conflict so the
              // caller re-plans instead of dying on the fallback
              case scala.util.control.NonFatal(e2) =>
                e.addSuppressed(e2); throw e
            }
            true
        }
        val totalBytes0 = envelopes.map(_.bytes).sum
        return Some(
          if (appended) Stats(envelopes.size, 0, totalBytes0, 0L)
          else Stats(envelopes.size, touched.size, totalBytes0,
            touched.map(_.bytes).sum))
      case None => ()
    }

    // plain layout: write the rewrite to a sibling temp dir, then swap
    val tmp = new Path(path + "._merge_tmp_" + java.util.UUID.randomUUID())
    var w = laid.write.mode("overwrite")
    if (t.maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", t.maxRecordsPerFile.toString)
    if (pcols.nonEmpty) w = w.partitionBy(pcols: _*)
    try w.parquet(tmp.toString) catch {
      case e: Throwable =>
        try fs.delete(tmp, true) catch { case _: Throwable => () }
        throw e
    }
    // swap: move new files in (unique spark part names; uniquified
    // defensively), preserving their partition-relative paths, then
    // drop the replaced ones. Rename failures before any delete roll
    // back to a byte-identical target.
    val newFiles = Snapshot.listDataFilesRec(fs, tmp)
    val movedIn = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      newFiles.foreach { st =>
        val src = st.getPath
        val rel = Snapshot.relPath(tmp, src)
        var dest = new Path(hPath, rel)
        if (fs.exists(dest)) {
          val parent = dest.getParent
          dest = new Path(parent, s"m${System.nanoTime()}-${src.getName}")
        }
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"pruned merge: cannot move $src into place")
        movedIn += dest
      }
    } catch {
      case e: Throwable =>
        movedIn.foreach(p => try fs.delete(p, false) catch { case _: Throwable => () })
        try fs.delete(tmp, true) catch { case _: Throwable => () }
        throw e
    }
    touched.foreach(e => fs.delete(new Path(e.path), false))
    fs.delete(tmp, true)

    val totalBytes = envelopes.map(_.bytes).sum
    Some(Stats(envelopes.size, touched.size, totalBytes, touched.map(_.bytes).sum))
  }

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Data files + their hive partition dir values. Unpartitioned: flat
    * files only (a data-looking subdir = foreign layout → None).
    * Partitioned: every data file must sit exactly `pcols.length` hive
    * dirs deep with matching column names, in order; root-level data
    * files or stray dirs → None. Returned tuples: (path, bytes,
    * partition values as raw strings, already unescaped; null for the
    * hive default-partition marker).
    */
  /** The listing tuple of one manifest data entry, derived from its
    * REL PATH alone (no filesystem access): the same (path, bytes,
    * unescaped partition values) contract as [[listLayout]], with the
    * same foreign-layout None on a rel that does not sit exactly
    * `pcols.length` matching hive dirs deep.
    */
  private def entryListing(dd: Path, e: Snapshot.Entry,
                           pcols: Seq[String]): Option[(String, Long, Array[String])] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val segs = e.rel.split('/')
    if (segs.length != pcols.length + 1 || !isDataFile(segs.last)) return None
    val vals = new Array[String](pcols.length)
    var i = 0
    while (i < pcols.length) {
      val prefix = ExternalCatalogUtils.escapePathName(pcols(i)) + "="
      if (!segs(i).startsWith(prefix)) return None
      val raw = segs(i).substring(prefix.length)
      vals(i) =
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else ExternalCatalogUtils.unescapePathName(raw)
      i += 1
    }
    Some((new Path(dd, e.rel).toString, e.bytes, vals))
  }

  private def listLayout(fs: FileSystem, root: Path,
                         pcols: Seq[String]): Option[Seq[(String, Long, Array[String])]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Array[String])]
    def walk(dir: Path, depth: Int, vals: List[String]): Boolean = {
      val entries = try fs.listStatus(dir) catch { case _: Throwable => return false }
      entries.forall { s =>
        val name = s.getPath.getName
        if (!isDataFile(name)) true // metadata/temp — ignore at any level
        else if (s.isFile) {
          if (depth == pcols.length) {
            out += ((s.getPath.toString, s.getLen, vals.reverse.toArray)); true
          } else false // data file above/below the partition depth
        } else { // directory
          if (depth >= pcols.length) false // deeper than declared
          else {
            val prefix = ExternalCatalogUtils.escapePathName(pcols(depth)) + "="
            if (!name.startsWith(prefix)) false
            else {
              val rawVal = name.substring(prefix.length)
              val v =
                if (rawVal == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
                else ExternalCatalogUtils.unescapePathName(rawVal)
              walk(s.getPath, depth + 1, v :: vals)
            }
          }
        }
      }
    }
    if (walk(root, 0, Nil)) Some(out.toSeq) else None
  }

  /** Does the file's envelope intersect the batch key ranges? A file
    * is UNTOUCHED as soon as one component proves disjointness; each
    * component's proof needs known stats, null-compatibility, and an
    * empty range intersection (one binary search over the sorted
    * range summary — exact point ranges and coarse envelopes share
    * the same check).
    */
  private def isTouched(e: Envelope, compKeys: Array[CompKeys]): Boolean = {
    var i = 0
    while (i < compKeys.length) {
      val ce = e.comps(i)
      val ck = compKeys(i)
      val touchedHere =
        !ce.known ||
        (ck.hasNull && ce.hasNulls) ||
        ((ce.min, ce.max) match {
          case (Some(mn), Some(mx)) =>
            ck.domain.anyRangeIntersects(ck.ranges, mn, mx)
          case _ => false // known all-null: only a batch NULL could match
        })
      if (!touchedHere) return false
      i += 1
    }
    true
  }

  /** Pruning value domain: converts batch keys and footer stats into
    * one comparable representation. Integral / date / timestamp pks
    * compare as Long (timestamps as micros since epoch); strings
    * compare as UNSIGNED lexicographic UTF-8 bytes — parquet's own
    * binary stats order AND Spark's min/max string order (UTF8String
    * compares binary), so both footer stats and the distributed range
    * summary mean the same thing the comparison does.
    */
  private sealed trait Domain extends Serializable {
    def toDomain(v: Any): Any
    def cmp(a: Any, b: Any): Int
    /** Parse a hive partition-dir value into the domain; None = not
      * parseable → conservative unknown envelope.
      */
    def parsePart(s: String): Option[Any]

    final def sortKeys(keys: Array[Any]): Array[Any] =
      keys.sortWith((a, b) => cmp(a, b) < 0)
    final def sortRanges(rs: Array[(Any, Any)]): Array[(Any, Any)] =
      rs.sortWith((a, b) => cmp(a._1, b._1) < 0)
    /** Disjoint ranges sorted by lo (hence by hi too): first range
      * with hi ≥ mn decides — intersects iff its lo ≤ mx.
      */
    final def anyRangeIntersects(sorted: Array[(Any, Any)],
                                 mn: Any, mx: Any): Boolean = {
      var l = 0; var r = sorted.length
      while (l < r) {
        val m = (l + r) >>> 1
        if (cmp(sorted(m)._2, mn) < 0) l = m + 1 else r = m
      }
      l < sorted.length && cmp(sorted(l)._1, mx) <= 0
    }
  }

  private object LongDomain extends Domain {
    def toDomain(v: Any): Any = v match {
      case n: Number => n.longValue
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case other => throw new IllegalArgumentException(s"non-integral pk value: $other")
    }
    def cmp(a: Any, b: Any): Int =
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    def parsePart(s: String): Option[Any] =
      try Some(java.lang.Long.parseLong(s)) catch { case _: Throwable => None }
  }

  /** Dates partition-render as `yyyy-MM-dd`, not epoch days. */
  private object DateDomain extends Domain {
    def toDomain(v: Any): Any = LongDomain.toDomain(v)
    def cmp(a: Any, b: Any): Int = LongDomain.cmp(a, b)
    def parsePart(s: String): Option[Any] =
      try Some(java.time.LocalDate.parse(s).toEpochDay)
      catch { case _: Throwable => None }
  }

  /** Timestamps (both tz flavors) prune as micros since epoch — the
    * value Spark stores in annotated INT64 parquet (TIMESTAMP_MICROS /
    * NTZ). Partition-dir values are NOT parsed (rendering varies with
    * escaping/format) → partition-resident timestamp components stay
    * unknown (conservative).
    */
  private object TimestampDomain extends Domain {
    def toDomain(v: Any): Any = v match {
      case ts: java.sql.Timestamp =>
        Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case l: java.time.LocalDateTime =>
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
      case other => throw new IllegalArgumentException(s"non-timestamp pk value: $other")
    }
    def cmp(a: Any, b: Any): Int = LongDomain.cmp(a, b)
    def parsePart(s: String): Option[Any] = None
  }

  private object BytesDomain extends Domain {
    def toDomain(v: Any): Any =
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def cmp(a: Any, b: Any): Int = {
      val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    def parsePart(s: String): Option[Any] = Some(toDomain(s))
  }

  /** How footer stat values for this Spark type convert into the
    * domain (physical-representation aware).
    */
  private sealed trait StatKind extends Serializable
  private case object IntegralStats extends StatKind
  private case object BytesStats extends StatKind
  private case object TimestampStats extends StatKind

  private def pruningDomain(dt: DataType): Option[Domain] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(LongDomain)
    case DateType => Some(DateDomain)
    case StringType => Some(BytesDomain)
    case TimestampType | TimestampNTZType => Some(TimestampDomain)
    case _ => None
  }

  private def statKind(dt: DataType): StatKind = dt match {
    case StringType => BytesStats
    case TimestampType | TimestampNTZType => TimestampStats
    case _ => IntegralStats
  }

  /** Footer pk envelopes for every file — driver-side below
    * [[DistributedFooterThreshold]], a parallelized metadata sweep
    * above it (the 100k-file shape: no serial driver I/O). Partition
    * components resolve driver-cheap from the dir values either way.
    */
  private def readEnvelopes(spark: SparkSession,
                            files: Seq[(String, Long, Array[String])],
                            comps: Seq[(Domain, CompSource)],
                            needRows: Boolean = false): Seq[Envelope] = {
    val compArr = comps.toArray
    if (files.size <= DistributedFooterThreshold) {
      // ONE conf for the whole sweep (r19): the per-file copy made
      // every footer read re-parse the hadoop XML resources (~5 ms
      // of Configuration$Parser per file in the gap-time profile)
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      files.map { case (p, len, parts) =>
        readOneEnvelope(conf, p, len, parts, compArr, needRows)
      }
    }
    else {
      val confW = new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration)
      val bc = spark.sparkContext.broadcast(confW)
      val slices = math.min(files.size, 256)
      spark.sparkContext.parallelize(files, slices).map { case (p, len, parts) =>
        readOneEnvelope(bc.value.value, p, len, parts, compArr, needRows)
      }.collect().toSeq
    }
  }

  /** One footer read; ANY failure → unknown envelopes (file treated as
    * touched). Per data component: combines row-group stats — min of
    * mins, max of maxes, nulls if any group has (or cannot rule out)
    * nulls; timestamp columns additionally require an annotated INT64
    * physical type and normalize MILLIS/MICROS/NANOS stats to micros
    * (floor on min, ceil on max — envelopes may only widen). Partition
    * components become point envelopes from the dir value (null dir
    * value = the hive default partition = provably all-null).
    */
  private def readOneEnvelope(conf: Configuration, p: String, len: Long,
                              parts: Array[String],
                              comps: Array[(Domain, CompSource)],
                              needRows: Boolean = false): Envelope = {
    val dataCols = comps.collect { case (_, d: DataCol) => d }
    var rowCount: Option[Long] = None
    val footer: Map[String, CompEnv] =
      if (dataCols.isEmpty && !needRows) Map.empty
      else try {
        // Footers.open threads `conf` through the read options — the
        // no-options overload re-parses hadoop's default XML per open
        val reader = Footers.open(conf, new Path(p))
        try {
          import scala.jdk.CollectionConverters._
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          if (needRows) rowCount = Some(blocks.map(_.getRowCount).sum)
          dataCols.map { dc =>
            var mn: Option[Any] = None
            var mx: Option[Any] = None
            var nulls = false
            var known = true
            blocks.foreach { block =>
              block.getColumns.asScala.find(_.getPath.toDotString == dc.name) match {
                case None => known = false // pk column absent from footer
                case Some(cc) =>
                  val st = cc.getStatistics
                  if (st == null) { known = false; nulls = true }
                  else {
                    if (st.isNumNullsSet) { if (st.getNumNulls > 0) nulls = true }
                    else nulls = true
                    if (st.hasNonNullValue) {
                      (statToDomain(cc, st.genericGetMin, dc.kind, isMin = true),
                       statToDomain(cc, st.genericGetMax, dc.kind, isMin = false)) match {
                        case (Some(lo), Some(hi)) =>
                          mn = Some(mn.fold(lo)(m => domMin(m, lo)))
                          mx = Some(mx.fold(hi)(m => domMax(m, hi)))
                        case _ => known = false
                      }
                    } else if (!st.isNumNullsSet || st.getNumNulls < 0) known = false
                    // else: all-null row group — contributes no min/max
                  }
              }
            }
            dc.name -> (if (known) CompEnv(mn, mx, nulls, known = true)
                        else UnknownEnv)
          }.toMap
        } finally reader.close()
      } catch {
        case _: Throwable => dataCols.map(_.name -> UnknownEnv).toMap
      }
    val envs = comps.map {
      case (_, dc: DataCol) => footer.getOrElse(dc.name, UnknownEnv)
      case (dom, PartCol(i)) => partCompEnv(dom, parts, i)
    }
    Envelope(p, len, envs, rowCount)
  }

  /** Hive partition-dir value as a point envelope (shared by the
    * footer sweep and the manifest-stats plan path).
    */
  private def partCompEnv(dom: Domain, parts: Array[String], i: Int): CompEnv = {
    val v = if (i < parts.length) parts(i) else null
    if (v == null) CompEnv(None, None, hasNulls = true, known = true)
    else dom.parsePart(v) match {
      case Some(d) => CompEnv(Some(d), Some(d), hasNulls = false, known = true)
      case None => UnknownEnv
    }
  }

  /** Footer-derived per-file key envelopes + row counts for MANIFEST
    * recording (r12; r16 adds string columns and the row count). One
    * metadata pass over `files` (distributed above the threshold),
    * paid by the WRITER that just produced them, so every later merge
    * plans from the manifest line alone and unfiltered counts come
    * from metadata. Integral/date/timestamp columns record long
    * bounds; STRING columns (r16) record truncated byte bounds
    * ([[Snapshot.BytesBounds]]: ≤16-byte hex prefix min, Iceberg
    * increment-rule max) — the LLM-corpus common case (URLs, hex doc
    * keys) stops paying the plan-time footer sweep. Unknown/
    * unreadable stats are simply omitted (the planner falls back to
    * footers when coverage is incomplete).
    */
  private[operators] def footerKeyStats(spark: SparkSession,
                                        files: Seq[(String, Long)],
                                        schema: StructType,
                                        cols: Seq[String])
      : Map[String, (Map[String, Snapshot.ColEnv], Option[Long])] = {
    val comps: Seq[(String, Domain, CompSource)] = cols.distinct.flatMap { c =>
      schema.fields.find(_.name == c).flatMap { f =>
        pruningDomain(f.dataType)
          .map(d => (c, d, DataCol(c, statKind(f.dataType))))
      }
    }
    if (files.isEmpty) return Map.empty
    readEnvelopes(spark, files.map(f => (f._1, f._2, Array.empty[String])),
      comps.map(c => (c._2, c._3)), needRows = true)
      .map { e =>
        val envs = comps.map(_._1).zip(e.comps).zip(comps.map(_._2)).collect {
          case ((n, ce), BytesDomain) if ce.known =>
            n -> Snapshot.ColEnv(None, None, ce.hasNulls,
              ce.min.map(b => Snapshot.BytesBounds.lower(b.asInstanceOf[Array[Byte]])),
              ce.max.flatMap(b => Snapshot.BytesBounds.upper(b.asInstanceOf[Array[Byte]])))
          case ((n, ce), _) if ce.known =>
            n -> Snapshot.ColEnv(ce.min.map(_.asInstanceOf[Long]),
              ce.max.map(_.asInstanceOf[Long]), ce.hasNulls)
        }.toMap
        e.path -> (envs, e.rows)
      }.toMap
  }

  /** Envelope-only view of [[footerKeyStats]]. */
  private[operators] def footerKeyEnvs(spark: SparkSession,
                                       files: Seq[(String, Long)],
                                       schema: StructType,
                                       cols: Seq[String]): Map[String, Map[String, Snapshot.ColEnv]] =
    footerKeyStats(spark, files, schema, cols).map { case (p, (envs, _)) =>
      p -> envs
    }

  /** Build the plan envelopes from MANIFEST-recorded stats when every
    * listed data entry covers every data-resident pk component —
    * otherwise None and the planner pays the footer sweep. Partition
    * components still resolve from the dir path (free either way).
    */
  private def manifestEnvelopes(listed: Seq[(String, Long, Array[String])],
                                dd: Path,
                                byRel: Map[String, Snapshot.Entry],
                                comps: Seq[(String, Domain, CompSource)]): Option[Seq[Envelope]] = {
    val built = listed.map { case (p, len, parts) =>
      val rel = Snapshot.relPath(dd, new Path(p))
      byRel.get(rel).flatMap(_.envs).flatMap { em =>
        val ces = comps.map {
          case (c, BytesDomain, _: DataCol) =>
            // r16: hex-decoded truncated byte bounds — widened vs the
            // footer's exact stats, so pruning stays superset-sound.
            // An unbounded max (all-0xFF prefix) or a foreign
            // long-valued envelope degrades to UnknownEnv = touched.
            em.get(c).map { v =>
              (v.bmin, v.bmax) match {
                case (Some(lo), Some(hi)) =>
                  CompEnv(Some(Snapshot.BytesBounds.unhex(lo)),
                    Some(Snapshot.BytesBounds.unhex(hi)), v.hasNulls,
                    known = true)
                case (None, None) if v.min.isEmpty && v.max.isEmpty =>
                  CompEnv(None, None, v.hasNulls, known = true) // all-null
                case _ => UnknownEnv
              }
            }
          case (c, _, _: DataCol) =>
            em.get(c).map(v =>
              if (v.bmin.isDefined || v.bmax.isDefined) UnknownEnv
              else CompEnv(v.min.map(x => (x: Any)),
                v.max.map(x => (x: Any)), v.hasNulls, known = true))
          case (_, dom, PartCol(i)) => Some(partCompEnv(dom, parts, i))
        }
        if (ces.forall(_.isDefined))
          Some(Envelope(p, len, ces.map(_.get).toArray))
        else None
      }
    }
    if (built.forall(_.isDefined)) Some(built.map(_.get)) else None
  }

  /** Convert one row-group stat value into the pruning domain. For
    * timestamps the column's parquet logical annotation decides the
    * unit; min floors and max ceils so a unit down-conversion can only
    * WIDEN the envelope. INT96 (deprecated, stats unusable) and
    * unannotated INT64 yield None → unknown.
    */
  private def statToDomain(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
                           v: Any, kind: StatKind, isMin: Boolean): Option[Any] =
    kind match {
      case IntegralStats => v match {
        case n: Number => Some(n.longValue)
        case _ => None
      }
      case BytesStats => v match {
        case b: org.apache.parquet.io.api.Binary => Some(b.getBytes)
        case _ => None
      }
      case TimestampStats => v match {
        case n: Number =>
          import org.apache.parquet.schema.LogicalTypeAnnotation
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
          val pt = cc.getPrimitiveType
          if (pt.getPrimitiveTypeName != PrimitiveTypeName.INT64) None
          else pt.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              val raw = n.longValue
              ts.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw)
                case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(raw * 1000L)
                case LogicalTypeAnnotation.TimeUnit.NANOS =>
                  Some(if (isMin) Math.floorDiv(raw, 1000L)
                       else Math.floorDiv(raw + 999L, 1000L))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    }

  private def domCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    case _ => throw new IllegalStateException("mixed pruning domains")
  }

  private def domMin(a: Any, b: Any): Any = if (domCmp(a, b) <= 0) a else b
  private def domMax(a: Any, b: Any): Any = if (domCmp(a, b) >= 0) a else b
}
