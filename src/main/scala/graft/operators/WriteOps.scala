package graft.operators

import graft.dsl.QueryCompiler
import graft.spec.{TargetSpec, WriteOp}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed target write operations (SURVEY §2.4; reference: OPS,
  * etl_cli/etl.py:13 and `setup_target`, etl_cli/etl.py:189-248).
  *
  * Each op is expressed as a pure `(target, source) => newTarget`
  * DataFrame transform (the MERGE family emulated with anti-join +
  * overlay + union — SURVEY §7.4.1), plus an atomic temp-swap writer.
  * Keeping the transform pure makes every op oracle-testable in SQL and
  * lets callers compose (e.g. fixpoint loops) without touching storage.
  *
  * Source columns are prefix-renamed before the pk join so the ops are
  * safe even when source and target share lineage (self-update,
  * etl_cli/etl.py:281-295) — no ambiguous-attribute self-join pitfalls.
  *
  * Scale notes: the pk join is the only shuffle; when the source batch
  * is small relative to the target (the common incremental case) AQE
  * broadcasts it. The full-rewrite model matches the reference's
  * backend-agnostic semantics; on a real lake you'd swap the writer for
  * Delta/Iceberg MERGE while keeping these transforms as the spec.
  */
object WriteOps {

  private val SPrefix = "__s_"

  /** Dedupe a batch on pk, keeping a deterministic first row per key —
    * the engine-side analog of the reference's unique-index dup guard
    * (etl_cli/etl.py:230-235).
    */
  def dedupeByPk(df: DataFrame, pk: Seq[String]): DataFrame = {
    if (pk.isEmpty) return df
    val others = df.schema.fields.toSeq
      .filter(f => !pk.contains(f.name) && MergePlanner.sortable(f.dataType))
      .map(f => col(f.name).asc)
    val w = Window.partitionBy(pk.map(col).toIndexedSeq: _*)
      .orderBy((if (others.isEmpty) Seq(lit(1).asc) else others).toIndexedSeq: _*)
    df.withColumn("__rn__", row_number().over(w)).filter(col("__rn__") === 1).drop("__rn__")
  }

  /** Align a source batch to the target schema: keep target columns only,
    * cast, null-fill the missing — schema-free write tolerance
    * (SURVEY §7.4.3).
    */
  def align(src: DataFrame, target: DataFrame): DataFrame =
    src.select(target.schema.fields.toSeq.map { f =>
      if (src.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** Rename all columns with the source prefix (fresh attribute ids →
    * self-join safe).
    */
  private def renameSrc(src: DataFrame): DataFrame =
    src.select(src.columns.toSeq.map(c => col(c).as(SPrefix + c)).toIndexedSeq: _*)

  private def pkCond(t: DataFrame, pk: Seq[String]): Column =
    pk.map(k => t(k) <=> col(SPrefix + k)).reduce(_ && _)

  /** Restrict which target rows the op may touch (`--tq`, F10).
    * Rows where the predicate is NULL (e.g. a null column compared with
    * `=`) are NOT touchable — and must still be kept: `!pred` is also
    * NULL for them, so the untouchable side coalesces NULL→true or the
    * row would vanish from the rewritten target entirely.
    */
  private def tqSplit(target: DataFrame, tq: Seq[(String, String)]): (DataFrame, DataFrame) = {
    if (tq.isEmpty) return (target, target.limit(0))
    val preds = QueryCompiler.compile(target, tq).predicates
    // a tq of only control keys (e.g. --tq _limit=5) has no predicate
    // semantics for a keyed write — reject instead of crashing on the
    // empty reduce or silently touching everything
    require(preds.nonEmpty,
      s"--tq supports filter predicates only, got: ${tq.map(_._1).mkString(", ")}")
    val touchable = preds.foldLeft(target)(_ filter _)
    val untouchable = target.filter(coalesce(!preds.reduce(_ && _), lit(true)))
    (touchable, untouchable)
  }

  /** W1 create: append. With a pk the reference auto-requests a unique
    * mongo index (etl_cli/etl.py:230-235), so duplicate keys can never
    * land in the target — re-running the same create is a no-op, which
    * makes create-with-pk coincide with insert (skip-if-exists), the
    * same collapse the reference performs for its insert op.
    */
  def create(target: DataFrame, src: DataFrame, pk: Seq[String]): DataFrame =
    if (pk.isEmpty) target.unionByName(align(src, target))
    else insert(target, src, pk)

  /** W6/W7 insert = create + skip-if-exists on pk (reference compiles
    * insert to create + target.skip_by, etl_cli/etl.py:208-210).
    * `extraExistingKeys` (r17) widens the EXISTENCE domain past the
    * `target` frame without adding rows to the output — the pruned
    * merge's tq-excluded upsert files carry by reference but their pk
    * keys must still veto inserts (Catalyst column-prunes their scan
    * to the pk set; the existence check needs keys, not full rows).
    */
  /** `existingKeysFrom` (r19): an alternative frame to source the
    * existence-key set from, when the caller can PROVE its pk multiset
    * equals `target`'s through a cheaper plan. [[upsert]] passes its
    * original pre-update target here: update is row-preserving on pk
    * (left-outer against a pk-deduped batch overlays values only), so
    * keys(updated) ≡ keys(target) — but Catalyst cannot know that, and
    * pruning the existence leg to `updated.select(pk)` still dragged
    * the whole update join (a second broadcast build + full-target
    * probe) into every upsert plan. With the original target the leg
    * collapses to a pk-column scan.
    */
  def insert(target: DataFrame, src: DataFrame, pk: Seq[String],
             extraExistingKeys: Option[DataFrame] = None,
             existingKeysFrom: Option[DataFrame] = None): DataFrame = {
    val s = renameSrc(dedupeByPk(align(src, target), pk))
    val existing = extraExistingKeys.foldLeft(
      existingKeysFrom.getOrElse(target)
        .select(pk.map(col).toIndexedSeq: _*))((t, e) =>
      t.unionByName(e.select(pk.map(col).toIndexedSeq: _*)))
    val fresh = s.join(existing,
        pk.map(k => col(SPrefix + k) <=> col(k)).reduce(_ && _), "left_anti")
      .select(target.columns.toSeq.map(c => col(SPrefix + c).as(c)).toIndexedSeq: _*)
    target.unionByName(fresh)
  }

  /** W3 update: overlay source onto MATCHING target rows only; rows
    * outside `tq` are never touched. With an explicit `overwrite` list
    * (W9) ONLY listed fields take the source value; otherwise the source
    * value wins where non-null (schema-free overlay tolerance).
    */
  def update(target: DataFrame, src: DataFrame, pk: Seq[String],
             tq: Seq[(String, String)] = Nil, overwrite: Seq[String] = Nil): DataFrame = {
    val s = renameSrc(dedupeByPk(src, pk)).withColumn(SPrefix + "__matched", lit(true))
    val (touchable, untouchable) = tqSplit(target, tq)
    val joined = touchable.join(s, pkCond(touchable, pk), "left_outer")
    val matched = col(SPrefix + "__matched").isNotNull
    val outCols = target.columns.toSeq.map { c =>
      val sc = SPrefix + c
      if (pk.contains(c) || !src.columns.contains(c)) col(c).as(c)
      else {
        val srcVal = col(sc).cast(target.schema(c).dataType)
        val pick =
          if (overwrite.nonEmpty) { if (overwrite.contains(c)) srcVal else col(c) }
          else coalesce(srcVal, col(c))
        when(matched, pick).otherwise(col(c)).as(c)
      }
    }
    // Schema-free update semantics: fields new to the target extend its
    // schema (mongo $set idiom, SURVEY §7.4.3) — null where unmatched.
    val newCols = src.columns.toSeq.filterNot(target.columns.contains).map { c =>
      when(matched, col(SPrefix + c)).otherwise(lit(null)).as(c)
    }
    joined.select((outCols ++ newCols).toIndexedSeq: _*)
      .unionByName(untouchable, allowMissingColumns = true)
  }

  /** W4 upsert: update where matched, insert where not.
    * `extraExistingKeys` — see [[insert]] (r17): keys that exist in
    * the table but outside `target`'s rows still suppress the insert
    * half (their rows are provably outside `tq`, so the update half
    * cannot touch them either — exactly the by-reference carry).
    */
  def upsert(target: DataFrame, src: DataFrame, pk: Seq[String],
             tq: Seq[(String, String)] = Nil, overwrite: Seq[String] = Nil,
             extraExistingKeys: Option[DataFrame] = None): DataFrame = {
    val updated = update(target, src, pk, tq, overwrite)
    // existence keys from the ORIGINAL target (r19): update is
    // row-preserving on pk, so the key set is identical and the
    // existence leg skips re-evaluating the update join (see [[insert]])
    insert(updated, src, pk, extraExistingKeys,
      existingKeysFrom = Some(target))
  }

  /** W2 index: keyed overwrite — the ES "write with doc id = pk" idiom:
    * the incoming record fully replaces any record with the same pk.
    */
  def index(target: DataFrame, src: DataFrame, pk: Seq[String]): DataFrame =
    insert(delete(target, src, pk), src, pk)

  /** W5 delete: remove target rows whose pk appears in the source
    * (restricted by `tq` if given).
    */
  def delete(target: DataFrame, src: DataFrame, pk: Seq[String],
             tq: Seq[(String, String)] = Nil): DataFrame = {
    val keys = renameSrc(src.select(pk.map(col).toIndexedSeq: _*))
    val (touchable, untouchable) = tqSplit(target, tq)
    touchable.join(keys, pkCond(touchable, pk), "left_anti")
      .unionByName(untouchable)
  }

  /** Dispatch on the op. `--tf` projection (W8) applies to the batch
    * before the op; `_etl_ts` stamping (W10) happens at write time.
    */
  def applyOp(target: DataFrame, src: DataFrame, spec: TargetSpec,
              upsertExtraKeys: Option[DataFrame] = None): DataFrame = {
    val pk = if (spec.pk.nonEmpty) spec.pk else spec.skipBy
    require(pk.nonEmpty || spec.op == WriteOp.Create,
      s"op ${spec.op.name} requires a pk (--pk / -o op:pk)")
    val batch = if (spec.fields.nonEmpty) QueryCompiler.project(src, spec.fields) else src
    // W11 --tmap: the written dataset conforms to the declared mapping
    // (the reference's ES index mapping analog, etl.py:236-238) — cast
    // the op's RESULT, so it wins over schema drift on either side
    def mapped(out: DataFrame): DataFrame = spec.tmap.fold(out)(ddl =>
      out.to(org.apache.spark.sql.types.StructType.fromDDL(ddl)))
    mapped(spec.op match {
      case WriteOp.Create if spec.skipBy.nonEmpty => insert(target, batch, spec.skipBy)
      case WriteOp.Create if pk.nonEmpty => create(target, batch, pk)
      case WriteOp.Create => target.unionByName(align(batch, target))
      case WriteOp.Insert => insert(target, batch, pk)
      case WriteOp.Index  => index(target, batch, pk)
      case WriteOp.Update => update(target, batch, pk, spec.query, spec.overwrite)
      case WriteOp.Upsert =>
        upsert(target, batch, pk, spec.query, spec.overwrite, upsertExtraKeys)
      case WriteOp.Delete => delete(target, batch, pk, spec.query)
    })
  }

  /** O6 "index" analog (reference builds `prf.mongo_index` commands,
    * base.py:568-610): range-partition + sort the files by the index
    * keys, so parquet min/max row-group stats become the index —
    * point/range reads on those keys prune most files/row groups at
    * scan time. The Spark-native equivalent of a b-tree on a lake.
    * Shared by the full-rewrite and partition-scoped writers.
    */
  private def indexLayout(df: DataFrame, indexBy: Seq[String],
                          explicitParts: Option[Int] = None): DataFrame =
    if (indexBy.isEmpty) df
    else explicitParts match {
      // r18: a known many-file write gets an explicit range-partition
      // count (see [[Snapshot.manyFileParts]]) so file creation
      // parallelizes and the count no longer rides
      // spark.sql.shuffle.partitions (1 under the MaintProfile, which
      // serialized every file of a small seed through one task)
      case Some(n) if n > 1 =>
        df.repartitionByRange(n, indexBy.map(col).toIndexedSeq: _*)
          .sortWithinPartitions(indexBy.map(col).toIndexedSeq: _*)
      case _ =>
        df.repartitionByRange(indexBy.map(col).toIndexedSeq: _*)
          .sortWithinPartitions(indexBy.map(col).toIndexedSeq: _*)
    }

  /** Partition-scoped rewrite for partitioned targets: instead of
    * rewriting the whole dataset, overwrite ONLY the hive partitions
    * that can contain changed rows — the partitions of the batch's own
    * rows plus the partitions of target rows whose pk the batch
    * touches. Untouched partition dirs keep their files byte-identical
    * (at 100 TB an incremental upsert touching one day must not
    * rewrite three years of history). Partitions the op emptied are
    * deleted explicitly (dynamic overwrite only replaces partitions
    * present in the written data).
    *
    * ATOMICITY is per partition, not across partitions (the nature of
    * in-place partition updates, as with Hive/Spark INSERT OVERWRITE):
    * each partition swaps via the commit protocol, but a crash
    * mid-job can leave some partitions new and some old, and the
    * emptied-partition deletes land after the overwrite commits. Jobs
    * needing all-or-nothing semantics use the full rewrite
    * ([[atomicOverwrite]], which this falls back to) or the versioned
    * commit protocol.
    *
    * Returns false — caller falls back to [[atomicOverwrite]] — when
    * scoping doesn't apply: first write, schema change (old files
    * would disagree with the new reader schema), versioned layout or
    * commit mode, non-path-stable partition value types, or a
    * degenerate touched-set (scoping would rewrite everything anyway).
    */
  def partitionScopedRewrite(spark: SparkSession, newState: DataFrame,
                             current: DataFrame, batch: DataFrame,
                             t: TargetSpec, path: String): Boolean = {
    val pcols = t.partitionBy
    if (pcols.isEmpty || t.commitMode != "rename") return false
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return false // first write → plain full write
    // a dataset laid out by the versioned protocol must keep committing
    // versions — dynamic overwrite at the dataset root would write data
    // the version resolver never reads (silent lost update)
    if (Versioned.list(fs, hPath).exists(_._3)) return false
    // schema extension ⇒ untouched old files would lack the new
    // columns and parquet footer-sampling reads become inconsistent
    if (newState.columns.toSeq != current.columns.toSeq) return false
    if (!pcols.forall(newState.columns.contains)) return false
    // partition VALUES are rendered into dir paths via toString for the
    // emptied-dir deletion; only types whose toString provably matches
    // Spark's partition-path rendering are eligible (timestamps render
    // differently — `00:00:00.0` vs `00%3A00%3A00` — which would make
    // the delete miss and resurrect deleted rows)
    val pathSafe: org.apache.spark.sql.types.DataType => Boolean = {
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (!pcols.forall(c => pathSafe(newState.schema(c).dataType))) return false
    val pk = if (t.pk.nonEmpty) t.pk else t.skipBy
    val pCols = pcols.map(col).toIndexedSeq
    val fromBatch = align(batch, current).select(pCols: _*).distinct()
    val touchedDf = (if (pk.isEmpty) fromBatch else {
      val keys = renameSrc(dedupeByPk(align(batch, current), pk)
        .select(pk.map(col).toIndexedSeq: _*))
      val matched = current.join(keys, pkCond(current, pk), "left_semi")
        .select(pCols: _*).distinct()
      fromBatch.union(matched).distinct()
    }).localCheckpoint(true)
    val touched = touchedDf.collect()
    if (touched.length > 10000) return false // degenerate → full rewrite
    // null-safe semi-join: scope newState to the touched partitions,
    // then MATERIALIZE before writing — the write overwrites partition
    // dirs the plan would otherwise still be reading from (Spark
    // rejects overwrite-from-self), and the materialized size is
    // bounded by the touched partitions, not the dataset
    val tv = broadcast(touchedDf.toDF(pcols.map("__t_" + _): _*))
    val cond = pcols.map(c => col(c) <=> col("__t_" + c)).reduce(_ && _)
    val scoped = newState.join(tv, cond, "left_semi").localCheckpoint(true)
    var w = indexLayout(scoped, t.indexBy).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(pcols: _*)
    if (t.maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", t.maxRecordsPerFile.toString)
    t.ref.backend match {
      case "csv"  => w.option("header", "true").csv(path)
      case "json" => w.json(path)
      case "orc"  => w.orc(path)
      case _      => w.parquet(path)
    }
    // partitions the op emptied: touched but absent from the rewrite
    val present = scoped.select(pCols: _*).distinct().collect()
      .map(partitionDir(pcols, _)).toSet
    touched.map(partitionDir(pcols, _)).filterNot(present).foreach { rel =>
      fs.delete(new org.apache.hadoop.fs.Path(hPath, rel), true)
    }
    true
  }

  /** Hive-style relative partition path `p1=v1/p2=v2` with Spark's own
    * escaping rules (so the dir we delete is the dir Spark wrote).
    */
  private def partitionDir(pcols: Seq[String], r: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    pcols.zipWithIndex.map { case (c, i) =>
      val v = r.get(i)
      val s =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v.toString)
      s"${ExternalCatalogUtils.escapePathName(c)}=$s"
    }.mkString("/")
  }

  /** Object-store URI schemes where a directory rename is NOT atomic
    * (s3a "rename" is copy+delete per object — a reader can observe a
    * half-renamed target). The reference's s3 sink (etl_cli/etl.py:
    * 129-133) has the same problem class; here those schemes are
    * pinned to the marker-file protocol regardless of the flag.
    */
  private val NonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos",
    "wasb", "wasbs", "abfs", "abfss")

  /** Commit-mode resolution, factored out so the object-store pin is
    * unit-testable without the (absent-in-sandbox) connector jars:
    * a snapshot layout stays snapshot (strongest protocol — manifest
    * membership; un-snapshotting via a flag would strand history the
    * refcount vacuum then never cleans); a versioned layout stays
    * versioned unless explicitly upgraded to snapshot (safe: both
    * resolve the highest committed `_v_`, so mixed history reads
    * correctly and vacuums conservatively); object-store schemes
    * force at least versioned; otherwise the flag decides
    * ("manifest" = legacy alias for versioned).
    */
  private[graft] def effectiveCommitMode(scheme: Option[String],
                                         layoutVersioned: Boolean,
                                         commitMode: String,
                                         layoutSnapshot: Boolean = false): String =
    if (layoutSnapshot || commitMode == "snapshot") "snapshot"
    else if (layoutVersioned || commitMode == "manifest" ||
      scheme.exists(s => NonAtomicRenameSchemes.contains(s.toLowerCase)))
      "versioned"
    else commitMode

  /** Atomic full-rewrite (SURVEY §7.4.1 — rewrite atomicity without a
    * table format). Two commit modes:
    *
    *   - `rename` (default): write to a temp dir next to the target,
    *     swap via directory renames. Atomic on HDFS/local where dir
    *     rename is a metadata op; on object stores rename is copy +
    *     delete — NOT atomic there.
    *   - `versioned`: object-store-atomic. Data lands in a fresh
    *     `_v_<n>` dir UNDER the target path; the commit point is
    *     creating the empty `_COMMITTED` marker inside it — a single
    *     object PUT, atomic on strongly-consistent S3 and an atomic
    *     create on HDFS. Readers ([[graft.sources.Resolver]]) resolve
    *     to the highest committed version; the PREVIOUS committed
    *     version is retained one generation so in-flight readers keep
    *     a consistent snapshot while a commit lands (older versions
    *     and uncommitted stray dirs are vacuumed). Single writer at a
    *     time, like the reference's job model.
    *
    * `partitionBy` lays the files out hive-style (partition pruning on
    * read); `maxRecordsPerFile` bounds file sizes (the engine analog of
    * the reference's s3 write-buffer sizing, etl_cli/etl.py:129-133).
    * On a real lake this writer is the piece you swap for
    * Delta/Iceberg MERGE; the op transforms above stay the spec.
    *
    * `statsCols` (r18): extra columns to record manifest envelopes for
    * on snapshot commits, for callers that PRE-LAID the frame
    * themselves and pass `indexBy = Nil` to avoid a second sort — the
    * CLI z-order path, whose clustered columns would otherwise commit
    * with no envelopes and read-time manifest skipping could never
    * engage on the layout built for it. Ignored for non-snapshot
    * modes (plain parquet reads prune from footers directly).
    */
  def atomicOverwrite(spark: SparkSession, df: DataFrame, path: String,
                      partitionBy: Seq[String] = Nil,
                      maxRecordsPerFile: Long = 0,
                      format: String = "parquet",
                      indexBy: Seq[String] = Nil,
                      commitMode: String = "rename",
                      keepVersions: Int = 2,
                      statsCols: Seq[String] = Nil,
                      rowsHint: Option[Long] = None): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // r18: callers that know the batch row count let a many-file
    // layout (maxRecordsPerFile splitting into >= ManyFileThreshold
    // files) parallelize file creation instead of writing every file
    // through one task — see [[Snapshot.manyFileParts]]
    val laid = indexLayout(df, indexBy,
      Snapshot.manyFileParts(spark, rowsHint, maxRecordsPerFile))
    def writeTo(dir: org.apache.hadoop.fs.Path): Unit = {
      var w = laid.write.mode("overwrite")
      if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
      if (maxRecordsPerFile > 0)
        w = w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
      try format match {
        case "csv"  => w.option("header", "true").csv(dir.toString)
        case "json" => w.json(dir.toString)
        case "orc"  => w.orc(dir.toString)
        case _      => w.parquet(dir.toString)
      } catch {
        case e: Throwable =>
          // don't strand a partially-written dir next to/under the target
          try fs.delete(dir, true) catch { case _: Throwable => () }
          throw e
      }
    }
    // a dataset already laid out by the versioned protocol stays
    // versioned regardless of the flag — a rename-swap over it would
    // put data where the version resolver never looks (lost update),
    // exactly like un-formatting a Delta table with a CLI switch
    require(commitMode == "rename" || commitMode == "versioned" ||
      commitMode == "manifest" || // legacy alias for versioned
      commitMode == "snapshot",
      s"unknown commitMode: $commitMode (rename|versioned|snapshot) — an " +
        "unrecognized mode must never silently downgrade atomicity")
    val layoutSnapshot = Snapshot.isSnapshotLayout(fs, hPath)
    val layoutVersioned = !layoutSnapshot && Versioned.list(fs, hPath).exists(_._3)
    val effMode = effectiveCommitMode(
      Option(hPath.toUri.getScheme), layoutVersioned, commitMode, layoutSnapshot)
    effMode match {
      case "snapshot" =>
        // manifest membership + shared data pool ([[Snapshot]]);
        // parquet-only — the pool files must carry footer stats for
        // the pruned writers this protocol exists to enable
        require(format == "parquet",
          s"snapshot commit protocol supports parquet targets, got $format")
        Snapshot.overwrite(spark, laid, path, partitionBy,
          maxRecordsPerFile, Nil, keepVersions,
          statsCols = (indexBy ++ statsCols).distinct)
      case "versioned" => // object-store-atomic commit
        fs.mkdirs(hPath)
        val before = Versioned.list(fs, hPath)
        val next = before.map(_._1).maxOption.getOrElse(0L) + 1
        val vdir = new org.apache.hadoop.fs.Path(hPath, f"_v_$next%020d")
        try writeTo(vdir) catch {
          case e: Throwable =>
            // a failed FIRST write must not leave an empty dataset dir
            // behind — targetState would see it exists, then the read
            // of zero committed versions errors on every retry
            if (before.isEmpty &&
              (try fs.listStatus(hPath).isEmpty catch { case _: Throwable => false }))
              fs.delete(hPath, true)
            throw e
        }
        // COMMIT POINT: one atomic object create — no reader can see a
        // half-written version (the marker lands after all data files)
        fs.create(new org.apache.hadoop.fs.Path(vdir, Versioned.Marker),
          false).close()
        // vacuum: honor the retention depth — keep the newest
        // keepVersions-1 PRIOR committed generations (the new one makes
        // exactly keepVersions total, the same count the snapshot
        // protocol's vacuum retains), so `_version=N` time travel works
        // to the depth the user asked for; drop older generations and
        // uncommitted strays. keepVersions=1 therefore retains ONLY the
        // new generation, consistent across both protocols.
        val keep = before.filter(_._3).map(_._1).sorted(Ordering[Long].reverse)
          .take(math.max(0, keepVersions - 1)).toSet
        before.foreach { case (n, p, _) =>
          if (!keep.contains(n)) fs.delete(p, true)
        }
      case _ => // rename swap (HDFS/local)
        val tmp = new org.apache.hadoop.fs.Path(
          path + "._tmp_" + java.util.UUID.randomUUID())
        writeTo(tmp)
        renameSwap(fs, tmp, hPath)
    }
  }

  /** The `rename` commit: move the fully written dir `written` into
    * place at `target`, setting any previous target aside first and
    * deleting it only after the move succeeded. Shared by
    * [[atomicOverwrite]] and the Runner's create promote, which moves
    * its staged batch into place instead of rewriting it.
    */
  private[graft] def renameSwap(fs: org.apache.hadoop.fs.FileSystem,
                                written: org.apache.hadoop.fs.Path,
                                target: org.apache.hadoop.fs.Path): Unit = {
    val bak = new org.apache.hadoop.fs.Path(target.toString + "._bak")
    // HDFS/object-store renames report failure by returning false,
    // not throwing — every step is checked so a failed swap can
    // never delete the only remaining copy of the target.
    if (fs.exists(bak) && !fs.delete(bak, true))
      throw new java.io.IOException(s"atomic swap: cannot clear stale $bak")
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, bak))
      throw new java.io.IOException(s"atomic swap: cannot move $target aside")
    if (!fs.rename(written, target)) {
      // roll back: restore the previous target before failing
      if (hadTarget) fs.rename(bak, target)
      throw new java.io.IOException(s"atomic swap: cannot move $written into place")
    }
    if (hadTarget && fs.exists(target)) fs.delete(bak, true)
  }
}

/** Shared constants/helpers for the `versioned` commit protocol —
  * [[graft.sources.Resolver]] resolves reads with the same rules.
  */
object Versioned {
  /** Empty marker file whose atomic creation IS the commit. */
  val Marker = "_COMMITTED"

  private val VDir = "_v_(\\d{20})".r

  /** (version number, path, committed?) for every version dir. */
  def list(fs: org.apache.hadoop.fs.FileSystem,
           dir: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path, Boolean)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.collect {
      case s if s.isDirectory =>
        s.getPath.getName match {
          // toLongOption: a malformed or overflowing dir name is not a
          // version, never a crash
          case VDir(n) => n.toLongOption.map(v => (v, s.getPath,
            fs.exists(new org.apache.hadoop.fs.Path(s.getPath, Marker))))
          case _ => None
        }
    }.flatten

  /** Resolve a dataset path: versioned datasets read their highest
    * COMMITTED version dir; plain datasets pass through. One driver-side
    * listStatus — O(1) relative to any scan.
    */
  def resolve(fs: org.apache.hadoop.fs.FileSystem, pathStr: String): String = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val versions = list(fs, p).filter(_._3)
    if (versions.isEmpty) pathStr
    else versions.maxBy(_._1)._2.toString
  }
}
