package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, expr, lit}

/** Small-file compaction for parquet targets — the maintenance
  * complement of [[PrunedMerge]] (the OPTIMIZE of lakehouse table
  * formats, expressed directly over the file layout). Repeated pruned
  * merges and appends fragment a sorted target: each merge leaves ≈
  * batch-sized files whose pk envelopes overlap the neighbors they
  * were carved from, so footer pruning degrades and scan task counts
  * grow. Compaction rewrites ONLY the small files (< `targetFileBytes`)
  * of each directory — re-range-partitioned and re-sorted on the index
  * keys so their envelopes come back tight — and leaves every
  * full-sized file byte-identical. Hive-partitioned layouts compact
  * each partition directory independently (partition values live in
  * the dir path, so per-dir rewrites never touch partition semantics).
  *
  * Correctness: compaction is a pure re-layout — the row multiset of
  * the directory is unchanged (law-checked); crash atomicity is per
  * file-move, as with [[PrunedMerge]] (temp dir, move in, delete
  * originals; failure before the first delete leaves the target
  * byte-identical modulo already-moved-in duplicates of still-present
  * files — re-running compaction converges).
  *
  * Scale shape: listing is metadata-only; each directory's rewrite
  * reads and writes only its small-file bytes, so a 100 TB target
  * with 1 % fragmentation costs ~1 TB of I/O, not a full rewrite.
  * Directory rewrites are submitted CONCURRENTLY from a bounded
  * driver pool (r13): each group is still its own Spark job — the
  * job-submission latency that serialized a 256-partition maintenance
  * pass now overlaps, and the Spark scheduler shares executors across
  * the in-flight jobs (`SCALEBENCH11_r13.json` prices the win). Group
  * results fold into the plan under a lock; the single atomic manifest
  * commit at the end is unchanged.
  */
object Compaction {

  /** Bounded concurrent foreach for per-directory rewrite jobs. First
    * failure wins (remaining submissions shortcut), matching the
    * sequential loop's fail-fast contract.
    */
  private def inParallel[T](items: Seq[T], par: Int)(f: T => Unit): Unit = {
    if (par <= 1 || items.size <= 1) { items.foreach(f); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(par, items.size))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      // task bodies record only NonFatal failures (r13 ADVICE): an
      // InterruptedException restores the thread's interrupt status,
      // and fatal VM errors propagate out of fu.get() below as an
      // ExecutionException instead of being masked by whichever
      // NonFatal landed in `err` first
      val futs = items.map(it => pool.submit(new Runnable {
        def run(): Unit =
          if (err.get() == null)
            try f(it)
            catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt()
                err.compareAndSet(null, ie); ()
              case scala.util.control.NonFatal(t) =>
                err.compareAndSet(null, t); ()
            }
      }))
      futs.foreach { fu =>
        try { fu.get(); () }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // NonFatal bodies never throw (recorded above) — anything
            // surfacing here is fatal and must not be swallowed
            throw e
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
        }
      }
    } finally pool.shutdown()
    if (err.get() != null) throw err.get()
  }

  /** Concurrent per-directory rewrite jobs in flight at once. Each
    * job is small (one group's small-file bytes); 8 overlaps the
    * ~0.1-0.5 s per-job scheduling latency without swamping the
    * cluster scheduler.
    */
  private val GroupParallelism = 8

  final case class Stats(dirsCompacted: Int, filesTotal: Int,
                         filesCompacted: Int, bytesCompacted: Long,
                         filesCreated: Int)

  /** Compact every directory of `path` (the root for a flat layout,
    * each hive leaf dir for a partitioned one). Only directories with
    * ≥ 2 sub-`targetFileBytes` data files rewrite; within them, small
    * files re-layout into ≈ `targetFileBytes` outputs, range-sorted on
    * `indexBy` when those columns exist.
    *
    * On snapshot layouts with ACTIVE deletion vectors, compaction
    * FOLDS the tombstones into every file it rewrites anyway (the
    * rewrite is already paying the read+write — the anti-join rides
    * along free), and `foldDeletesAbove` is the merge-on-read debt
    * ceiling: when tombstone bytes exceed that fraction of data
    * bytes, compaction widens to rewrite EVERY data file so the DV
    * set drops entirely — the automatic materialize trigger that
    * keeps read-side anti-join cost bounded without operator
    * attention. Tombstones whose key set names a partition column
    * cannot fold into a per-group read and carry through unchanged.
    */
  def compact(spark: SparkSession, path: String, indexBy: Seq[String] = Nil,
              targetFileBytes: Long = 128L << 20,
              keepVersions: Int = 2,
              foldDeletesAbove: Double = 0.2,
              note: Option[String] = None): Stats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Stats(0, 0, 0, 0L, 0)
    // snapshot layouts compact THROUGH the commit protocol: one new
    // manifest swaps every compacted group at a single commit point
    // (strictly better atomicity than the in-place path), and prior
    // generations keep reading their own manifests
    if (Snapshot.isSnapshotLayout(fs, root))
      return compactSnapshot(spark, root, fs, indexBy, targetFileBytes,
        keepVersions, foldDeletesAbove, note)
    require(!Versioned.list(fs, root).exists(_._3),
      "compaction of a dir-versioned layout would bypass its commit " +
        "protocol — rewrite through the versioned writer instead")

    // leaf dirs = every dir that directly holds data files
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(d: Path): Unit = {
      val entries = fs.listStatus(d)
      if (entries.exists(s => s.isFile && isDataFile(s.getPath.getName)))
        leaves += d
      entries.foreach(s =>
        if (s.isDirectory && isDataFile(s.getPath.getName)) walk(s.getPath))
    }
    walk(root)

    var dirs = 0; var total = 0; var compacted = 0
    var bytes = 0L; var created = 0
    val lock = new Object
    inParallel(leaves.toSeq, GroupParallelism) { dir =>
      val files = fs.listStatus(dir)
        .filter(s => s.isFile && isDataFile(s.getPath.getName))
      lock.synchronized { total += files.length }
      val small = files.filter(_.getLen < targetFileBytes)
      if (small.length >= 2) {
        val smallBytes = small.map(_.getLen).sum
        lock.synchronized {
          dirs += 1
          compacted += small.length
          bytes += smallBytes
        }
        // mergeSchema: a foreign plain layout may mix file schemas —
        // union-null-fill preserves the row multiset (the compaction
        // law) where sample-file inference would drop columns
        val df = spark.read.option("mergeSchema", "true")
          .parquet(small.map(_.getPath.toString).toIndexedSeq: _*)
        val nOut = math.max(1L,
          (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val keys = indexBy.filter(df.columns.contains)
        val laid =
          if (keys.nonEmpty)
            df.repartitionByRange(nOut, keys.map(col): _*)
              .sortWithinPartitions(keys.map(col): _*)
          else df.repartition(nOut)
        val tmp = new Path(dir, s"._compact_tmp_${System.nanoTime()}")
        try laid.write.mode("overwrite").parquet(tmp.toString) catch {
          case e: Throwable =>
            try fs.delete(tmp, true) catch { case _: Throwable => () }
            throw e
        }
        val newFiles = fs.listStatus(tmp)
          .filter(s => s.isFile && isDataFile(s.getPath.getName))
        val movedIn = scala.collection.mutable.ArrayBuffer.empty[Path]
        try {
          newFiles.foreach { s =>
            var dest = new Path(dir, s.getPath.getName)
            if (fs.exists(dest))
              dest = new Path(dir, s"c${System.nanoTime()}-${s.getPath.getName}")
            if (!fs.rename(s.getPath, dest))
              throw new java.io.IOException(s"compaction: cannot move ${s.getPath}")
            movedIn += dest
          }
        } catch {
          case e: Throwable =>
            movedIn.foreach(p => try fs.delete(p, false) catch { case _: Throwable => () })
            try fs.delete(tmp, true) catch { case _: Throwable => () }
            throw e
        }
        lock.synchronized { created += newFiles.length }
        small.foreach(s => fs.delete(s.getPath, false))
        fs.delete(tmp, true)
      }
    }
    Stats(dirs, total, compacted, bytes, created)
  }

  /** The snapshot-layout variant: membership comes from the latest
    * committed manifest (the pool may also hold other retained
    * generations' files — those are NOT this version's rows and are
    * never read or rewritten here). Each hive group's small files
    * re-layout into the shared pool; ONE manifest commit then swaps
    * every group atomically. Replaced files stay on disk until no
    * retained manifest references them (refcount vacuum) — so
    * time-traveling to the pre-compaction version keeps working.
    */
  private def compactSnapshot(spark: SparkSession, root: Path, fs: FileSystem,
                              indexBy: Seq[String], targetFileBytes: Long,
                              keepVersions: Int,
                              foldDeletesAbove: Double,
                              note: Option[String]): Stats = {
    val (baseV, vdir) = Snapshot.resolveVersion(fs, root, None)
    // stale-read fence (r12): group/DV scans execute lazily against
    // this manifest; a racing commit + vacuum reclaiming a planned
    // file converts to a re-plannable conflict (see Snapshot scaladoc)
    Snapshot.staleReadAsConflict(fs, root, baseV)(
      compactSnapshotAt(spark, root, fs, indexBy, targetFileBytes,
        keepVersions, foldDeletesAbove, baseV, vdir, note))
  }

  private def compactSnapshotAt(spark: SparkSession, root: Path, fs: FileSystem,
                                indexBy: Seq[String], targetFileBytes: Long,
                                keepVersions: Int, foldDeletesAbove: Double,
                                baseV: Long, vdir: Path,
                                note: Option[String]): Stats = {
    val m = Snapshot.manifestAt(fs, vdir).get
    val dd = Snapshot.dataDir(root)
    // deletion-vector files are NOT data: never compact them into data
    // files (their pk-only schema would be null-padded into garbage
    // rows). Their tombstones FOLD into every data file this pass
    // rewrites (anti-join on the group read — free next to the
    // rewrite), and carry through for the files it keeps.
    val (delEntries, dataEntries) =
      m.entries.partition(_.rel.startsWith(Snapshot.DeletesDirName + "/"))
    // EXPLICIT manifest data schema (partition cols live in the
    // dir path, not the files): after a schema-evolution commit
    // a group can mix pre- and post-evolution files — footer
    // inference from a sample file would silently DROP the
    // evolved columns of the newer ones; the explicit schema
    // null-fills the older ones instead, which is exactly how
    // the read path serves them
    val dataSchema = org.apache.spark.sql.types.StructType(
      m.schema.fields.filterNot(f => m.partitionBy.contains(f.name)))
    // PREDICATE tombstones ([[Snapshot.deleteByPredicate]]) are not
    // key sets — they fold as FILTERS into every rewritten group, and
    // only when the predicate analyzes against the data schema alone
    // (one referencing a partition column can't evaluate on a
    // per-group read that lacks the column — it carries through).
    // Folding is idempotent (the read applies surviving tombstones
    // again), so partially-foldable sets stay sound.
    val (predDel, keyDel) = delEntries.partition(e =>
      e.cols.contains(Seq(Snapshot.PredColName)) ||
        (e.cols.isEmpty && spark.read.parquet(new Path(dd, e.rel).toString)
          .columns.sameElements(Array(Snapshot.PredColName))))
    val emptyData = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
    def foldablePred(p: String): Boolean =
      try {
        emptyData.filter(!coalesce(expr(p), lit(false)))
          .queryExecution.analyzed
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    // per-FILE foldability: a DV file drops from the manifest only if
    // every predicate it carries folded into every rewritten group
    val predByFile: Seq[(String, Seq[String], Boolean)] = predDel.map { e =>
      val ps = Snapshot.readPredicates(spark,
        Seq(new Path(dd, e.rel).toString))
      (e.rel, ps, ps.forall(foldablePred))
    }
    val foldPreds = predByFile.filter(_._3).flatMap(_._2).distinct.sorted
    // foldable tombstone groups: every key column must be DATA-resident
    // (a partition-column tombstone can't anti-join a per-group read
    // that lacks the column) — otherwise carry through untouched
    val dvGroups: Option[Seq[(Seq[String], Seq[String])]] =
      if (keyDel.isEmpty) None
      else {
        val withCols = keyDel.map { e =>
          val f = new Path(dd, e.rel).toString
          (e.cols.getOrElse(spark.read.parquet(f).columns.toSeq), f)
        }
        if (withCols.forall(_._1.forall(dataSchema.fieldNames.contains)))
          Some(withCols.groupBy(_._1).view
            .mapValues(_.map(_._2)).toSeq.sortBy(_._1.mkString(",")))
        else None
      }
    // key-tombstone fold inputs per FILE (rel kept so a group can
    // select the tombstones that APPLY to it under sequence semantics)
    val keyWithCols: Seq[(String, Seq[String], String)] =
      if (dvGroups.isEmpty) Nil
      else keyDel.map { e =>
        val f = new Path(dd, e.rel).toString
        (e.rel, e.cols.getOrElse(spark.read.parquet(f).columns.toSeq), f)
      }
    val foldPredsByRel: Map[String, Seq[String]] =
      predByFile.filter(_._3).map(t => t._1 -> t._2).toMap
    // fold exactly `dels` (the group's APPLICABLE tombstones) into a
    // group read — folding is idempotent next to the read path's own
    // per-class application, so partially-foldable sets stay sound
    def applyDv(df0: org.apache.spark.sql.DataFrame,
                dels: Seq[Snapshot.Entry]) = {
      val rels = dels.map(_.rel).toSet
      val df = dvGroups.fold(df0) { _ =>
        keyWithCols.filter(t => rels(t._1))
          .groupBy(_._2).view.mapValues(_.map(_._3)).toSeq
          .sortBy(_._1.mkString(","))
          .foldLeft(df0) { case (acc, (cols, files)) =>
            val keys = Snapshot.tombstoneKeys(spark, m, cols, files)
            val cond = cols.map(c => acc(c) <=> keys(c)).reduce(_ && _)
            acc.join(keys, cond, "left_anti")
          }
      }
      dels.flatMap(e => foldPredsByRel.getOrElse(e.rel, Nil)).distinct.sorted
        .foldLeft(df)((acc, p) => acc.filter(!coalesce(expr(p), lit(false))))
    }
    // SEQUENCE-CLASS grouping (r12): a group may only fold tombstones
    // that apply to EVERY member, and the rewritten file INHERITS the
    // min member seq so its applicable set is unchanged — mixing two
    // classes in one group would either over-delete the exempt
    // member's rows (fold) or resurrect the other's (no fold). Class
    // count is 1 on every pre-append-upsert state, so the grouping —
    // and the whole plan — is byte-identical there.
    val classed = Snapshot.seqClasses(m, dataEntries)
    // merge-on-read debt ceilings: past EITHER threshold, widen to a
    // full fold — every data file rewrites and the DV set drops
    // entirely. Bytes (`foldDeletesAbove`) bound anti-join COST; the
    // class count bounds read-plan WIDTH (each sequence class adds a
    // union branch with its own tombstone application, so a
    // many-tiny-appends pattern could grow the plan without ever
    // tripping the byte ceiling). Only meaningful when EVERY tombstone
    // can fold (else the unfoldable remainder keeps the debt anyway).
    val allFoldable = delEntries.nonEmpty &&
      (keyDel.isEmpty || dvGroups.isDefined) && predByFile.forall(_._3)
    val dvFrac = delEntries.map(_.bytes).sum.toDouble /
      math.max(1L, dataEntries.map(_.bytes).sum)
    val forceAll = allFoldable &&
      (dvFrac >= foldDeletesAbove || classed.size > MaxSeqClasses)
    val groups: Seq[(String, Seq[Snapshot.Entry], Seq[Snapshot.Entry])] =
      classed.flatMap { case (es, dels) =>
        es.groupBy { e =>
          val cut = e.rel.lastIndexOf('/')
          if (cut < 0) "" else e.rel.substring(0, cut)
        }.toSeq.map { case (dir, entries) => (dir, entries, dels) }
      }
    var dirs = 0; var compacted = 0; var bytes = 0L
    val kept = scala.collection.mutable.ArrayBuffer.empty[Snapshot.Entry]
    val removedRels = scala.collection.mutable.Set.empty[String]
    val newEntries0 = scala.collection.mutable.ArrayBuffer.empty[Snapshot.Entry]
    val lock = new Object
    // group rewrites run CONCURRENTLY (bounded pool) — each is its
    // own read→write job over disjoint files; results fold into the
    // shared plan under the lock and the SINGLE commit below swaps
    // them all atomically, exactly as the sequential loop did
    inParallel(groups.sortBy(g =>
        (g._1, g._3.map(_.rel).sorted.mkString(","))),
        GroupParallelism) { case (dir, entries, dels) =>
      val small =
        if (forceAll) entries else entries.filter(_.bytes < targetFileBytes)
      if (small.length < (if (forceAll) 1 else 2))
        lock.synchronized { kept ++= entries; () }
      else {
        val smallBytes = small.map(_.bytes).sum
        lock.synchronized {
          dirs += 1
          compacted += small.length
          bytes += smallBytes
          removedRels ++= small.map(_.rel)
          if (!forceAll)
            kept ++= entries.filterNot(e => e.bytes < targetFileBytes)
        }
        // alias-aware group read: pre-rename files recover their
        // renamed columns; the rewritten output carries CURRENT names
        val df = applyDv(Snapshot.aliasedRead(spark, m.aliases, dataSchema,
          small.map(e => new Path(dd, e.rel).toString), None), dels)
        val nOut = math.max(1L,
          (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val keys = indexBy.filter(df.columns.contains)
        val laid =
          if (keys.nonEmpty)
            df.repartitionByRange(nOut, keys.map(col): _*)
              .sortWithinPartitions(keys.map(col): _*)
          else df.repartition(nOut)
        // content-preserving rewrite: inherit the min source seq
        // (members share the applicable set, so min preserves it)
        val inheritSeq = small.map(_.seq).min
        // each group stages in its own dir, so two classes of the same
        // hive dir never overwrite each other's output
        val moved = Snapshot.stageIntoPool(fs, root, laid, subdir = dir)
          .map(_.copy(seq = inheritSeq))
        lock.synchronized { newEntries0 ++= moved; () }
      }
    }
    if (dirs == 0) return Stats(0, m.entries.size, 0, 0L, 0)
    // record key envelopes for the compacted files so merges keep
    // planning from the manifest (r12)
    val newEntries = Snapshot.withKeyEnvs(spark, dd,
      newEntries0.toSeq, dataSchema,
      indexBy.filter(dataSchema.fieldNames.contains))
    // a DV file drops only when every data file it APPLIES to
    // (dataSeq < dvSeq) was rewritten with its fold applied —
    // kept files at-or-above the DV's seq were never subject to
    // it, so they don't pin the debt (an append-shaped upsert's
    // batch file would otherwise keep every older tombstone alive
    // until a forced full rewrite). Rewritten groups fold exactly
    // their class's applicable set, so "rewritten ⇒ folded" holds
    // per DV; legacy tombstones (seq=MaxValue, apply globally)
    // still need kept to be empty.
    val keptMinSeq = kept.map(_.seq).minOption.getOrElse(Long.MaxValue)
    def droppable(e: Snapshot.Entry): Boolean = keptMinSeq >= e.seq
    if (dvGroups.isDefined)
      removedRels ++= keyDel.filter(droppable).map(_.rel)
    val predEntryByRel = predDel.map(e => e.rel -> e).toMap
    removedRels ++= predByFile.filter(_._3).map(_._1)
      .filter(r => droppable(predEntryByRel(r)))
    // OPTIMISTIC commit: a compaction racing an append/disjoint
    // merge rebases (its rewritten files are still head members); a
    // concurrent rewrite of the SAME files is a loud conflict
    Snapshot.commitRebase(fs, root, baseV, removedRels.toSet,
      newEntries, m.schemaDdl, m.partitionBy, keepVersions, note = note)
    Stats(dirs, m.entries.size, compacted, bytes, newEntries.size)
  }

  /** Read-plan width bound: a snapshot read unions one branch per
    * sequence class ([[Snapshot.seqClasses]]), so unbounded classes —
    * many tiny append-shaped upserts between compactions — would grow
    * every read's plan even while tombstone BYTES stay under
    * `foldDeletesAbove`. Past this many classes, compaction widens to
    * the full fold and the table returns to one class. Structural
    * constant, not a tunable: 8 union branches is already a wide plan.
    */
  private val MaxSeqClasses = 8

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")
}
