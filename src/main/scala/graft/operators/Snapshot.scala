package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import ManifestCodec._

/** Manifest-based snapshot commit protocol ([EXT], SURVEY §2.10) —
  * the third commit mode (`--commit snapshot`), closing the gap the
  * first two leave open: `rename` swaps atomically but keeps no
  * history; `versioned` keeps one prior generation but each commit is
  * a FULL data copy, so the byte-proportional writers
  * ([[PrunedMerge]], [[WriteOps.partitionScopedRewrite]], [[Compaction]])
  * must decline it. At 100 TB that is a forced choice between
  * snapshot isolation and not rewriting the table.
  *
  * The snapshot layout separates DATA from MEMBERSHIP, the shape of
  * Iceberg/Delta snapshots re-expressed directly over a directory:
  *
  * {{{
  *   target/
  *     _data/                         # shared, append-only file pool
  *       part-<uuid>.parquet …        #   (hive dirs inside for
  *       p=1/part-<uuid>.parquet …    #    partitioned layouts)
  *     _v_00000000000000000001/
  *       _MANIFEST                    # the files this version reads
  *       _COMMITTED                   # marker creation = commit point
  * }}}
  *
  * A version is its manifest: an ordered list of `_data`-relative file
  * paths plus the logical schema (DDL) and partition columns. Commits
  * write new data files into the pool, write the next version's
  * manifest, then create `_COMMITTED` — one atomic object PUT, same
  * guarantee as the `versioned` protocol. Readers resolve the highest
  * committed manifest (or any retained one — time travel) and scan
  * exactly its file list; files UNREFERENCED by every retained
  * manifest are vacuumed by refcount. Because membership is a list,
  * an incremental commit ([[PrunedMerge]] on a snapshot layout) writes
  * only the touched files and lists the untouched ones by reference —
  * history costs bytes proportional to what each commit CHANGED, not
  * to the table.
  *
  * The text of manifests, deltas and list checkpoints is
  * [[ManifestCodec]]'s alone. Every commit runs one sequence,
  * [[commitLocked]]: an incremental change goes in as planned, and a
  * blind full-membership commit (overwrite, column evolution, a commit
  * group's fresh table) goes in as its diff against the resolved head.
  *
  * Single writer at a time, like every graft writer (the reference's
  * job model). Crash safety: an unfinished commit leaves an
  * uncommitted `_v_` dir and possibly orphan pool files — both are
  * swept by the next successful commit's vacuum; readers never see
  * them (no marker).
  */
object Snapshot {

  val DataDirName = "_data"
  /** Pool subdir holding DELETION-VECTOR files (pk tombstones) —
    * underscore-prefixed so Spark scans and the generic pool walk
    * never read them as data; manifests reference them like any
    * member (refcounting works), with explicit handling where the
    * generic walk's underscore skip would miss them (vacuum, fsck).
    */
  val DeletesDirName = "_deletes"
  /** Column name marking a PREDICATE deletion vector ([[deleteByPredicate]]):
    * the DV parquet holds rows of this single string column, each an
    * ANSI-SQL boolean expression over the table schema; reads drop
    * every row where a predicate evaluates TRUE. Distinguishes
    * predicate tombstones from key tombstones in the manifest's
    * recorded colset without a new manifest format.
    */
  val PredColName = "__pred__"

  /** The one-column schema of a predicate tombstone file. */
  private val PredSchema = StructType(Seq(org.apache.spark.sql.types.StructField(
    PredColName, org.apache.spark.sql.types.StringType, nullable = false)))

  /** Sentinel `seq` of a freshly created [[Entry]]: replaced with the
    * committed version number inside [[commitLocked]]. Never appears
    * in a written manifest.
    */
  val UnsetSeq: Long = -1L

  /** Per-column pk/index-key envelope of one pool file, recorded in
    * the MANIFEST (r12 — the Iceberg manifest-stats analog): `min`/
    * `max` in the integral pruning domain (long value, date days,
    * timestamp micros), None/None with `hasNulls` = provably all-null.
    * Lets [[PrunedMerge]] plan file pruning from metadata the manifest
    * read already paid for — ZERO footer I/O on the steady-state merge
    * path (at 100k files the footer sweep was a distributed metadata
    * job per merge; the manifest line is free). Pool files are
    * immutable, so an envelope is valid for the file's lifetime.
    *
    * `bmin`/`bmax` (r16 — STRING/bytes-domain envelopes, the Iceberg
    * truncate-16 analog): lowercase-hex encodings of TRUNCATED byte
    * bounds for string columns. `bmin` is the first ≤16 UTF-8 bytes of
    * the file's minimum (a prefix is never greater, so it stays a
    * lower bound); `bmax` is the ≤16-byte prefix of the maximum with
    * the Iceberg upper-bound increment rule applied when truncation
    * dropped bytes (rightmost byte < 0xFF bumped, trailing 0xFF bytes
    * cut) — an upper bound that may be EXCLUSIVE, which every consumer
    * treats as inclusive (conservative: a file is only ever kept, not
    * pruned, by the slack). All-0xFF prefixes have no finite upper
    * bound → `bmax = None` with `bmin` set. Hex preserves unsigned
    * byte order under plain string comparison (2 chars/byte, '0'<'f'
    * monotone), so bound tests are `String.compareTo` driver-side. A
    * ColEnv is EITHER long-valued (`min`/`max`) or bytes-valued
    * (`bmin`/`bmax`), decided by the column's type at write time;
    * both-empty with `hasNulls` = provably all-null, either way.
    */
  final case class ColEnv(min: Option[Long], max: Option[Long],
                          hasNulls: Boolean,
                          bmin: Option[String] = None,
                          bmax: Option[String] = None)

  /** Byte-bound helpers shared by the writer-side recording
    * ([[PrunedMerge.footerKeyEnvs]]) and the read-side tests
    * ([[pruneEntries]]).
    */
  private[graft] object BytesBounds {
    val TruncateLen = 16
    private val HexChars = "0123456789abcdef".toCharArray

    def hex(b: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(b.length * 2)
      var i = 0
      while (i < b.length) {
        sb.append(HexChars((b(i) >> 4) & 0xf)).append(HexChars(b(i) & 0xf))
        i += 1
      }
      sb.toString
    }

    def unhex(s: String): Array[Byte] = {
      val out = new Array[Byte](s.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
        i += 1
      }
      out
    }

    /** Truncated LOWER bound: the first ≤[[TruncateLen]] bytes — a
      * byte-lexicographic prefix is ≤ the original, always defined.
      */
    def lower(b: Array[Byte]): String =
      hex(if (b.length <= TruncateLen) b else java.util.Arrays.copyOf(b, TruncateLen))

    /** Truncated UPPER bound (Iceberg increment rule): exact bytes when
      * nothing was truncated; otherwise the ≤[[TruncateLen]]-byte
      * prefix with its rightmost non-0xFF byte incremented and
      * everything after it dropped (any string extending the original
      * prefix compares strictly below the incremented one). None when
      * the whole prefix is 0xFF — no finite bound.
      */
    def upper(b: Array[Byte]): Option[String] = {
      if (b.length <= TruncateLen) return Some(hex(b))
      val p = java.util.Arrays.copyOf(b, TruncateLen)
      var i = p.length - 1
      while (i >= 0 && p(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else Some(hex({
        val out = java.util.Arrays.copyOf(p, i + 1)
        out(i) = (out(i) + 1).toByte
        out
      }))
    }
  }

  /** One pool file of a version: path RELATIVE to `_data` (hive
    * partition dirs included), plus its size for metadata-only
    * accounting (history, merge stats) without a second listing.
    * `cols` is recorded for DELETION-VECTOR members only: the
    * tombstone's key-column set, captured at [[deleteByKeys]] time so
    * reads group tombstones WITHOUT a per-file schema probe (r10 paid
    * one driver-side footer read per accumulated DV commit on every
    * scan). None = a data file, or a legacy DV entry → schema probe.
    * `envs` (r12) records per-column [[ColEnv]] key envelopes for DATA
    * members written by the engine's sorted writers; None (legacy
    * entries, string-keyed layouts) → the merge planner falls back to
    * the footer sweep.
    *
    * `seq` (r12 — the Iceberg data-sequence-number analog) is the
    * COMMIT SEQUENCE the entry's content is "as of": a tombstone
    * applies to a data member iff `dataSeq < tombSeq`, so rows
    * committed at-or-after a delete are EXEMPT from it — which is
    * what makes an append-only upsert commit (batch file + batch-key
    * tombstone at the same seq) express "replace these keys" without
    * rewriting any data file, and keeps a retention predicate
    * point-in-time (it deletes the rows that existed when it was
    * committed, not rows inserted later). Fresh entries carry the
    * [[UnsetSeq]] sentinel and are stamped with the version number at
    * commit; content-preserving rewrites (compaction) INHERIT the min
    * source seq so the applicable set is unchanged. Entries read from
    * manifests that predate the field normalize to the pre-seq global
    * semantics: data → 0 (oldest), tombstones → Long.MaxValue (apply
    * to everything).
    *
    * `rows` (r16 — metadata-only counts, the Iceberg/Delta `count(*)`
    * fast path): the file's row count, recorded by the writer's
    * existing footer pass ([[withKeyEnvs]] — the footer is already
    * open for envelopes, the count is free). An unfiltered `_count`
    * on a tombstone-free snapshot sums these driver-side with ZERO
    * Spark jobs ([[metadataPlan]]); an entry without it (legacy
    * manifests) goes to the boundary scan, never a wrong count.
    * `fsck --full` cross-checks recorded counts against the files.
    */
  final case class Entry(rel: String, bytes: Long,
                         cols: Option[Seq[String]] = None,
                         envs: Option[Map[String, ColEnv]] = None,
                         seq: Long = Snapshot.UnsetSeq,
                         rows: Option[Long] = None)

  /** A version's full membership record. `schemaDdl` preserves the
    * LOGICAL column order/types (partitioned reads would otherwise
    * reorder partition columns last and re-infer their types from
    * path strings). `commitTsMillis` is the recorded commit instant
    * (set by [[commitVersion]]) — the timestamp time travel resolves
    * against; None on manifests written before it was recorded, which
    * fall back to the `_COMMITTED` marker's filesystem mtime (fragile
    * across copies/restores — the reason the instant is now persisted).
    *
    * `aliases` (r12 — COLUMN RENAME support, the Delta column-mapping
    * analog): ordered pairs `physicalOld → logicalCurrent` recorded by
    * [[renameColumn]]. A rename is a METADATA-ONLY commit — pool files
    * keep their write-time physical column names forever, and reads
    * recover a renamed column as `coalesce(logicalName, physicalOld…)`
    * over an extended read schema (a file carries exactly ONE of the
    * names, so the recovery is exact, including legitimate NULLs).
    * Time travel is untouched: an old version's manifest still carries
    * its own names. Every alias target is kept CURRENT (a second
    * rename rewrites earlier targets), so the map never chains.
    *
    * `dropped` (r12 — COLUMN DROP support): physical column names
    * retired by [[dropColumn]]. Old pool files still CARRY these
    * columns physically (a drop is metadata-only); re-introducing one
    * of the names through a widening commit or a rename target would
    * silently resurrect the old values out of those files, so every
    * schema-extending path refuses names in this set. Cleared only by
    * a full rewrite ([[overwrite]]), whose commit references fresh
    * files exclusively.
    *
    * `note` (r14 — auto-maintenance audit trail): a free-text line
    * recorded by the commit that wrote THIS version (never inherited),
    * surfaced in [[history]]. [[Maintenance]] stamps its trigger
    * (which debt ceiling fired, the measured debt, the action) so a
    * table's maintenance decisions are auditable from metadata alone.
    */
  final case class Manifest(schemaDdl: String, partitionBy: Seq[String],
                            entries: Seq[Entry],
                            commitTsMillis: Option[Long] = None,
                            aliases: Seq[(String, String)] = Nil,
                            dropped: Seq[String] = Nil,
                            note: Option[String] = None) {
    def schema: StructType = Snapshot.parseDdl(schemaDdl)
    def bytes: Long = entries.map(_.bytes).sum
    /** Data members (excludes deletion-vector files). */
    def dataEntries: Seq[Entry] =
      entries.filterNot(_.rel.startsWith(DeletesDirName + "/"))
    /** Deletion-vector members: parquet files of tombstoned pk tuples
      * under `_data/_deletes/`. Non-empty ⇒ reads anti-join them and
      * the incremental writers decline (merge-on-read semantics).
      */
    def deleteEntries: Seq[Entry] =
      entries.filter(_.rel.startsWith(DeletesDirName + "/"))
  }

  def dataDir(root: Path): Path = new Path(root, DataDirName)

  // ── manifest io (driver-side; the text is [[ManifestCodec]]'s) ───

  /** The base version a DELTA version dir points at plus its removed
    * rels; None for a checkpoint (full `_MANIFEST` present — it
    * shadows any delta) or a dir with neither file. No chain
    * resolution.
    */
  private def deltaInfo(fs: FileSystem, vdir: Path): Option[(Long, Set[String])] = {
    if (fs.exists(new Path(vdir, ManifestName)) ||
        fs.exists(new Path(vdir, ListName))) return None
    val dp = new Path(vdir, DeltaName)
    if (!fs.exists(dp)) return None
    val d = parseDelta(readText(fs, dp), dp)
    Some((d.baseV, d.removed))
  }

  private def deltaBase(fs: FileSystem, vdir: Path): Option[Long] =
    deltaInfo(fs, vdir).map(_._1)

  /** Parse a FULL (checkpoint) manifest file; None if absent. */
  private def fullManifest(fs: FileSystem, vdir: Path): Option[Manifest] = {
    val mp = new Path(vdir, ManifestName)
    if (!fs.exists(mp)) None else Some(parseManifest(readText(fs, mp), mp))
  }

  /** Resolve a version's FULL membership: a checkpoint `_MANIFEST` as
    * written, or a `_MANIFEST_DELTA` applied over its recorded base's
    * resolution (r13 — the Delta-log/Iceberg-manifest-list amortization:
    * a 100 TB table has 10⁵–10⁶ pool files, and rewriting + re-reading
    * one flat O(files) text per commit made the manifest the metadata
    * bottleneck; an incremental commit now writes O(changed) bytes).
    * Committed versions are immutable, so resolutions are served from
    * a small driver-side cache — the steady-state commit/plan path
    * reads only the new delta, never the checkpoint.
    */
  def manifestAt(fs: FileSystem, vdir: Path): Option[Manifest] =
    resolvedFor(fs, vdir).map(_.m)

  /** One cached resolution. `backing`/`len`/`mtime`/`markerMtime`
    * witness validity: committed versions are immutable, but a DROPPED
    * table recreated at the same path reuses version numbers — the
    * stat probe (2 × getFileStatus, O(1) vs an O(files) re-parse)
    * detects the new incarnation and recomputes.
    *
    * The membership lives in a PERSISTENT sorted map (r13): applying a
    * delta is `tree -- removed ++ added` = O(changed · log n) with
    * structural sharing against the base's tree, so a chain of cached
    * resolutions costs one checkpoint plus the deltas — in MEMORY as
    * well as in time. The `Manifest` (entry Seq in canonical rel
    * order, which is exactly the TreeMap's iteration order) only
    * materializes when a READER asks; the steady-state commit loop
    * never touches it, which is what makes a 100k-entry incremental
    * commit cost the same as a 3k one (ScaleBench10).
    *
    * `parts` (r14): the backing LIST checkpoint's part refs plus the
    * rels DIRTIED since it (this delta chain's removed+added) — what
    * the NEXT checkpoint needs to reuse clean parts. None = text
    * checkpoint in the chain (no reuse possible).
    */
  private final class Resolved(val tree: scala.collection.immutable.TreeMap[String, Entry],
                               val hdr: Manifest, // entries Nil — header fields only
                               val depth: Int,
                               val backing: String, val len: Long,
                               val mtime: Long, val markerMtime: Long,
                               val baseV: Option[Long], // delta's #base; None = checkpoint
                               val weight: Long, // approx OWN heap: tree.size for a
                                                 // parse, O(changed) for a chained apply
                               val uuid: Option[String] = None, // backing's #uuid header
                               val parts: Option[(Vector[PartRef], Set[String])] = None) {
    lazy val m: Manifest = hdr.copy(entries = tree.valuesIterator.toVector)
    def hasRel(r: String): Boolean = tree.contains(r)
    /** Tombstone members without materializing: `_deletes/` keys form
      * a contiguous TreeMap range ('0' is the successor of '/').
      */
    def deleteRels: Iterator[String] =
      tree.range(DeletesDirName + "/", DeletesDirName + "0").keysIterator
  }

  private def treeOf(entries: Seq[Entry]): scala.collection.immutable.TreeMap[String, Entry] =
    scala.collection.immutable.TreeMap.from(entries.iterator.map(e => e.rel -> e))

  /** Apply a delta to a membership: persistent-map delete + insert —
    * O(changed · log n), sharing structure with the base's tree; the
    * canonical rel-sorted entry order IS the map's iteration order.
    * Chain resolution and the commit both apply through here, so a
    * blind commit's in-memory check certifies the resolution path.
    */
  private def applyDelta(base: scala.collection.immutable.TreeMap[String, Entry],
                         removed: Set[String], added: Seq[Entry])
      : scala.collection.immutable.TreeMap[String, Entry] =
    added.foldLeft(base -- removed)((t, e) => t.updated(e.rel, e))

  /** Memoized `StructType.fromDDL` — Catalyst's DDL parse costs
    * ~10-20 ms and the commit path re-parses the SAME table schema on
    * every incremental commit; the cache turns it into a map hit.
    * Bounded: distinct schemas per process are few (tables × schema
    * evolutions), but guard anyway.
    */
  private val ddlCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private[graft] def parseDdl(ddl: String): StructType = {
    val hit = ddlCache.get(ddl)
    if (hit != null) hit
    else {
      val st = StructType.fromDDL(ddl)
      if (ddlCache.size > 512) ddlCache.clear()
      ddlCache.put(ddl, st)
      st
    }
  }

  private def statOrNeg(fs: FileSystem, p: Path): (Long, Long) =
    try { val s = fs.getFileStatus(p); (s.getLen, s.getModificationTime) }
    catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  /** Does this filesystem report modification times too coarsely for
    * `len + mtime` equality to witness file identity? Local/HDFS
    * mtimes are millisecond-granular: a drop-and-recreate of the same
    * version path cannot land its new manifest AND its new `_COMMITTED`
    * marker in the same millisecond buckets as the old ones with equal
    * lengths (a recreate runs a full write + commit, orders of
    * magnitude above 1 ms) — so the stat triple alone is a sufficient
    * cache-identity witness and the hit path stays stat-only (r14
    * ADVICE: the unconditional uuid re-verify turned every cache hit
    * into an extra GET). Object stores round last-modified to seconds
    * (S3: 1 s granularity) where the recreate window is real — those
    * keep the `#uuid=` content check. Unknown schemes default to
    * coarse (safe: one bounded extra read, never a stale serve).
    */
  private def coarseMtimeFs(fs: FileSystem): Boolean =
    fs.getScheme match {
      case "file" | "hdfs" | "viewfs" | "webhdfs" => false
      case _ => true
    }

  /** r16 (ADVICE): scheme alone is not proof of millisecond mtimes —
    * a "file" path can sit on an NFSv3/ext3/overlay mount with
    * second-granular timestamps, reviving the stale-incarnation serve
    * the uuid check exists for. The stat-only fast path therefore
    * additionally requires OBSERVED sub-second precision in the very
    * mtimes being compared (a coarse mount rounds both to 1000-ms
    * multiples; a genuine ms filesystem lands there only 1 in 10⁶
    * stats, which then just pays one bounded uuid read).
    */
  private def observedFineMtime(mts: Long*): Boolean =
    mts.exists(mt => mt > 0 && mt % 1000 != 0)

  /** Test hook: fires when a dir's checkpoint probes (text + list)
    * both missed, BEFORE the delta-chain walk — the exact instant a
    * concurrent vacuum's chain promotion can land. Lets specs drive
    * the promotion race deterministically. No-op in production.
    */
  @volatile private[graft] var promotionRaceHook: () => Unit = () => ()

  private def resolvedFor(fs: FileSystem, vdir: Path): Option[Resolved] = {
    val key = vdir.toString
    val hit = resolvedCache.synchronized(Option(resolvedCache.get(key)))
    hit.foreach { r =>
      val (l, mt) = statOrNeg(fs, new Path(vdir, r.backing))
      val (_, mk) = statOrNeg(fs, new Path(vdir, Versioned.Marker))
      if (l == r.len && mt == r.mtime && mk == r.markerMtime &&
          ((!coarseMtimeFs(fs) && observedFineMtime(mt, mk)) ||
            readCommitUuid(fs, new Path(vdir, r.backing)) == r.uuid))
        return Some(r)
      else resolvedCache.synchronized(resolvedCache.remove(key))
    }
    type R = (scala.collection.immutable.TreeMap[String, Entry], Manifest,
      Int, Option[Long], Long, Option[(Vector[PartRef], Set[String])])
    def resolveFull(): Option[R] = fullManifest(fs, vdir)
      .map(fm => (treeOf(fm.entries), fm.copy(entries = Nil), 0,
        None: Option[Long], fm.entries.size.toLong,
        None: Option[(Vector[PartRef], Set[String])]))
    // list checkpoints rank below a promoted text `_MANIFEST` (content
    // identical by construction) and above a shadowed delta
    def resolveList(): Option[R] = parseListManifest(fs, vdir).map {
      case (fm, refs) =>
        (treeOf(fm.entries), fm.copy(entries = Nil), 0, None,
          fm.entries.size.toLong, Some((refs, Set.empty[String])))
    }
    def resolveDelta(): Option[R] = {
      val dp = new Path(vdir, DeltaName)
      if (!fs.exists(dp)) None
      else {
        val d = parseDelta(readText(fs, dp), dp)
        val bdir = new Path(vdir.getParent, f"_v_${d.baseV}%020d")
        val base = resolvedFor(fs, bdir).getOrElse(
          throw new IllegalStateException(
            s"manifest delta $dp references base version ${d.baseV} whose " +
              "manifest is gone — the delta chain is broken (vacuum " +
              "promotion failed?); the table metadata needs repair"))
        require(base.depth < 1000, s"manifest delta chain too deep under $vdir")
        Some((applyDelta(base.tree, d.removed, d.added), d.hdr, base.depth + 1, Some(d.baseV),
          (d.removed.size + d.added.size + 1).toLong,
          // the next LIST checkpoint reuses the chain's base parts,
          // rewriting only parts whose range a chain commit dirtied
          base.parts.map { case (refs, dirty) =>
            (refs, dirty ++ d.removed ++ d.added.iterator.map(_.rel)) }))
      }
    }
    val out = resolveFull().orElse(resolveList()).orElse {
      promotionRaceHook()
      // a reader resolving a RETAINED delta version can race vacuum's
      // chain promotion (r13 ADVICE): this thread saw `_MANIFEST`
      // absent above, then a concurrent vacuum promoted a checkpoint
      // into this (live, committed) dir and deleted the chain's base
      // dirs — the base walk throws "delta chain is broken" on a
      // HEALTHY table. Re-probe THIS dir once for the newly promoted
      // checkpoint before surfacing the repair error; the promotion is
      // content-identical to the chain it replaced, and the re-probe
      // composes recursively (an intermediate hop's failure propagates
      // up to the retained dir whose promotion satisfies it). Large
      // retained chains promote as a `_MANIFEST_LIST` (r14 — the
      // default at ≥[[ListCheckpointMin]] entries), so the re-probe
      // checks BOTH checkpoint shapes (r14 ADVICE: the text-only
      // re-probe rethrew on exactly the tables where list promotion
      // is the default).
      try resolveDelta()
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("delta chain") =>
          Some(resolveFull().orElse(resolveList()).getOrElse(throw e))
      }
    }
    // cache ONLY committed versions: an aborted commit deletes its
    // vdir and the version number gets reallocated with different
    // content — marker presence is the immutability witness
    out.map { case (tree, hdr, depth, bv, w, parts) =>
      val (_, mk) = statOrNeg(fs, new Path(vdir, Versioned.Marker))
      val backing =
        if (fs.exists(new Path(vdir, ManifestName))) ManifestName
        else if (fs.exists(new Path(vdir, ListName))) ListName
        else DeltaName
      val (l, mt) = statOrNeg(fs, new Path(vdir, backing))
      val r = new Resolved(tree, hdr, depth, backing, l, mt, mk, bv, w,
        readCommitUuid(fs, new Path(vdir, backing)), parts)
      if (mk >= 0) cachePut(key, r)
      r
    }
  }

  // ── manifest-LIST checkpoints (r14 — the Iceberg manifest-list /
  // Delta multi-part-checkpoint shape): the every-CheckpointEvery-th
  // checkpoint was the last O(entries) driver cost (a 1M-entry table
  // pays ~2 s of text render per checkpoint commit). A list checkpoint
  // instead writes `_MANIFEST_LIST` naming IMMUTABLE membership part
  // files (rel-range-partitioned, ≤ ~2·TargetPartEntries lines each)
  // in a shared `_manifest_parts/` pool: parts whose rel range saw no
  // change since the previous checkpoint are REUSED by reference, so a
  // steady-state checkpoint writes O(changed-since-last-checkpoint +
  // parts) bytes — the same O(changed) order as the delta commits it
  // punctuates. A parquet rendering was considered and rejected: the
  // render cost is the string/row building, not the container — a
  // driver Spark job per checkpoint costs MORE fixed overhead than the
  // 0.2 s it replaces, while part reuse beats any monolithic format at
  // any size. Cold resolution stays O(entries) (read list + parts);
  // the marker re-verify is O(parts) stats, not an O(entries) re-read.

  /** Entries per freshly written part (a dirty part splits when it
    * outgrows 2× this). The grain bounds a dirty rel's REWRITE
    * AMPLIFICATION to ≤ 512 entry lines, making the cadence-checkpoint
    * cost `O(dirtyRels · 512 + parts)` — the dominant term is
    * SCALE-INDEPENDENT (a chain dirtying d scattered rels rewrites the
    * same ~d·512 lines at 100k and at 10⁶ entries; ScaleBench10 ph8
    * prices it). The O(parts) terms stay cheap: a 1M-entry table has
    * ~2k parts → a 2k-line list render and a 2k-stat re-verify
    * (object stores batch that as a couple of LIST calls). Mutable for
    * tests to exercise multi-part reuse at toy scale.
    */
  @volatile private[graft] var TargetPartEntries = 512
  /** Membership size from which checkpoints use the list format.
    * Below it the classic single `_MANIFEST` text is simpler and just
    * as fast; mutable for tests/ScaleBench10 to exercise the list path
    * at toy scale.
    */
  @volatile private[graft] var ListCheckpointMin: Int = 50000

  private def partsDir(root: Path): Path = new Path(root, PartsDirName)

  /** Parse a `_MANIFEST_LIST`'s header + part refs WITHOUT reading the
    * parts — the O(parts) form the marker re-verify, the vacuum parts
    * refcount and fsck use.
    */
  private def listHeader(fs: FileSystem, vdir: Path)
      : Option[(Manifest, Vector[PartRef])] = {
    val lp = new Path(vdir, ListName)
    if (!fs.exists(lp)) None else Some(parseList(readText(fs, lp), lp))
  }

  /** Parse a `_MANIFEST_LIST` + its parts into a full manifest. A
    * missing/truncated part is LOUD — the membership cannot be served
    * partially.
    */
  private def parseListManifest(fs: FileSystem, vdir: Path)
      : Option[(Manifest, Vector[PartRef])] =
    listHeader(fs, vdir).map { case (hdr, refs) =>
      val pd = partsDir(vdir.getParent)
      val entries = refs.flatMap { r =>
        val pf = new Path(pd, r.name)
        val got =
          try parsePart(readText(fs, pf))
          catch {
            case scala.util.control.NonFatal(e) => throw new IllegalStateException(
              s"manifest list at $vdir references part ${r.name} which is " +
                "missing or unreadable — the table metadata needs repair", e)
          }
        require(got.length == r.count,
          s"part ${r.name}: expected ${r.count} entries, found ${got.length}")
        got
      }
      (hdr.copy(entries = entries.toSeq), refs)
    }

  /** Write the PARTS of a list checkpoint for membership `tree`,
    * reusing every part of `prev` whose rel range contains no dirty
    * rel. Returns the part refs and the names written fresh. Part
    * files land create-exclusive in the shared parts pool BEFORE the
    * caller writes the list file (crash → unreferenced parts, collected
    * through the stage journal like pool orphans).
    */
  private def writeListParts(fs: FileSystem, root: Path, vdir: Path,
                             tree: scala.collection.immutable.TreeMap[String, Entry],
                             prev: Option[(Vector[PartRef], Set[String])])
      : (Vector[PartRef], Set[String]) = {
    val pd = partsDir(root)
    fs.mkdirs(pd)
    val freshNames = scala.collection.mutable.Set.empty[String]
    // fresh parts are PLANNED (rendered + named) during chunking and
    // flushed in one batch below — so their names can be stage-
    // journaled BEFORE any part file exists (r15: crash orphans are
    // collected from the journal, not an O(pool) listing)
    val plannedParts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def writePart(entries: Seq[Entry]): PartRef = {
      val name = s"part-${java.util.UUID.randomUUID().toString.replace("-", "")}.txt"
      val text = renderPart(entries)
      plannedParts += ((name, text))
      freshNames += name
      PartRef(name, entries.size,
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong,
        entries.head.rel)
    }
    def flushPlannedParts(): Unit = {
      if (plannedParts.isEmpty) return
      writeStageJournal(fs, root,
        plannedParts.map(p => s"$PartsDirName/${p._1}").toSeq)
      plannedParts.foreach { case (name, text) =>
        writeExclusive(fs, new Path(pd, name), text, "manifest part")
      }
    }
    def chunked(entries: Seq[Entry]): Seq[PartRef] =
      entries.grouped(TargetPartEntries).map(writePart).toSeq
    val refs: Vector[PartRef] = prev match {
      case Some((parts, dirty)) if parts.nonEmpty =>
        // range of part i = [firstRel_i, firstRel_{i+1}), part 0 open
        // below, last part open above — every rel maps to exactly one
        val bounds = parts.map(_.firstRel)
        def partOf(rel: String): Int = {
          var lo = 0; var hi = bounds.length - 1
          while (lo < hi) { // greatest i with bounds(i) <= rel, else 0
            val mid = (lo + hi + 1) >>> 1
            if (bounds(mid) <= rel) lo = mid else hi = mid - 1
          }
          lo
        }
        val dirtyParts: Set[Int] = dirty.map(partOf)
        val out = Vector.newBuilder[PartRef]
        parts.zipWithIndex.foreach { case (p, i) =>
          if (!dirtyParts.contains(i)) out += p // byte-reuse by reference
          else {
            val lo = if (i == 0) tree.headOption.map(_._1).getOrElse(p.firstRel)
                     else bounds(i)
            val hiOpt = if (i == bounds.length - 1) None else Some(bounds(i + 1))
            val range = hiOpt match {
              case Some(hi) =>
                (if (i == 0) tree.rangeTo(hi) else tree.range(lo, hi))
                  .valuesIterator.toSeq
                  .filter(e => i > 0 || e.rel < hi) // rangeTo is inclusive
              case None => tree.rangeFrom(lo).valuesIterator.toSeq
            }
            if (range.nonEmpty) {
              if (range.size <= 2 * TargetPartEntries) out += writePart(range)
              else out ++= chunked(range)
            } // empty range: the part's rels all left — drop it
          }
        }
        out.result()
      case _ => chunked(tree.valuesIterator.toSeq).toVector
    }
    require(refs.iterator.map(_.count.toLong).sum == tree.size,
      s"list checkpoint entry count mismatch at $vdir: " +
        s"${refs.map(_.count).sum} vs ${tree.size}")
    flushPlannedParts()
    (refs, freshNames.toSet)
  }
  /** Max delta-chain depth before a commit writes a full checkpoint
    * manifest — bounds resolution to O(CheckpointEvery) small reads
    * after a cache miss. 16 amortizes a 100k-entry checkpoint to
    * ~6% of commits while keeping cold-start resolution cheap.
    */
  private[graft] val CheckpointEvery = 16
  /** Resolved manifests of COMMITTED (immutable) versions, LRU-bounded.
    * At 10⁵–10⁶ entries a resolution is ~10–100 MB of driver text —
    * the cache is what makes the steady-state commit loop O(delta).
    */
  private val resolvedCache =
    new java.util.LinkedHashMap[String, Resolved](64, 0.75f, true)

  /** Insert + WEIGHT-AWARE LRU eviction. A checkpoint parse OWNS its
    * whole tree (weight = entries); a chained delta apply shares all
    * but O(changed) nodes with its base (weight = changed). Evicting
    * by count alone let a handful of independently-parsed 100k-entry
    * resolutions pin ~0.5 GB of driver heap (GC churn measured as a
    * 3× commit-time inflation in ScaleBench10's mixed phases); the
    * weight cap bounds heap while still caching a full
    * keepVersions-deep delta chain for the vacuum's O(1) probes.
    */
  private def cachePut(key: String, r: Resolved): Unit =
    resolvedCache.synchronized {
      resolvedCache.put(key, r)
      val it = resolvedCache.entrySet().iterator()
      var total = 0L
      val vals = resolvedCache.values()
      val vi = vals.iterator()
      while (vi.hasNext) total += vi.next().weight
      while ((resolvedCache.size > 24 || total > 1500000L) &&
             resolvedCache.size > 2 && it.hasNext) {
        val eldest = it.next()
        total -= eldest.getValue.weight
        it.remove()
      }
    }

  /** Test/bench hook: drop every cached resolution (cold-read timing). */
  private[graft] def clearResolvedCache(): Unit =
    resolvedCache.synchronized(resolvedCache.clear())

  /** Committed versions, ascending. */
  def committed(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    Versioned.list(fs, root).filter(_._3).sortBy(_._1).map(t => (t._1, t._2))

  /** True when the dataset's LATEST committed version carries a
    * manifest — the layout-stickiness test ([[WriteOps]] routes every
    * subsequent write through this protocol regardless of flags, for
    * the same lost-update reason as `versioned`).
    */
  def isSnapshotLayout(fs: FileSystem, root: Path): Boolean =
    committed(fs, root).lastOption.exists(v => manifestAt(fs, v._2).isDefined)

  // ── read path ────────────────────────────────────────────────────

  /** Resolve a version: latest committed, or an explicit retained one
    * (time travel). A missing version errors LOUDLY with what is
    * available — silent fallback to latest would un-pin a reader.
    */
  def resolveVersion(fs: FileSystem, root: Path,
                     at: Option[Long]): (Long, Path) =
    resolveIn(committed(fs, root), root, at)

  /** [[resolveVersion]] over an already-listed `committed` sequence. */
  private def resolveIn(vs: Seq[(Long, Path)], root: Path,
                        at: Option[Long]): (Long, Path) = {
    require(vs.nonEmpty, s"no committed versions under $root")
    at match {
      case None => vs.last
      case Some(n) =>
        vs.find(_._1 == n).getOrElse(throw new IllegalArgumentException(
          s"version $n of $root is not available (retained: " +
            s"${vs.map(_._1).mkString(", ")}) — older versions are " +
            "vacuumed per the target's keep-versions setting"))
    }
  }

  /** Timestamp time travel (Delta `timestampAsOf` analog): the LATEST
    * committed version whose commit instant is ≤ `tsMillis`. The
    * instant is the manifest's RECORDED `#commit_ts` where present
    * (survives rsync/object-store migration, which rewrites mtimes);
    * pre-recording manifests and dir-protocol versions fall back to
    * the `_COMMITTED` marker's mtime. Loud when the table has no
    * commit that old — silent latest would un-pin the reader, and the
    * earliest retained commit is listed so the caller can see what
    * vacuum already took.
    */
  def versionAtTimestamp(fs: FileSystem, root: Path, tsMillis: Long): Long = {
    val vs = committed(fs, root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val stamped = vs.map { case (n, p) =>
      (n, manifestAt(fs, p).flatMap(_.commitTsMillis).getOrElse(
        fs.getFileStatus(new Path(p, Versioned.Marker)).getModificationTime))
    }
    stamped.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no version of $root committed at or before " +
          s"${new java.sql.Timestamp(tsMillis)}; earliest retained commit " +
          s"is ${new java.sql.Timestamp(stamped.map(_._2).min)} " +
          "(older ones are vacuumed per keep-versions)"))
  }

  /** Parse a `--at-timestamp`/`_version_ts` value: epoch millis, a
    * date (`yyyy-MM-dd`), or a local timestamp
    * (`yyyy-MM-dd[ T]HH:mm:ss[.f]`) in the session's JVM zone — the
    * same zone the commit mtimes carry.
    */
  def parseCommitTs(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else if (t.length == 10) java.sql.Date.valueOf(t).getTime
    else java.sql.Timestamp.valueOf(t.replace('T', ' ')).getTime
  }

  /** The version a query's `_version=N` / `_version_ts=TS` pin names
    * (TS resolves to the latest commit at-or-before the instant); None
    * = the head. A malformed value or an instant older than every
    * retained commit throws.
    */
  def versionPin(fs: FileSystem, root: Path,
                 query: Seq[(String, String)]): Option[Long] =
    query.collectFirst { case ("_version", v) => v.toLong }
      .orElse(query.collectFirst { case ("_version_ts", v) =>
        versionAtTimestamp(fs, root, parseCommitTs(v))
      })

  /** Scan one snapshot: exactly the manifest's files, normalized back
    * to the manifest's logical schema (column order AND types — hive
    * path inference must not retype partition columns). Empty
    * manifests read as an empty frame with the recorded schema.
    *
    * No TIMESTAMP(NANOS) handling needed here (unlike
    * [[graft.sources.Resolver.readParquet]]'s dir-protocol paths): a
    * snapshot layout's pool files are always written by THIS engine
    * (TIMESTAMP_MICROS, pinned in the writer conf) — converting an
    * externally-written dataset to snapshot rewrites its data through
    * the same writer.
    *
    * `skipping` (r15): advisory pushdown conjuncts — members whose
    * manifest key envelope provably cannot match are DROPPED from the
    * plan ([[pruneEntries]]); the caller MUST apply the exact filter
    * above the returned frame.
    */
  def readAt(spark: SparkSession, rootStr: String,
             at: Option[Long] = None,
             skipping: Seq[ReadPred] = Nil): DataFrame = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, vdir) = resolveVersion(fs, root, at)
    val m = manifestAt(fs, vdir).getOrElse {
      // a retained dir-protocol version: its dir IS the data
      return spark.read.parquet(vdir.toString)
    }
    // stale-read fence (r12), HEAD reads only: frame CONSTRUCTION
    // eagerly checks member existence (and driver-reads predicate
    // tombstones); under concurrent writers a racing commit + vacuum
    // can reclaim a member between resolve and here — surfaced as a
    // re-plannable conflict when the head moved. A PINNED time-travel
    // read keeps the raw loud error (the reader outran retention —
    // the changelog-cursor contract).
    def body = tombstonedRead(spark, root, m,
      pruneEntries(spark, m, m.dataEntries, skipping))
    if (at.isEmpty) staleReadAsConflict(fs, root, v)(body) else body
  }

  // ── read-time file skipping (r15) ─────────────────────────────────

  /** One pushdown conjunct a snapshot read may PRUNE MEMBERS with
    * (r15 — the verdict's last scan-path scale gap: a selective read
    * of a 100k-file table opened every member's footer although the
    * manifest already carries per-file key envelopes the merge
    * planner trusts for writes). A `ReadPred` is advisory: the
    * caller MUST still apply the exact filter above the returned
    * frame — skipping is a pure IO reduction (files whose envelope
    * provably cannot hold a matching row are dropped from the plan),
    * never the correctness gate. Columns without a recorded envelope,
    * unsupported types, and unconvertible literals all degrade to
    * "keep the file".
    *
    * `value`s may be raw query-DSL strings or typed literals (the V1
    * pushdown's `sources.Filter` values) — both convert through
    * Catalyst's own `Cast` (TRY mode, session timezone), so the
    * pruning domain agrees EXACTLY with the comparison semantics the
    * exact filter will apply above the scan.
    */
  sealed trait ReadPred { def col: String }
  object ReadPred {
    /** op ∈ eq | gt | gte | lt | lte. */
    final case class Cmp(col: String, op: String, value: Any) extends ReadPred
    final case class In(col: String, values: Seq[Any]) extends ReadPred
    final case class IsNull(col: String) extends ReadPred
    final case class NotNull(col: String) extends ReadPred
  }

  /** Is `dt` in the envelope pruning domain? Long-valued columns
    * (integrals as-is, dates as epoch days, timestamps as epoch
    * micros — the same domains [[PrunedMerge]] records) use
    * `min`/`max`; strings (r16) use the truncated byte bounds
    * `bmin`/`bmax`.
    */
  private def envPrunableType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** Convert one literal to the column's envelope domain via
    * Catalyst's TRY cast — bit-exact with what the exact filter
    * compares (same cast, same session timezone), null/unparseable →
    * None → the conjunct stops constraining (sound: pruning may only
    * ever drop files that provably hold no match).
    */
  private def envDomainValue(spark: SparkSession, dt: org.apache.spark.sql.types.DataType,
                             v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    try {
      val lit = Literal(v)
      val cast =
        if (lit.dataType == dt) lit
        else Cast(lit, dt, Option(
          spark.sessionState.conf.sessionLocalTimeZone), EvalMode.TRY)
      cast.eval(null) match {
        case null => None
        case n: java.lang.Number => Some(n.longValue)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** String-column literal → full hex encoding of its UTF-8 bytes
    * (r16): the byte-domain value the truncated bounds compare
    * against. The literal is NOT truncated — only stored bounds are,
    * and full-vs-truncated comparisons stay superset-sound
    * ([[envHasRangeBytes]]). Non-string literals go through the same
    * TRY cast as the exact filter.
    */
  private def envDomainHex(spark: SparkSession, v: Any): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    try {
      val lit = Literal(v)
      val cast =
        if (lit.dataType == org.apache.spark.sql.types.StringType) lit
        else Cast(lit, org.apache.spark.sql.types.StringType, Option(
          spark.sessionState.conf.sessionLocalTimeZone), EvalMode.TRY)
      cast.eval(null) match {
        case null => None
        case s: org.apache.spark.unsafe.types.UTF8String =>
          Some(BytesBounds.hex(s.getBytes))
        case s => Some(BytesBounds.hex(
          s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Can a non-null value inside the envelope satisfy `[lo, hi]`?
    * `(None, None)` is a KNOWN all-null file (unknown stats are never
    * manifest-recorded) — no comparison can match.
    */
  private def envHasRange(env: ColEnv, lo: Option[Long],
                          hi: Option[Long]): Boolean =
    (env.min, env.max) match {
      case (Some(mn), Some(mx)) => lo.forall(_ <= mx) && hi.forall(_ >= mn)
      case _ => false
    }

  /** Bytes-domain twin of [[envHasRange]] over hex-encoded bounds
    * (r16). The stored `bmin` is a truncated lower bound (≤ actual
    * min) and `bmax` a possibly-exclusive truncated upper bound
    * (≥ actual max), so every test here stays a SUPERSET decision:
    *   - a file survives the lower test when `lo ≤ bmax` (inclusive —
    *     the exclusive slack only ever keeps a file);
    *   - the upper test needs `bmin ≤ hi` (or `< hi` when the query
    *     bound is strict — `bmin ≥ hi` proves every value ≥ hi).
    * `bmax = None` with `bmin` set = no finite upper bound (all-0xFF
    * prefix) — the lower test cannot exclude. Both-empty byte bounds:
    * all-null when the long bounds are empty too (prune on any value
    * comparison); a foreign long-valued envelope otherwise (keep —
    * never prune on a domain mismatch).
    */
  private def envHasRangeBytes(env: ColEnv, lo: Option[String],
                               hi: Option[String],
                               hiStrict: Boolean = false): Boolean =
    env.bmin match {
      case Some(mn) =>
        lo.forall(l => env.bmax.forall(mx => l.compareTo(mx) <= 0)) &&
          hi.forall(h => if (hiStrict) mn.compareTo(h) < 0
                         else mn.compareTo(h) <= 0)
      case None =>
        env.min.isDefined || env.max.isDefined // foreign domain → keep
    }

  /** The hive partition-dir segment `c=value` of a member's rel path,
    * unescaped by Spark's own path rules: Some(null) is the default
    * (null) partition, None means no segment names `c`.
    */
  private def hiveSegment(rel: String, c: String): Option[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val prefix = ExternalCatalogUtils.escapePathName(c) + "="
    rel.split('/').collectFirst {
      case seg if seg.startsWith(prefix) =>
        val raw = seg.substring(prefix.length)
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else ExternalCatalogUtils.unescapePathName(raw)
    }
  }

  /** Hive partition-dir value of `c` from a member's rel path, as a
    * point envelope. The null partition has nulls only; an
    * absent/unparseable segment → None → keep.
    */
  private def partPointEnv(spark: SparkSession, dt: org.apache.spark.sql.types.DataType, rel: String,
                           c: String): Option[ColEnv] =
    hiveSegment(rel, c).flatMap { s =>
      if (s == null)
        Some(ColEnv(None, None, hasNulls = true))
      else if (dt == org.apache.spark.sql.types.StringType) {
        // byte-domain point envelope — exact (no truncation needed:
        // driver-side, one value per member)
        val h = BytesBounds.hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Some(ColEnv(None, None, hasNulls = false, Some(h), Some(h)))
      } else envDomainValue(spark, dt, s)
        .map(d => ColEnv(Some(d), Some(d), hasNulls = false))
    }

  /** A member's envelope for column `f`: its hive partition-dir point
    * value for a partition column, else the manifest-recorded one.
    */
  private def memberEnv(spark: SparkSession, m: Manifest,
                        f: org.apache.spark.sql.types.StructField,
                        e: Entry): Option[ColEnv] =
    if (m.partitionBy.contains(f.name))
      partPointEnv(spark, f.dataType, e.rel, f.name)
    else e.envs.flatMap(_.get(f.name))

  /** Last CONSTRAINED plan's (kept, total) member counts — a
    * white-box observable for specs and scale benches (surfaces like
    * `format("graft")` return row RDDs where `inputFiles` can't see
    * the inner plan). Diagnostic only; never read by the engine.
    */
  @volatile private[graft] var lastSkipPlan: (Int, Int) = (0, 0)

  /** MANIFEST-ENVELOPE SCAN PLANNING (r15): the data members of `m`
    * that may hold a row satisfying EVERY conjunct in `preds` — by
    * intersecting each conjunct with the member's manifest-recorded
    * [[ColEnv]] key envelope (or its hive partition-dir point value),
    * driver-side, O(members × conjuncts), ZERO file I/O. A member
    * without an envelope for a constrained column is kept; an
    * unsupported column type or literal disables its conjunct — the
    * planned set is always a superset of the matching one, so the
    * exact filter the caller applies above stays the correctness
    * gate. Delete entries are never pruned here (tombstones apply to
    * the kept members exactly as to the full set — removing a member
    * that cannot match removes only rows the filter would drop).
    */
  private[graft] def pruneEntries(spark: SparkSession, m: Manifest,
                                  entries: Seq[Entry],
                                  preds: Seq[ReadPred]): Seq[Entry] = {
    if (preds.isEmpty || entries.isEmpty) return entries
    val tests: Seq[(org.apache.spark.sql.types.StructField, ColEnv => Boolean)] = preds.flatMap { p =>
      // case-insensitive like the query DSL's field resolution; the
      // envelope map and partition layout carry the schema's casing
      m.schema.fields.find(_.name.equalsIgnoreCase(p.col)).filter(f =>
        envPrunableType(f.dataType)).flatMap { f =>
        val dt = f.dataType
        val isStr = dt == org.apache.spark.sql.types.StringType
        def dom(v: Any) = envDomainValue(spark, dt, v)
        def hx(v: Any) = envDomainHex(spark, v)
        val test: Option[ColEnv => Boolean] =
          if (isStr) p match {
            // byte-domain tests (r16): full-hex literal vs truncated
            // stored bounds — see [[envHasRangeBytes]] for why each
            // shape stays a superset decision. `gt v` uses the byte
            // successor v+0x00 (hex + "00"): the least string
            // strictly above v in unsigned byte order.
            case ReadPred.Cmp(_, "eq", v) =>
              hx(v).map(x => (e: ColEnv) => envHasRangeBytes(e, Some(x), Some(x)))
            case ReadPred.Cmp(_, "gte", v) =>
              hx(v).map(x => (e: ColEnv) => envHasRangeBytes(e, Some(x), None))
            case ReadPred.Cmp(_, "lte", v) =>
              hx(v).map(x => (e: ColEnv) => envHasRangeBytes(e, None, Some(x)))
            case ReadPred.Cmp(_, "gt", v) =>
              hx(v).map(x => (e: ColEnv) =>
                envHasRangeBytes(e, Some(x + "00"), None))
            case ReadPred.Cmp(_, "lt", v) =>
              hx(v).map(x => (e: ColEnv) =>
                envHasRangeBytes(e, None, Some(x), hiStrict = true))
            case ReadPred.In(_, vs) if vs.nonEmpty =>
              val ds = vs.map(hx)
              if (ds.exists(_.isEmpty)) None
              else {
                val xs = ds.flatten
                Some((e: ColEnv) => xs.exists(x =>
                  envHasRangeBytes(e, Some(x), Some(x))))
              }
            case ReadPred.IsNull(_) => Some((e: ColEnv) => e.hasNulls)
            case ReadPred.NotNull(_) =>
              Some((e: ColEnv) => e.bmin.isDefined || e.min.isDefined ||
                e.max.isDefined)
            case _ => None
          } else p match {
          case ReadPred.Cmp(_, "eq", v) =>
            dom(v).map(x => (e: ColEnv) => envHasRange(e, Some(x), Some(x)))
          case ReadPred.Cmp(_, "gte", v) =>
            dom(v).map(x => (e: ColEnv) => envHasRange(e, Some(x), None))
          case ReadPred.Cmp(_, "lte", v) =>
            dom(v).map(x => (e: ColEnv) => envHasRange(e, None, Some(x)))
          case ReadPred.Cmp(_, "gt", v) =>
            dom(v).collect { case x if x != Long.MaxValue =>
              (e: ColEnv) => envHasRange(e, Some(x + 1), None) }
          case ReadPred.Cmp(_, "lt", v) =>
            dom(v).collect { case x if x != Long.MinValue =>
              (e: ColEnv) => envHasRange(e, None, Some(x - 1)) }
          case ReadPred.In(_, vs) if vs.nonEmpty =>
            val ds = vs.map(dom)
            // one unconvertible member could still match — the IN
            // conjunct then constrains nothing
            if (ds.exists(_.isEmpty)) None
            else {
              val xs = ds.flatten
              Some((e: ColEnv) => xs.exists(x =>
                envHasRange(e, Some(x), Some(x))))
            }
          case ReadPred.IsNull(_) => Some((e: ColEnv) => e.hasNulls)
          case ReadPred.NotNull(_) =>
            Some((e: ColEnv) => e.min.isDefined || e.max.isDefined)
          case _ => None
        }
        test.map(t => (f, t))
      }
    }
    if (tests.isEmpty) entries
    else {
      val kept = entries.filter { e =>
        tests.forall { case (f, t) => memberEnv(spark, m, f, e).forall(t) }
      }
      lastSkipPlan = (kept.size, entries.size)
      kept
    }
  }

  // ── metadata plan: counts and aggregates from the manifest (r16–r18) ─

  /** Last metadata plan's (covered, boundary, total) member counts —
    * the [[lastSkipPlan]] twin for [[metadataPlan]]. Diagnostic only.
    */
  @volatile private[graft] var lastMetadataPlan: (Int, Int, Int) = (0, 0, 0)

  /** COVERAGE test: does the member's envelope prove EVERY row
    * satisfies the conjunct? The dual of [[pruneEntries]]' may-match
    * test, held to a stricter standard: a covered file's rows are
    * COUNTED WITHOUT A SCAN ([[metadataPlan]]), so each rule is
    * an exact implication, never advisory. Unknown envelope, type,
    * op or literal → NOT covered (the boundary scan owns the file).
    * Value comparisons additionally require a NULL-FREE file — a null
    * fails every comparison, so one null row breaks full coverage.
    *
    * Byte-domain (string) rules under TRUNCATED bounds: `bmin` is a
    * prefix (≤ actual min) and `bmax` ≥ actual max (possibly the
    * exclusive increment), so the sound implications invert the keep
    * tests — lower coverage needs `bmin ≥ lo` (then actual min ≥
    * bmin ≥ lo), upper coverage needs `bmax ≤ hi` (then actual max ≤
    * bmax ≤ hi — exclusive slack only strengthens it), and `eq v`
    * composes both into `bmin ≥ hex(v) ∧ bmax ≤ hex(v)`. `bmax =
    * None` (no finite bound) can never prove an upper test.
    */
  private def covers(spark: SparkSession, dt: org.apache.spark.sql.types.DataType,
                     p: ReadPred, env: ColEnv): Boolean = {
    val isStr = dt == org.apache.spark.sql.types.StringType
    def dom(v: Any) = envDomainValue(spark, dt, v)
    def hx(v: Any) = envDomainHex(spark, v)
    def noNulls = !env.hasNulls
    if (isStr) {
      def lohi = env.bmin.zip(env.bmax)
      p match {
        case ReadPred.Cmp(_, "eq", v) => noNulls && hx(v).exists(x =>
          lohi.exists { case (mn, mx) =>
            mn.compareTo(x) >= 0 && mx.compareTo(x) <= 0 })
        case ReadPred.Cmp(_, "gte", v) => noNulls && hx(v).exists(x =>
          env.bmin.exists(_.compareTo(x) >= 0))
        case ReadPred.Cmp(_, "gt", v) => noNulls && hx(v).exists(x =>
          env.bmin.exists(_.compareTo(x) > 0))
        case ReadPred.Cmp(_, "lte", v) => noNulls && hx(v).exists(x =>
          env.bmax.exists(_.compareTo(x) <= 0))
        case ReadPred.Cmp(_, "lt", v) => noNulls && hx(v).exists(x =>
          env.bmax.exists(_.compareTo(x) < 0))
        case ReadPred.In(_, vs) if vs.nonEmpty =>
          // a point file whose single value is one of the list members
          noNulls && vs.exists(v => hx(v).exists(x =>
            lohi.exists { case (mn, mx) =>
              mn.compareTo(x) >= 0 && mx.compareTo(x) <= 0 }))
        case ReadPred.IsNull(_) =>
          // provably all-null: both domains empty, nulls present
          env.hasNulls && env.min.isEmpty && env.max.isEmpty &&
            env.bmin.isEmpty && env.bmax.isEmpty
        case ReadPred.NotNull(_) =>
          // stats recorded (the envelope exists) and no null counted
          noNulls && (env.bmin.isDefined || env.min.isDefined)
        case _ => false
      }
    } else p match {
      case ReadPred.Cmp(_, "eq", v) => noNulls && dom(v).exists(x =>
        env.min.contains(x) && env.max.contains(x))
      case ReadPred.Cmp(_, "gte", v) => noNulls && dom(v).exists(x =>
        env.min.exists(_ >= x))
      case ReadPred.Cmp(_, "gt", v) => noNulls && dom(v).exists(x =>
        env.min.exists(_ > x))
      case ReadPred.Cmp(_, "lte", v) => noNulls && dom(v).exists(x =>
        env.max.exists(_ <= x))
      case ReadPred.Cmp(_, "lt", v) => noNulls && dom(v).exists(x =>
        env.max.exists(_ < x))
      case ReadPred.In(_, vs) if vs.nonEmpty =>
        val ds = vs.map(dom)
        noNulls && ds.forall(_.isDefined) && {
          val xs = ds.flatten.toSet
          (env.min, env.max) match {
            // every integral point of the envelope is a list member;
            // bounded enumeration — wide envelopes go to the boundary.
            // With mx ≥ mn the span mx − mn lies in [0, 2^64), so its
            // UNSIGNED value is exact even where the signed one wraps
            // (a 64-bit hash key's envelope spans more than 2^63)
            case (Some(mn), Some(mx)) =>
              mx >= mn && java.lang.Long.compareUnsigned(mx - mn, 4096L) < 0 &&
                (mn to mx).forall(xs.contains)
            case _ => false
          }
        }
      case ReadPred.IsNull(_) =>
        env.hasNulls && env.min.isEmpty && env.max.isEmpty &&
          env.bmin.isEmpty && env.bmax.isEmpty
      case ReadPred.NotNull(_) =>
        noNulls && (env.min.isDefined || env.bmin.isDefined)
      case _ => false
    }
  }

  /** The LONG-domain column types — parquet footer stats are exact
    * there; STRING bounds truncate, so strings never fold into a
    * metadata min/max.
    */
  private def longDomain(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Envelope domain long → the column's EXTERNAL row value (the
    * inverse of the write-side domain conversion; NTZ reconstructs
    * the wall-clock at UTC, validated by the RunnerSpec round-trip).
    */
  private def fromDomain(dt: org.apache.spark.sql.types.DataType, v: Long): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case LongType => v
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v))
      case TimestampType =>
        val ts = new java.sql.Timestamp(Math.floorDiv(v, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(v, 1000000L) * 1000L).toInt)
        ts
      case TimestampNTZType => // domain = epoch micros, wall-clock
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(v, 1000000L),
          (Math.floorMod(v, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case _ => null // unreachable under longDomain
    }
  }

  /** External row value → the envelope's long domain — the inverse of
    * [[fromDomain]], tolerant of BOTH external-type families (java.sql
    * and java.time, whichever `spark.sql.datetime.java8API.enabled`
    * hands back), so a boundary scan's aggregate merges exactly with
    * a covered envelope fold.
    */
  private def toDomain(dt: org.apache.spark.sql.types.DataType, v: Any): Long = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType,
            n: java.lang.Number) => n.longValue
      case (DateType, d: java.sql.Date) => DateTimeUtils.fromJavaDate(d).toLong
      case (DateType, d: java.time.LocalDate) => d.toEpochDay
      case (TimestampType, t: java.sql.Timestamp) =>
        DateTimeUtils.fromJavaTimestamp(t)
      case (TimestampType, t: java.time.Instant) =>
        DateTimeUtils.instantToMicros(t)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        DateTimeUtils.localDateTimeToMicros(t)
      case _ => throw new IllegalArgumentException(
        s"no envelope domain for ${dt.simpleString} value " +
          s"${Option(v).map(_.getClass.getName).getOrElse("null")}")
    }
  }

  /** One aggregate's covered-side partial ([[metadataPlan]]): `fn` ∈
    * count|countf|min|max, `dt` the OUTPUT type, `covered` the fold
    * over covered members alone — counts as Some(sum) (0 when nothing
    * is covered), min/max as the envelope extreme in the long domain
    * (None when no covered member carries a value).
    */
  final case class AggPartial(name: String, fn: String,
                              dt: org.apache.spark.sql.types.DataType,
                              covered: Option[Long]) {
    /** The aggregate's value once the boundary scan's own value for it
      * (an external row value; None when the boundary is empty or
      * holds no value) is merged in — in the envelope's long domain,
      * so min/max compare exactly across the two halves. An empty
      * min/max is SQL's null, an empty count 0.
      */
    def merged(boundary: Option[Any]): Any = fn match {
      case "count" | "countf" =>
        covered.getOrElse(0L) + boundary.fold(0L)(_.asInstanceOf[Long])
      case _ =>
        val vs = covered ++ boundary.map(toDomain(dt, _))
        if (vs.isEmpty) null
        else fromDomain(dt, if (fn == "min") vs.min else vs.max)
    }
  }

  /** A requested aggregate resolved against the schema; `sf` is None
    * for count(*).
    */
  private final case class AggShape(name: String, fn: String,
                                    sf: Option[org.apache.spark.sql.types.StructField],
                                    dt: org.apache.spark.sql.types.DataType)

  /** Resolve `aggs` to their shapes — output names and types exactly
    * as [[graft.dsl.QueryCompiler.aggregate]] produces them. None when
    * any aggregate is outside min/max/count, names a column missing
    * from the schema, or asks min/max outside [[longDomain]].
    */
  private def aggShapes(m: Manifest, aggs: Seq[(String, String)])
      : Option[Seq[AggShape]] = {
    import org.apache.spark.sql.types._
    def field(f: String) = m.schema.fields.find(_.name.equalsIgnoreCase(f))
    val shapes = aggs.map {
      case ("count", "*") => Some(AggShape("count_all", "count", None, LongType))
      case ("count", f) =>
        field(f).map(sf => AggShape(s"count_$f", "countf", Some(sf), LongType))
      case (fn @ ("min" | "max"), f) =>
        field(f).filter(sf => longDomain(sf.dataType))
          .map(sf => AggShape(s"${fn}_$f", fn, Some(sf), sf.dataType))
      case _ => None
    }
    if (shapes.exists(_.isEmpty)) None else Some(shapes.flatten)
  }

  /** Is `e` COVERED — every row proven to satisfy every conjunct
    * ([[covers]]), with what each aggregate needs recorded: the row
    * count for count(*), the row count and a null-free envelope for
    * count(f), an envelope for min/max? Zero-row members are
    * trivially covered.
    */
  private def isCovered(spark: SparkSession, m: Manifest, e: Entry,
                        preds: Seq[ReadPred], shapes: Seq[AggShape]): Boolean =
    e.rows.contains(0L) || (preds.forall { p =>
      val f = m.schema.fields.find(_.name.equalsIgnoreCase(p.col)).get
      memberEnv(spark, m, f, e).exists(covers(spark, f.dataType, p, _))
    } && shapes.forall { sh =>
      sh.fn match {
        case "count"  => e.rows.isDefined
        case "countf" =>
          e.rows.isDefined && memberEnv(spark, m, sh.sf.get, e).exists(!_.hasNulls)
        case _        => memberEnv(spark, m, sh.sf.get, e).isDefined
      }
    })

  /** Fold `shapes` over covered members' recorded rows/envelopes. */
  private def foldCovered(spark: SparkSession, m: Manifest,
                          shapes: Seq[AggShape],
                          covered: Seq[Entry]): Seq[AggPartial] = {
    val live = covered.filterNot(_.rows.contains(0L))
    shapes.map { sh =>
      sh.fn match {
        case "count" | "countf" =>
          AggPartial(sh.name, sh.fn, sh.dt, Some(live.iterator.map(_.rows.get).sum))
        case fn =>
          val vals = live.flatMap(memberEnv(spark, m, sh.sf.get, _))
            .flatMap(e => if (fn == "min") e.min else e.max)
          AggPartial(sh.name, fn, sh.dt,
            if (vals.isEmpty) None
            else Some(if (fn == "min") vals.min else vals.max))
      }
    }
  }

  /** The resolved manifest a metadata answer reads, from ONE
    * `committed` listing (the layout test — the head carries a
    * manifest — and the version resolution share it). None when the
    * dataset is not a snapshot layout, the resolved version has no
    * manifest, or it has live tombstones (they subtract unknown
    * amounts). A pinned version that is not retained errors like
    * [[resolveVersion]].
    */
  private def metadataManifest(spark: SparkSession, root: Path,
                               at: Option[Long]): Option[Manifest] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committed(fs, root)
    val head = vs.lastOption.flatMap(v => manifestAt(fs, v._2))
      .getOrElse(return None)
    val m =
      if (at.isEmpty) head
      else manifestAt(fs, resolveIn(vs, root, at)._2).getOrElse(return None)
    if (m.deleteEntries.nonEmpty) None else Some(m)
  }

  /** METADATA PLAN (r16–r18 — the Iceberg/Delta `count(*)` and
    * aggregate-pushdown shapes): `aggs` (min/max/count) under the
    * exactly-translated conjuncts `preds`, answered from the manifest
    * wherever it decides them. The resolved version's data members
    * split three ways:
    *
    *   - EXTERIOR (envelope provably holds no matching row —
    *     [[pruneEntries]]' drop set): contribute nothing;
    *   - COVERED ([[isCovered]]): fold their recorded rows/envelopes
    *     driver-side into [[AggPartial]]s, zero file I/O;
    *   - BOUNDARY (everything else): returned as a frame builder the
    *     caller must filter EXACTLY, aggregate and merge
    *     ([[AggPartial.merged]]) — the only Spark jobs of the plan.
    *
    * So "count rows where date = yesterday" sums manifests for the
    * interior and scans only the two straddling files, and an
    * unfiltered `_count` or `_agg` of a fully recorded table runs no
    * job at all. A member lacking what an aggregate needs DEMOTES to
    * the boundary — coverage degrades file by file, never correctness.
    * Global declines (None → the scan owns the query): not a snapshot
    * layout, no manifest, live tombstones, a predicate or aggregate
    * column missing from the schema (the compiled predicate is
    * degenerate there — null-typed), min/max outside [[longDomain]]
    * (string bounds truncate), or an aggregate outside min/max/count.
    * `preds` MUST be the complete, exact predicate set
    * ([[graft.dsl.QueryCompiler.exactPreds]]); advisory subsets would
    * overcount. Returns (covered partials in request order, boundary
    * frame builder, (covered, boundary, total) member counts).
    */
  def metadataPlan(spark: SparkSession, rootStr: String, at: Option[Long],
                   preds: Seq[ReadPred], aggs: Seq[(String, String)])
      : Option[(Seq[AggPartial], Option[() => DataFrame], (Int, Int, Int))] = {
    if (aggs.isEmpty) return None
    val root = new Path(rootStr)
    val m = metadataManifest(spark, root, at).getOrElse(return None)
    if (!preds.forall(p =>
      m.schema.fields.exists(_.name.equalsIgnoreCase(p.col)))) return None
    val shapes = aggShapes(m, aggs).getOrElse(return None)
    val data = m.dataEntries
    val (covered, boundary) = pruneEntries(spark, m, data, preds)
      .partition(isCovered(spark, m, _, preds, shapes))
    val split = (covered.size, boundary.size, data.size)
    lastMetadataPlan = split
    val bf =
      if (boundary.isEmpty) None
      else Some(() => readMembers(spark, root, m, boundary))
    Some((foldCovered(spark, m, shapes, covered), bf, split))
  }

  /** Hive partition-dir value of `c` from a member's rel path as the
    * column's EXTERNAL value — the group key [[metadataGroupAgg]]
    * emits. Some(null) is the null partition; None = no parseable
    * segment, the caller declines.
    */
  private def partValue(spark: SparkSession,
                        dt: org.apache.spark.sql.types.DataType,
                        rel: String, c: String): Option[Any] =
    hiveSegment(rel, c).flatMap { s =>
      if (s == null) Some(null)
      else if (dt == org.apache.spark.sql.types.StringType) Some(s)
      else envDomainValue(spark, dt, s).map(fromDomain(dt, _))
    }

  /** PER-GROUP METADATA AGGREGATES (r18 — the Iceberg `partitions`
    * metadata-table shape): a `_group` by PARTITION columns with
    * `_agg min/max/count` answers from the manifest alone. Each
    * member's hive rel-path segment IS its group's exact point value,
    * so members group driver-side and each group folds like
    * [[metadataPlan]]'s covered set — ZERO Spark jobs for the "rows
    * per day" triage query on a date-partitioned table.
    *
    * Declines (None — the scan owns the query) on: [[metadataPlan]]'s
    * global declines, a group column that is not a partition column
    * (data-column groups need the rows), a group column typed outside
    * the exact domains ([[longDomain]] + string — a string partition
    * value is exact, no truncation applies to a single driver-side
    * value), a member without a parseable segment for a group column,
    * a member without a recorded row count (zero-row groups must
    * DROP, which needs the counts), or any member that is not covered
    * (a group with a boundary member would need a scan). Groups whose
    * members sum to zero rows are dropped — a row-level GROUP BY emits
    * no group for them.
    *
    * Returns (fields, rows) in exactly the shape
    * [[graft.dsl.QueryCompiler.aggregate]] would produce: group
    * columns first (schema names and types), then the `<fn>_<field>`
    * outputs; row order unspecified — the caller applies `_sort`.
    */
  def metadataGroupAgg(spark: SparkSession, rootStr: String,
                       at: Option[Long], group: Seq[String],
                       aggs: Seq[(String, String)])
      : Option[(Seq[org.apache.spark.sql.types.StructField],
                Seq[Seq[Any]])] = {
    import org.apache.spark.sql.types._
    if (group.isEmpty || aggs.isEmpty) return None
    val m = metadataManifest(spark, new Path(rootStr), at).getOrElse(return None)
    val shapes = aggShapes(m, aggs).getOrElse(return None)
    val data = m.dataEntries
    if (data.exists(_.rows.isEmpty) ||
        !data.forall(isCovered(spark, m, _, Nil, shapes))) return None
    val gf: Seq[StructField] = group.map { g =>
      m.schema.fields.find(_.name.equalsIgnoreCase(g)).getOrElse(return None)
    }
    if (!gf.forall(f => m.partitionBy.exists(_.equalsIgnoreCase(f.name))))
      return None
    if (!gf.forall(f => longDomain(f.dataType) || f.dataType == StringType))
      return None
    val keyed: Seq[(Seq[Any], Entry)] = data.map { e =>
      val key = gf.map { f =>
        partValue(spark, f.dataType, e.rel, f.name) match {
          case Some(v) => v
          case None => return None
        }
      }
      (key, e)
    }
    val rows = keyed.groupBy(_._1).toSeq.collect {
      case (key, kes) if kes.exists(_._2.rows.exists(_ > 0L)) =>
        key ++ foldCovered(spark, m, shapes, kes.map(_._2)).map(_.merged(None))
    }
    val fields =
      gf.map(f => StructField(f.name, f.dataType, nullable = true)) ++
        shapes.map(sh => StructField(sh.name, sh.dt, nullable = true))
    Some((fields, rows))
  }

  /** Partition `entries` into SEQUENCE CLASSES: groups sharing the
    * same applicable-tombstone set under the seq rule (a tombstone
    * applies to a data member iff `dataSeq < tombSeq`). Returns
    * `(class members, applicable delete entries)` pairs in a
    * deterministic order. Tables without newer-than-tombstone data —
    * every state the engine produced before append-shaped upsert
    * commits existed, and every state after a materialize — form ONE
    * class covering all tombstones, and the classed read collapses to
    * the exact pre-seq plan.
    */
  private[operators] def seqClasses(m: Manifest, entries: Seq[Entry])
      : Seq[(Seq[Entry], Seq[Entry])] = {
    val dels = m.deleteEntries
    entries.groupBy(e => dels.filter(t => e.seq < t.seq).map(_.rel).toSet)
      .toSeq
      .sortBy { case (rels, _) => (-rels.size, rels.toSeq.sorted.mkString(",")) }
      .map { case (rels, es) => (es, dels.filter(t => rels(t.rel))) }
  }

  /** Read `entries` under manifest `m` with tombstones applied per
    * SEQUENCE CLASS ([[seqClasses]]): each class anti-joins / filters
    * only the tombstones that apply to its members, so rows committed
    * at-or-after a delete (an append-shaped upsert's batch, a
    * post-predicate insert) are exempt from it. Single class — the
    * common case — is exactly the old one-branch plan.
    */
  private[operators] def tombstonedRead(spark: SparkSession, root: Path,
                                        m: Manifest,
                                        entries: Seq[Entry]): DataFrame = {
    if (m.deleteEntries.isEmpty || entries.isEmpty)
      return readMembers(spark, root, m, entries)
    seqClasses(m, entries).map { case (es, dels) =>
      applyTombstones(spark, root, m, readMembers(spark, root, m, es), dels)
    }.reduce(_ unionByName _)
  }

  /** MERGE-ON-READ: anti-join the version's deletion-vector files
    * (pk tombstones) out of the scan. Null-safe per-component
    * equality, so NULL pk components tombstone exactly like values.
    * No-op when the manifest has no delete entries — the common case
    * pays nothing.
    */
  private def applyTombstones(spark: SparkSession, root: Path, m: Manifest,
                              df: DataFrame, dels: Seq[Entry]): DataFrame = {
    if (dels.isEmpty) return df
    val dd = dataDir(root)
    // DV commits may carry DIFFERENT key-column sets (deleteByKeys
    // only requires a schema subset) — one combined read would merge
    // them under an arbitrary file's schema and silently mis-apply.
    // Group the files by their key-column set — the MANIFEST-recorded
    // one where present (metadata-free), a driver-side schema probe
    // only for legacy entries that predate the recording — and
    // anti-join per group: each tombstone removes the rows matching
    // ITS OWN partial key tuple.
    val withCols = dels.map { e =>
      val f = new Path(dd, e.rel).toString
      (f, e.cols.getOrElse(spark.read.parquet(f).columns.toSeq))
    }
    // PREDICATE tombstones ([[deleteByPredicate]]) apply as filters:
    // a row dies when any committed predicate evaluates TRUE on it
    // (SQL DELETE semantics — NULL/false keeps the row). The predicate
    // strings are driver-collected (a few bytes per retention/GDPR
    // sweep) and fold into the scan as ordinary codegen'd filters that
    // PUSH DOWN to the parquet row-group stats — a predicate delete
    // costs each read a pushed filter, never a join.
    val (predFiles, keyFiles) = withCols.partition(_._2 == Seq(PredColName))
    val afterPred =
      if (predFiles.isEmpty) df
      else readPredicates(spark, predFiles.map(_._1))
        .foldLeft(df)((acc, p) => acc.filter(!coalesce(expr(p), lit(false))))
    keyFiles
      .groupBy(_._2)
      .map { case (cols, files) => (cols, files.map(_._1)) }
      .toSeq.sortBy(_._1.mkString(","))
      .foldLeft(afterPred) { case (acc, (cols, files)) =>
        // alias-aware: a tombstone committed BEFORE a rename carries
        // the old physical name; the manifest-recorded colset was
        // renamed with the table, so recover per the alias map
        val keys = tombstoneKeys(spark, m, cols, files)
        val cond = keys.columns.map(c => acc(c) <=> keys(c)).reduce(_ && _)
        acc.join(keys, cond, "left_anti")
      }
  }

  /** Distinct key tuples of a group of key-tombstone files, typed to
    * the table's CURRENT column types and recovered through the alias
    * map (shared by the read path, the changelog pruning, the pruned
    * merge and compaction folds).
    */
  private[operators] def tombstoneKeys(spark: SparkSession, m: Manifest,
                                       cols: Seq[String],
                                       files: Seq[String]): DataFrame = {
    val known = cols.filter(m.schema.fieldNames.contains)
    if (known.size == cols.size)
      aliasedRead(spark, m.aliases,
        StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c, m.schema(c).dataType))),
        files, None).distinct()
    else // legacy tombstone whose colset left the schema: raw read
      spark.read.parquet(files: _*).distinct()
  }

  /** The distinct predicate strings of a set of predicate-DV files,
    * sorted for plan determinism. Driver-side: each file holds a
    * handful of strings.
    *
    * Memoized per (path, length) like [[parseDdl]]'s ddlCache (r19):
    * pool members are immutable (unique part names per commit; vacuum
    * deletes, never rewrites), and multi-drain consumers — the CDF
    * stream, repeated pruned merges against the same head — re-read
    * the SAME tombstone files once per increment, a collect job each
    * for a handful of strings. The length witness costs one local
    * stat; a re-created path of different size misses and re-reads.
    */
  private val predCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[String]]()
  private[operators] def readPredicates(spark: SparkSession,
                                        files: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val perFile = files.map { f =>
      val len =
        try new Path(f).getFileSystem(conf).getFileStatus(new Path(f)).getLen
        catch { case scala.util.control.NonFatal(_) => -1L }
      val key = (f, len)
      val hit = if (len >= 0) predCache.get(key) else null
      if (hit != null) hit
      else {
        val vals = spark.read.schema(PredSchema).parquet(f)
          .select(PredColName).distinct().collect()
          .map(_.getString(0)).toSeq
        if (len >= 0) {
          if (predCache.size > 512) predCache.clear()
          predCache.put(key, vals)
        }
        vals
      }
    }
    perFile.flatten.distinct.sorted
  }

  /** Scan a subset of one manifest's members, normalized to the
    * manifest's logical schema. The membership-restriction primitive
    * readAt and the file-pruned changelog share. The read schema is
    * EXPLICIT (the manifest's): besides skipping footer inference,
    * this is what makes manifest-level SCHEMA EVOLUTION work — a
    * member written before an ADD COLUMN commit simply null-fills the
    * columns its footers don't carry, so old files serve the evolved
    * schema without a rewrite.
    */
  private def readMembers(spark: SparkSession, root: Path, m: Manifest,
                          entries: Seq[Entry]): DataFrame = {
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else {
      val dd = dataDir(root)
      val paths = entries.map(e => new Path(dd, e.rel).toString)
      aliasedRead(spark, m.aliases, m.schema, paths,
        if (m.partitionBy.nonEmpty) Some(dd.toString) else None)
    }
  }

  /** Read explicit parquet paths under `wantSchema`, recovering
    * RENAMED columns ([[Manifest.aliases]]): the read schema is
    * widened with each still-relevant physical name (typed as its
    * logical column), and the projection takes
    * `coalesce(logical, physicalOld…)` — a file carries exactly one of
    * the names (the rest null-fill), so the recovery is exact, mixed
    * old/new file sets included. With no aliases this is the plain
    * explicit-schema read (identical plan).
    */
  private[graft] def aliasedRead(spark: SparkSession,
                                 aliases: Seq[(String, String)],
                                 wantSchema: StructType, paths: Seq[String],
                                 basePath: Option[String]): DataFrame = {
    val wantNames = wantSchema.fieldNames.toSet
    val live = aliases.filter { case (po, ln) =>
      wantNames.contains(ln) && !wantNames.contains(po) }
    val extra = live.map { case (po, ln) =>
      org.apache.spark.sql.types.StructField(po, wantSchema(ln).dataType,
        nullable = true) }
    val readSchema = StructType(wantSchema.fields ++ extra)
    val r = spark.read.schema(readSchema)
    val df = basePath.fold(r)(bp => r.option("basePath", bp)).parquet(paths: _*)
    val byLogical = live.groupBy(_._2)
    df.select(wantSchema.fields.toIndexedSeq.map { f =>
      byLogical.get(f.name) match {
        case Some(as) =>
          coalesce((col(f.name) +: as.map(a => col(a._1))): _*)
            .cast(f.dataType).as(f.name)
        case None => col(f.name).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  // ── write path ───────────────────────────────────────────────────

  /** The table root a pool dir belongs to (`_data` → parent;
    * `_data/_deletes` → grandparent).
    */
  private def rootOfPool(dd: Path): Path =
    if (dd.getName == DataDirName) dd.getParent
    else if (dd.getParent != null && dd.getParent.getName == DataDirName)
      dd.getParent.getParent
    else dd.getParent

  /** The one staging step of every snapshot writer: write the already
    * laid-out `laid` to a fresh `._snap_stage_<uuid>` dir under `root`
    * (a UUID, so concurrent writers never share — and `overwrite`-mode
    * never deletes — a live stage), move its files into the pool
    * through the journaled [[moveIntoPool]], and delete the stage dir
    * on every exit. `subdir` places the output under a pool-relative
    * dir (a compaction group's hive dir). `tombstoneCols` routes the
    * files into `_data/_deletes` as tombstones over those columns.
    * `admit` sees the finished stage before anything moves; false
    * stages nothing and returns Nil. Callers add key envelopes
    * ([[withKeyEnvs]]) and commit.
    */
  private[operators] def stageIntoPool(fs: FileSystem, root: Path,
                                       laid: DataFrame,
                                       partitionBy: Seq[String] = Nil,
                                       maxRecordsPerFile: Long = 0,
                                       subdir: String = "",
                                       tombstoneCols: Option[Seq[String]] = None,
                                       admit: Path => Boolean = _ => true): Seq[Entry] = {
    val stage = new Path(root,
      s"._snap_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    try {
      var w = laid.write.mode("overwrite")
      if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
      if (maxRecordsPerFile > 0)
        w = w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
      w.parquet((if (subdir.isEmpty) stage else new Path(stage, subdir)).toString)
      if (!admit(stage)) Nil
      else {
        val dd = dataDir(root)
        val pool = if (tombstoneCols.isEmpty) dd else new Path(dd, DeletesDirName)
        fs.mkdirs(pool)
        val moved = moveIntoPool(fs, stage, pool)
        tombstoneCols.fold(moved)(cs => moved.map(e =>
          e.copy(rel = s"$DeletesDirName/${e.rel}", cols = Some(cs))))
      }
    } finally {
      try fs.delete(stage, true) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The staging writers' prelude: sweep aged stages, then resolve the
    * head manifest — a root without one fails as `<needs> a snapshot
    * layout at <root>` (`needs` = "append needs", …). Returns (root,
    * fs, head version, head manifest).
    */
  private def stagingHead(spark: SparkSession, rootStr: String, needs: String)
      : (Path, FileSystem, Long, Manifest) = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sweepStaleStages(fs, root)
    val (baseV, vdir) = resolveVersion(fs, root, None)
    val m = manifestAt(fs, vdir).getOrElse(throw new IllegalArgumentException(
      s"$needs a snapshot layout at $rootStr"))
    (root, fs, baseV, m)
  }

  /** Move every data file of a finished staging dir into the pool dir
    * `dd` (`_data` or `_data/_deletes`), preserving partition-relative
    * paths; returns the new pool entries. Names collide only
    * pathologically (Spark part names embed a UUID) — uniquified
    * defensively like [[PrunedMerge]].
    */
  private def moveIntoPool(fs: FileSystem, stage: Path,
                           dd: Path): Seq[Entry] = {
    // plan every destination FIRST, then JOURNAL the planned pool
    // names, then move (r15 — incremental orphan tracking): a crash
    // mid-move leaves files the journal names, so the per-commit
    // vacuum collects crash orphans from the journal diff instead of
    // listing the whole pool (the last O(pool) cost on the commit
    // path). A torn journal write means no file moved yet — the stage
    // sweep handles the stage dir, nothing leaks.
    val root = rootOfPool(dd)
    val planned = listDataFilesRec(fs, stage).map { st =>
      val src = st.getPath
      var dest = new Path(dd, relPath(stage, src))
      if (fs.exists(dest))
        dest = new Path(dest.getParent, s"s${System.nanoTime()}-${src.getName}")
      (src, dest, st.getLen)
    }
    if (planned.nonEmpty)
      writeStageJournal(fs, root, planned.map(p => relPath(root, p._2)))
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Entry)]
    try {
      planned.map { case (src, dest, bytes) =>
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"snapshot commit: cannot move $src")
        // stamp POOL-ENTRY time: rename preserves the stage-write
        // mtime, so a part finished early in a long staging write
        // would otherwise look older than the pending-file grace and
        // a concurrent vacuum could sweep it before this commit lands.
        // Age-from-pool-entry closes that window completely.
        try fs.setTimes(dest, System.currentTimeMillis(), -1)
        catch { case scala.util.control.NonFatal(_) => () }
        val e = Entry(relPath(dd, dest), bytes)
        moved += ((dest, e))
        e
      }
    } catch {
      case e: Throwable =>
        // roll back to a byte-identical pool: orphaned moves deleted
        moved.foreach(p => try fs.delete(p._1, false) catch { case _: Throwable => () })
        throw e
    }
  }

  /** A concurrent commit raced this one and touched the same files or
    * an incompatible schema — the change CANNOT be rebased onto the
    * new head. The loser must re-plan from the current head (re-read,
    * re-merge) — retrying the same commit verbatim would lose the
    * winner's update.
    *
    * `retryableByAppend` (r12) marks the two conflict shapes a blind
    * replace-by-pk batch can absorb WITHOUT a re-plan by committing
    * through [[upsertAppend]] instead (the result equals the serial
    * winner-then-batch order a re-plan would compute): a concurrent
    * rewrite of a shared file, and a concurrent tombstone. Schema /
    * rename / partition-layout conflicts stay re-plan-only.
    */
  final case class CommitConflictException(msg: String,
                                           retryableByAppend: Boolean = false)
    extends RuntimeException(msg)

  /** Run a snapshot-op body whose lazily-executed scans reference the
    * resolved base manifest; if a scan fails on a MISSING FILE while
    * the head has MOVED past `baseV`, the plan was stale — a
    * concurrent commit dereferenced the file and the refcount vacuum
    * reclaimed it between this op's plan and its execution (the MVCC
    * read-vs-vacuum window every snapshot store has; Delta surfaces
    * the same as a stale-snapshot read). Rethrown as
    * [[CommitConflictException]] so the caller's re-plan loop absorbs
    * it like any commit race. With an UNMOVED head a missing file is
    * real corruption and propagates untouched.
    */
  private[operators] def staleReadAsConflict[T](fs: FileSystem, root: Path,
                                                baseV: Long)(f: => T): T =
    try f catch {
      case e: Throwable if isMissingFileError(e) &&
          (try committed(fs, root).lastOption.exists(_._1 != baseV)
           catch { case scala.util.control.NonFatal(_) => false }) =>
        throw CommitConflictException(
          s"stale snapshot read against v$baseV of $root — a concurrent " +
            "commit dereferenced a planned file and vacuum reclaimed it; " +
            "re-plan against the new head (" +
            e.getMessage.linesIterator.take(1).mkString + ")")
    }

  private def isMissingFileError(t: Throwable): Boolean = {
    var c: Throwable = t
    var depth = 0
    while (c != null && depth < 12) {
      val m = c.getMessage
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          (m != null && (m.contains("FAILED_READ_FILE") ||
            m.contains("FILE_NOT_EXIST") || m.contains("does not exist"))))
        return true
      c = c.getCause
      depth += 1
    }
    false
  }

  private val LockName = "_commit.lock"
  /** A lock older than this is a crashed holder — broken by the next
    * acquirer. Generous: commit = one manifest write + marker create
    * + vacuum (metadata ops), never a data write.
    */
  private val StaleLockMs: Long = 60_000L
  private val AcquireTimeoutMs: Long = 120_000L

  /** Serialize the COMMIT step (never data writes — those stage
    * outside the committed membership) across concurrent writers: an
    * atomic lock-file create at the table root ([[atomicCreate]] —
    * NOT `fs.create(overwrite=false)`, which is non-atomic on the
    * local filesystem). Version allocation, conflict checks and
    * vacuum all run under it, which is what makes [[commitRebase]]'s
    * head inspection race-free. Crashed holders are detected by lock
    * age and broken; a survivor that lost its lock to a stale-break
    * still fails LOUDLY on the manifest's own create-exclusive
    * backstop rather than corrupting membership.
    */
  private def withCommitLock[A](fs: FileSystem, root: Path)(f: => A): A = {
    fs.mkdirs(root)
    val lock = new Path(root, LockName)
    val deadline = System.currentTimeMillis() + AcquireTimeoutMs
    var held = false
    while (!held) {
      if (atomicCreate(fs, lock)) held = true
      else {
        val stale =
          try System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime > StaleLockMs
          catch { case scala.util.control.NonFatal(_) => false }
        if (stale) breakStaleLock(fs, root, lock)
        else if (System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"could not acquire commit lock $lock within ${AcquireTimeoutMs} ms")
        else Thread.sleep(20)
      }
    }
    // HEARTBEAT lease: refresh the lock's mtime while held, so the
    // age-based stale break only ever fires on a DEAD holder — a live
    // commit stalled by GC keeps its lease as long as this daemon
    // breathes. Commits are sub-second metadata ops; the heartbeat is
    // belt-and-braces, and the manifest create-exclusive remains the
    // loud backstop if both layers are defeated. Transient setTimes
    // failures are swallowed PER ITERATION (the beat keeps beating —
    // one hiccup must not silently convert a live holder into a
    // stale-looking one for the rest of the commit); only interrupt
    // (commit finished) exits the loop.
    val beat = new Thread(() => {
      var run = true
      while (run) {
        try {
          Thread.sleep(StaleLockMs / 6)
          fs.setTimes(lock, System.currentTimeMillis(), -1)
        } catch {
          case _: InterruptedException => run = false
          case scala.util.control.NonFatal(_) =>
            // an interrupt DURING setTimes surfaces as an arbitrary IO
            // failure with the flag set — honor it, else keep beating
            if (Thread.currentThread().isInterrupted) run = false
        }
      }
    })
    beat.setDaemon(true)
    beat.start()
    try f finally {
      beat.interrupt()
      try fs.delete(lock, false) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Break a crashed holder's lock by RENAME-to-tombstone, not delete
    * (r12): two waiters can both observe a stale mtime, and with a
    * plain delete the slower one could remove a FRESH lock the faster
    * one had already re-created in the stat-to-delete window — two
    * live commit-lock holders at once. Rename arbitrates: the lock
    * file can move to exactly one breaker's unique tombstone name, so
    * only one of N concurrent breakers proceeds past this point. The
    * residual window (this breaker's stat saw the OLD lock but its
    * rename caught a fresh one that slipped in between) is detected
    * on the STOLEN file — rename preserves mtime — and the live
    * holder's lock is put back. The manifest/marker create-exclusive
    * pair remains the loud last arbiter behind all of this.
    */
  private def breakStaleLock(fs: FileSystem, root: Path, lock: Path): Unit = {
    val tomb = new Path(root,
      s"$LockName.broken.${System.nanoTime()}.${java.util.UUID.randomUUID()}")
    val renamed =
      try fs.rename(lock, tomb)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!renamed) return // another breaker won, or the holder finished
    val stolenFresh =
      try System.currentTimeMillis() -
        fs.getFileStatus(tomb).getModificationTime <= StaleLockMs
      catch { case scala.util.control.NonFatal(_) => false }
    if (stolenFresh) {
      // a breaker+acquirer cycle slipped a LIVE lock under the path
      // between our stat and our rename — restore it; if the path was
      // re-taken meanwhile, drop the stolen copy (the displaced
      // holder's commit still fails loudly on the manifest backstop
      // if it ever collides)
      val restored =
        try fs.rename(tomb, lock)
        catch { case scala.util.control.NonFatal(_) => false }
      if (!restored)
        try fs.delete(tomb, false) catch { case scala.util.control.NonFatal(_) => () }
    } else {
      try fs.delete(tomb, false) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Vacuum under the commit lock — the entry point for STANDALONE
    * retention trims (CLI `--vacuum`). Commit-time vacuums already run
    * locked inside [[commitLocked]]; an unlocked standalone sweep
    * could race a live writer and delete its manifest-written,
    * marker-pending version dir mid-commit (the exact window the lock
    * closes).
    */
  def vacuumLocked(fs: FileSystem, root: Path, keepVersions: Int,
                   fullSweep: Boolean = true): Unit =
    withCommitLock(fs, root)(vacuum(fs, root, keepVersions, fullSweep))

  /** Commit a new version whose membership is `m.entries`, then vacuum
    * to `keepVersions` committed generations (data files refcounted
    * across every retained manifest). Returns the version number.
    * REPLACE semantics under concurrency: allocates the next version
    * whatever the head is — the documented last-writer-wins contract
    * of a blind full overwrite (the loser's version stays retained
    * history). Incremental writers use [[commitRebase]] instead.
    */
  private[graft] def commitVersion(fs: FileSystem, root: Path,
                                       m: Manifest, keepVersions: Int): Long =
    withCommitLock(fs, root)(commitBlindLocked(fs, root, m, keepVersions))

  /** A BLIND commit (full membership `m`, header from `m`: overwrite,
    * rename/drop/widen column, a commit group's fresh table) is its
    * diff against the resolved head, committed through [[commitLocked]]
    * like any incremental change. A CHANGED entry (same rel, different
    * metadata — envelope stamping, seq restamp) is remove+add.
    * Case-class equality is the diff identity — O(n) comparisons with
    * zero string building. An entry whose exotic cols/env names the
    * line format drops compares unequal against its normalized
    * readback and emits a spurious remove+add of the same rendered
    * line — harmless (the resolution is identical). No resolvable head
    * (first commit, dir-protocol history) commits a checkpoint.
    */
  private def commitBlindLocked(fs: FileSystem, root: Path,
                                m: Manifest, keepVersions: Int): Long = {
    require(m.entries.map(_.rel).distinct.size == m.entries.size,
      s"duplicate pool rels in commit membership under $root")
    val head = committed(fs, root).lastOption.flatMap { case (hv, hdir) =>
      (try resolvedFor(fs, hdir)
       catch { case scala.util.control.NonFatal(_) => None }).map(hv -> _)
    }
    val tree = head.fold(scala.collection.immutable.TreeMap.empty[String, Entry])(_._2.tree)
    val newByRel = m.entries.iterator.map(e => e.rel -> e).toMap
    val removed = tree.iterator.collect {
      case (r, e) if !newByRel.get(r).contains(e) => r
    }.toSet
    val added = m.entries.filterNot(e => tree.get(e.rel).contains(e))
    commitLocked(fs, root, head, removed, added, m, keepVersions,
      blind = Some(m.entries))
  }

  /** OPTIMISTIC incremental commit (the Delta/Iceberg retry shape):
    * the caller planned `removedRels`/`added` against `baseVersion`;
    * if the head moved meanwhile, the change REBASES onto the new
    * head when it provably does not conflict — every removed rel must
    * still be a head member (a missing one means a concurrent commit
    * rewrote the same file: true conflict, loud
    * [[CommitConflictException]]), the partition layout must agree,
    * and schema evolutions merge by name (same-name/different-type is
    * a conflict). Non-conflicting concurrent pairs therefore BOTH
    * land: disjoint pruned upserts, a compaction racing an append, a
    * DV delete racing a merge. All head inspection runs under the
    * commit lock, so the check-then-commit window is closed.
    *
    * `baseDeleteRels` (r12, ADVICE) marks callers whose REWRITTEN rows
    * assert new values (merges): Some(the base manifest's DV rels)
    * makes a tombstone committed CONCURRENTLY (a head delete entry
    * absent from that base set) a loud conflict — rebasing would keep
    * the racer's tombstone in the manifest, where it anti-joins the
    * rewritten files at read and silently deletes keys this commit
    * just upserted (the batch-write-wins contract broken). The re-plan
    * re-reads through the new tombstones and re-asserts. None (the
    * default) keeps the compose behavior for callers whose output
    * rows carry no new values — DV deletes (delete-after-anything
    * serializes correctly), compaction and materialization (rewritten
    * rows are bit-copies, so a surviving newer tombstone applying to
    * them IS the serial delete-after order).
    */
  private[graft] def commitRebase(fs: FileSystem, root: Path,
                                  baseVersion: Long,
                                  removedRels: Set[String],
                                  added: Seq[Entry],
                                  schemaDdl: String,
                                  partitionBy: Seq[String],
                                  keepVersions: Int,
                                  baseDeleteRels: Option[Set[String]] = None,
                                  note: Option[String] = None): Long =
    withCommitLock(fs, root) {
      val (hv, head, outDdl) = rebaseChecksLocked(fs, root, baseVersion,
        removedRels, schemaDdl, partitionBy, baseDeleteRels)
      commitLocked(fs, root, Some((hv, head)), removedRels, added,
        rebaseHeader(head, outDdl, partitionBy, note), keepVersions)
    }

  /** The header of an incremental commit: its (merged) schema and the
    * head's aliases and dropped names. A note marks ITS commit only —
    * never inherited.
    */
  private def rebaseHeader(head: Resolved, ddl: String, partitionBy: Seq[String],
                           note: Option[String] = None): Manifest =
    Manifest(ddl, partitionBy, Nil, aliases = head.hdr.aliases,
      dropped = head.hdr.dropped, note = note)

  /** The head inspection + conflict arbitration of [[commitRebase]],
    * factored out (r14) so a COMMIT GROUP ([[commitGroup]]) can check
    * every participant before its roll-forward point. Must run under
    * the table's commit lock. Returns (head version, head resolution,
    * merged schema DDL) for [[commitLocked]].
    */
  private def rebaseChecksLocked(fs: FileSystem, root: Path,
                                 baseVersion: Long,
                                 removedRels: Set[String],
                                 schemaDdl: String,
                                 partitionBy: Seq[String],
                                 baseDeleteRels: Option[Set[String]])
      : (Long, Resolved, String) = {
      val (hv, hdir) = committed(fs, root).lastOption.getOrElse(
        throw CommitConflictException(
          s"no committed head under $root to rebase onto"))
      // resolve the head WITHOUT materializing its entry list — every
      // check below reads the header or probes the membership tree,
      // so an incremental commit against a 10⁶-file table costs
      // O(changed · log n) driver work, not O(table)
      val head = resolvedFor(fs, hdir).getOrElse(
        throw CommitConflictException(
          s"head v$hv of $root has no manifest (dir-protocol history) — " +
            "cannot rebase an incremental commit"))
      val mh = head.hdr
      if (mh.partitionBy != partitionBy)
        throw CommitConflictException(
          s"partition layout changed concurrently: planned ${partitionBy
            .mkString(",")}, head has ${mh.partitionBy.mkString(",")}")
      if (hv != baseVersion) {
        val missing = removedRels.filterNot(head.hasRel)
        if (missing.nonEmpty)
          throw CommitConflictException(
            s"concurrent commit v$hv rewrote file(s) this change also " +
              s"touches: ${missing.toSeq.sorted.take(5).mkString(", ")}" +
              (if (missing.size > 5) s" (+${missing.size - 5} more)" else "") +
              " — re-plan against the new head",
            retryableByAppend = true)
        baseDeleteRels.foreach { baseDels =>
          val newTombs = head.deleteRels
            .filterNot(r => baseDels.contains(r) || removedRels.contains(r))
            .toSeq
          if (newTombs.nonEmpty)
            throw CommitConflictException(
              s"concurrent commit(s) up to v$hv added deletion vector(s) " +
                s"this merge did not read: ${newTombs.sorted.take(5)
                  .mkString(", ")}" +
                (if (newTombs.size > 5) s" (+${newTombs.size - 5} more)" else "") +
                " — rebasing would exempt the merge's re-asserted survivor " +
                "rows from a delete that should still apply to them; " +
                "re-plan against the new head",
              retryableByAppend = true)
        }
      }
      // a COLUMN RENAMED concurrently is a conflict for any rebase that
      // still carries the old name: name-based schema merge would
      // re-append the dead physical column next to its renamed self
      val ourFields = parseDdl(schemaDdl).fieldNames.toSet
      val headFields = mh.schema.fieldNames.toSet
      val renamedUnderUs = mh.aliases.collect {
        case (po, ln) if ourFields.contains(po) && !headFields.contains(po) =>
          s"$po→$ln"
      }
      if (renamedUnderUs.nonEmpty)
        throw CommitConflictException(
          s"column(s) renamed concurrently (${renamedUnderUs.mkString(", ")}) " +
            "— re-plan against the new head")
      val outDdl = mergeSchemaDdl(schemaDdl, mh.schemaDdl)
      // re-introducing a DROPPED name through a widening is refused
      // PERMANENTLY (IllegalArgumentException, not a re-plannable
      // conflict): old pool files still carry the column physically,
      // so reads under the re-added name would resurrect their stale
      // values instead of serving NULLs
      val resurrect = (parseDdl(outDdl).fieldNames.toSet --
        headFields).intersect(mh.dropped.toSet)
      require(resurrect.isEmpty,
        s"column(s) ${resurrect.toSeq.sorted.mkString(", ")} were DROPPED " +
          "from this table and retained files still carry them physically " +
          "— re-adding the name would resurrect stale values; use a " +
          "different name or a full rewrite")
      (hv, head, outDdl)
    }

  /** THE commit sequence — blind ([[commitBlindLocked]]) and
    * incremental ([[commitRebase]], commit groups) commits alike. The
    * caller holds the commit lock and has arbitrated conflicts; `head`
    * is the resolved head the change (`removedRels` → `added`) was
    * planned against, None when there is none (first commit). Stamps
    * and sorts only the ADDED entries, applies the change to the
    * head's persistent tree, and writes the next version's backing
    * file: an O(changed) `_MANIFEST_DELTA` (r13 — the Delta-log
    * "commit carries actions, not a snapshot" shape) while the chain
    * stays under [[CheckpointEvery]] and the change is smaller than
    * the membership, else a checkpoint — a `_MANIFEST_LIST` reusing
    * the chain's clean parts from [[ListCheckpointMin]] entries, the
    * text `_MANIFEST` below. Then the marker, the re-verify, the
    * chained cache entry, and an incremental vacuum.
    *
    * `hdr` supplies the new version's header (its entries are
    * ignored). `blind` is a blind commit's full intended membership:
    * the applied tree must equal it, stamped — the in-memory half of
    * the proof that the resolution equals what the caller meant (the
    * backing file's round-trip is the other half).
    */
  private def commitLocked(fs: FileSystem, root: Path,
                           head: Option[(Long, Resolved)],
                           removedRels: Set[String], added: Seq[Entry],
                           hdr: Manifest, keepVersions: Int,
                           blind: Option[Seq[Entry]] = None): Long = {
    val next = Versioned.list(fs, root).map(_._1).maxOption.getOrElse(0L) + 1
    val vdir = new Path(root, f"_v_$next%020d")
    // stamp FRESH entries (seq == UnsetSeq) with this commit's
    // version — the sequence number tombstone applicability compares
    // on. Carried entries (from a base manifest, or content-preserving
    // rewrites that inherited their sources' seq) keep theirs.
    // CANONICAL rel order (r13): rels are unique within a version.
    def stamp(es: Seq[Entry]): Seq[Entry] =
      es.map(e => if (e.seq < 0) e.copy(seq = next) else e).sortBy(_.rel)
    val stampedAdded = stamp(added)
    val base = head.fold(scala.collection.immutable.TreeMap.empty[String, Entry])(_._2.tree)
    // membership invariants at O(changed · log n): every removed rel
    // is a head member (commitRebase verified this for rebases; verify
    // unconditionally — deleting a non-member would silently diverge
    // the tree from the written delta), every added rel is FRESH
    // (or a same-commit replace of a removed one)
    val notMembers = removedRels.filterNot(base.contains)
    require(notMembers.isEmpty,
      s"removed rel(s) not in head membership: ${notMembers.take(5).mkString(", ")}")
    val dup = stampedAdded.iterator.map(_.rel)
      .filter(r => base.contains(r) && !removedRels.contains(r)).toSeq
    require(dup.isEmpty,
      s"duplicate pool rels in commit at $vdir: ${dup.take(5).mkString(", ")}")
    require(stampedAdded.map(_.rel).distinct.size == stampedAdded.size,
      s"duplicate rels within the added set at $vdir")
    // stamp the commit instant INTO the header: filesystem mtimes do
    // not survive a copy/restore of the table, a recorded field does
    val h = hdr.copy(entries = Nil, commitTsMillis = Some(System.currentTimeMillis()))
    val changed = removedRels.size + stampedAdded.size
    val tree = applyDelta(base, removedRels, stampedAdded)
    val deltaOn = head.filter { case (_, hd) =>
      hd.depth + 1 < CheckpointEvery && changed < math.max(tree.size, 1) }
    // part-reuse seed for a LIST checkpoint: the head chain's dirty
    // rels plus this commit's own
    val nextParts = head.flatMap(_._2.parts).map { case (refs, dirty) =>
      (refs, dirty ++ removedRels ++ stampedAdded.iterator.map(_.rel)) }
    fs.mkdirs(vdir)
    val listed = deltaOn match {
      case Some((hv, _)) =>
        writeExclusive(fs, new Path(vdir, DeltaName),
          renderDelta(h, hv, removedRels.toSeq.sorted, stampedAdded), "manifest delta")
        None
      case None if tree.size >= ListCheckpointMin =>
        val parts = writeListParts(fs, root, vdir, tree, nextParts)
        writeExclusive(fs, new Path(vdir, ListName), renderList(h, parts._1),
          "manifest list")
        Some(parts)
      case None =>
        writeManifest(fs, vdir, h.copy(entries = tree.valuesIterator.toVector))
        None
    }
    val backing = if (deltaOn.isDefined) DeltaName
      else if (listed.isDefined) ListName else ManifestName
    // COMMIT POINT: one atomic create — no reader can observe a
    // version whose manifest is not fully written. atomicCreate, not
    // fs.create(overwrite=false): on the local filesystem the latter
    // is check-then-act, and this marker is the LAST arbiter if the
    // lock was ever defeated — it must lose loudly, never both win.
    require(atomicCreate(fs, new Path(vdir, Versioned.Marker)),
      s"commit marker collision at $vdir — a concurrent writer defeated " +
        "the commit lock; this commit did NOT land, re-plan and retry")
    // RE-VERIFY under the fresh marker (r12): if every lock layer was
    // defeated, a racing holder's vacuum can delete this writer's
    // manifest-written-but-unmarked version dir, after which the
    // marker create above (atomicCreate mkdirs the parent) would
    // otherwise publish a MARKER-ONLY version — an unreadable head
    // instead of the promised loud failure. Delta: the delta file
    // round-trips (O(changed)) AND the base backing file is
    // stat-identical to the resolution this commit chained from (its
    // content was verified at ITS commit). List: the list round-trips
    // and each FRESH part stats to its recorded length — REUSED parts
    // were verified at THEIR commit, parts are immutable, and the parts
    // GC keeps anything referenced by ANY version dir's list
    // (marker-pending included). Text: full readback compare. Every
    // compare is NORMALIZED (r12 ADVICE): the line format drops
    // separator-bearing names, so the compare is "did my bytes
    // survive", not "is the format lossless".
    val ok =
      try blind.forall(es => tree.valuesIterator.sameElements(stamp(es))) &&
        (deltaOn match {
          case Some((hv, hd)) =>
            val dp = new Path(vdir, DeltaName)
            val d = parseDelta(readText(fs, dp), dp)
            val (bl, bmt) = statOrNeg(fs,
              new Path(new Path(root, f"_v_$hv%020d"), hd.backing))
            d.baseV == hv && d.removed == removedRels &&
              sameEntries(d.added, stampedAdded) && sameHeader(d.hdr, h) &&
              bl == hd.len && bmt == hd.mtime
          case None => listed match {
            case Some((refs, fresh)) =>
              listHeader(fs, vdir).exists { case (h2, refs2) =>
                refs2 == refs && sameHeader(h2, h) &&
                  refs2.forall(r => !fresh.contains(r.name) ||
                    statOrNeg(fs, new Path(partsDir(root), r.name))._1 == r.len)
              }
            case None => fullManifest(fs, vdir).exists(read =>
              sameHeader(read, h) &&
                sameEntries(read.entries, tree.valuesIterator.toVector))
          }
        })
      catch { case scala.util.control.NonFatal(_) => false }
    if (!ok) {
      try fs.delete(vdir, true) catch { case scala.util.control.NonFatal(_) => () }
      // a failed resolution may have been cached under the (briefly
      // marker-carrying) vdir — version numbers of deleted dirs get
      // reallocated, so a stale cache row would serve wrong membership
      resolvedCache.synchronized(resolvedCache.remove(vdir.toString))
      throw CommitConflictException(
        s"commit verification failed at $vdir — the manifest vanished or " +
          "was altered between write and marker (a concurrent writer " +
          "defeated the commit lock); this commit did NOT land, re-plan " +
          "and retry")
    }
    // chain the new resolution off the head's tree — the next commit's
    // head lookup is a cache hit with zero manifest reads
    val (_, mk) = statOrNeg(fs, new Path(vdir, Versioned.Marker))
    val (l, mt) = statOrNeg(fs, new Path(vdir, backing))
    cachePut(vdir.toString,
      new Resolved(tree, h, deltaOn.fold(0)(_._2.depth + 1),
        backing, l, mt, mk, deltaOn.map(_._1),
        if (deltaOn.isDefined) changed + 1L else tree.size.toLong,
        readCommitUuid(fs, new Path(vdir, backing)),
        if (deltaOn.isDefined) nextParts
        else listed.map { case (refs, _) => (refs, Set.empty[String]) }))
    // EVERY commit vacuums incrementally (r15): dereferenced files via
    // the successor-diff candidates, crash orphans via the stage
    // journal — no pool listing on any commit class. The standalone
    // `--vacuum --full` audit keeps the full listing.
    vacuum(fs, root, keepVersions, fullSweep = false)
    next
  }

  /** Merge two evolved-from-a-common-base schemas by name: head
    * fields first, then ours not present in head (both sides only
    * ever APPEND columns — the widening contract). A shared name with
    * a different type is a true conflict.
    */
  private def mergeSchemaDdl(ours: String, heads: String): String =
    if (ours == heads) ours
    else {
      val a = parseDdl(heads)
      val b = parseDdl(ours)
      val clash = b.fields.filter(f =>
        a.fields.exists(g => g.name == f.name && g.dataType != f.dataType))
      if (clash.nonEmpty)
        throw CommitConflictException(
          s"schema evolved incompatibly on ${clash.map(_.name).mkString(",")}: " +
            s"head $heads vs planned $ours")
      StructType(a.fields ++
        b.fields.filterNot(f => a.fieldNames.contains(f.name))).toDDL
    }

  // ── multi-table commit groups (r14) ──────────────────────────────

  /** One participant of a [[commitGroup]]: an incremental change
    * (`removedRels` → `added`) planned against `baseV` of `root`, the
    * same shape [[commitRebase]] takes. Staged pool files must already
    * be in the table's `_data` pool (the stage* helpers do this).
    *
    * `expectV` (r16 — closes the r15 witness residual window): the
    * participant's EXPECTED committed version, computed at intent
    * time (deterministic: the locks are held, so the target version
    * is the table's next number). Recovery treats "version `expectV`
    * exists committed and its OWN membership carries every added rel"
    * as applied-proof — robust against a compaction racing in between
    * the crash and recovery (the head membership loses the rels, the
    * historical version's manifest never does), and safe against a
    * foreign commit landing at the same number after the crash (a
    * foreign commit cannot contain this group's UUID-fresh pool
    * rels). −1 on pre-r16 intents → witness/heuristic as before.
    */
  final case class StagedCommit(root: String, baseV: Long,
                                removedRels: Set[String],
                                added: Seq[Entry],
                                schemaDdl: String,
                                partitionBy: Seq[String],
                                keepVersions: Int,
                                expectV: Long = -1L)

  /** Range-lay `df` on `sortKeys` for tight per-file key envelopes.
    * SMALL frames (plan-stats size estimate ≤ 8 MB — r16, the cdc-gate
    * job audit) collapse to ONE sorted task: the range partitioner's
    * separate sampling job disappears and the layout is a single tight
    * run (`maxRecordsPerFile` still splits it into consecutive
    * chunks, so file-count-dependent behavior is unchanged). The
    * estimate only picks the path — an overestimate pays the sampling
    * job it always paid, an underestimate writes one larger file.
    * PARTITIONED writes never take the one-task path (r17): a single
    * dynamic-partition writer serializes every hive dir through one
    * task — the parallel range layout is the right shape at any size.
    */
  private def sortedLayout(df: DataFrame, sortKeys: Seq[String],
                           partitioned: Boolean = false,
                           explicitParts: Option[Int] = None): DataFrame =
    if (sortKeys.isEmpty) df
    else if (explicitParts.exists(_ > 1))
      // r18 (guide §2.6/§6): a MANY-FILE write — the caller knows the
      // row count and `maxRecordsPerFile` will split the output into
      // explicitParts-or-more files. The one-task path below would
      // write them all SERIALLY (measured 1.0 s per 24-file seed,
      // 2.7 s for a 250-file layout at sf0.1); an explicit range
      // partition count spreads file creation across the executor
      // cores while keeping the layout contract — ranges are disjoint
      // and consecutive, so per-file key envelopes stay tight and
      // non-overlapping exactly as the one-task run's chunks were.
      // The explicit count also makes the layout independent of
      // `spark.sql.shuffle.partitions`, so it parallelizes even under
      // the MaintProfile's 1-partition profile.
      df.repartitionByRange(explicitParts.get, sortKeys.map(col).toIndexedSeq: _*)
        .sortWithinPartitions(sortKeys.map(col).toIndexedSeq: _*)
    else {
      val est =
        try df.queryExecution.optimizedPlan.stats.sizeInBytes
        catch { case scala.util.control.NonFatal(_) => BigInt(-1) }
      if (!partitioned && est >= 0 && est <= (8L << 20))
        df.coalesce(1).sortWithinPartitions(sortKeys.map(col).toIndexedSeq: _*)
      else
        df.repartitionByRange(sortKeys.map(col).toIndexedSeq: _*)
          .sortWithinPartitions(sortKeys.map(col).toIndexedSeq: _*)
    }

  /** Range-partition count for a MANY-FILE write, or None to keep the
    * status-quo layout decision. Some(n) only when the caller supplied
    * the batch row count AND `maxRecordsPerFile` implies at least
    * [[ManyFileThreshold]] output files: n = min(expected files,
    * defaultParallelism) — each task writes ~1 file (more when files
    * exceed cores), instead of one task writing every file serially.
    * Scale-adaptive by construction: the cap follows the session's
    * core count, never a constant.
    */
  private[operators] def manyFileParts(spark: SparkSession,
                                       rowsHint: Option[Long],
                                       maxRecordsPerFile: Long): Option[Int] =
    rowsHint match {
      case Some(rows) if maxRecordsPerFile > 0 && rows > 0 =>
        val files = ((rows + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
        if (files >= ManyFileThreshold)
          Some(math.min(files, spark.sparkContext.defaultParallelism))
        else None
      case _ => None
    }

  /** Below this expected file count a one-task write stays cheaper
    * than the range sampler job the parallel layout pays.
    */
  private[operators] val ManyFileThreshold = 8

  /** Stage a FULL-REPLACE of `rootStr` for a COMMIT GROUP (r15): write
    * + pool the frame with the same layout knobs and manifest key
    * envelopes as [[overwrite]], but return the staged participant
    * instead of committing — a multi-table bootstrap (e.g. the CDC
    * signature index's shingles + buckets) lands atomically through
    * ONE [[commitGroup]] instead of two independent overwrite+commit
    * cycles, and a crash can no longer leave one table rebuilt and
    * its sibling stale. `baseV == -1` marks a FRESH table (first
    * commit); otherwise `removedRels` carries the staging-time head's
    * full membership (replace semantics — a head that moves before
    * the group commits is arbitrated as a conflict under the lock).
    * NOTE: unlike [[overwrite]], a replace through the group's delta
    * path merges schemas BY NAME with the head (it cannot clear
    * aliases/dropped markers) — callers changing a table's shape keep
    * using [[overwrite]].
    */
  private[graft] def stageOverwrite(spark: SparkSession, df: DataFrame,
                                    rootStr: String,
                                    partitionBy: Seq[String] = Nil,
                                    maxRecordsPerFile: Long = 0,
                                    indexBy: Seq[String] = Nil,
                                    keepVersions: Int = 2,
                                    statsCols: Seq[String] = Nil): StagedCommit = {
    val staged = stageReplace(spark, df, rootStr, partitionBy,
      maxRecordsPerFile, indexBy, keepVersions, statsCols, None)
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committed(fs, root).lastOption match {
      case Some((hv, hdir)) =>
        staged.copy(baseV = hv, removedRels = manifestAt(fs, hdir)
          .map(_.entries.map(_.rel).toSet).getOrElse(Set.empty[String]))
      case None => staged
    }
  }

  /** The staging half shared by [[overwrite]] and [[stageOverwrite]]:
    * range-lay `df` on `indexBy`, stage it into the pool with key
    * envelopes for the layout keys plus `statsCols`, and return it as
    * a fresh-table participant (`baseV = -1`, nothing removed).
    */
  private def stageReplace(spark: SparkSession, df: DataFrame, rootStr: String,
                           partitionBy: Seq[String], maxRecordsPerFile: Long,
                           indexBy: Seq[String], keepVersions: Int,
                           statsCols: Seq[String],
                           rowsHint: Option[Long]): StagedCommit =
      // metadata-scale profile (r17): a KB-scale staged write runs with
      // AQE off + 1-partition shuffles — the job profile the r16 gate
      // scoped by hand now comes with the entry point. PARTITIONED
      // writes never engage: 1-partition shuffles would pin the
      // dynamic-partition write to one task
      MaintProfile.scoped(spark,
        MaintProfile.small(df) && partitionBy.isEmpty) {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sweepStaleStages(fs, root)
    // parquet reads are all-nullable regardless of writer schema —
    // record the normalized form so round-trips compare equal
    val schemaDdl = StructType(
      df.schema.fields.map(_.copy(nullable = true))).toDDL
    val sortKeys = indexBy.filterNot(partitionBy.contains)
    val laid = sortedLayout(df, sortKeys, partitionBy.nonEmpty,
      manyFileParts(spark, rowsHint, maxRecordsPerFile))
    // key envelopes for the layout keys — `statsCols` covers callers
    // that pre-laid the frame themselves and pass indexBy = Nil
    val entries = withKeyEnvs(spark, dataDir(root),
      stageIntoPool(fs, root, laid, partitionBy, maxRecordsPerFile), df.schema,
      (sortKeys ++ statsCols).distinct.filterNot(partitionBy.contains))
    StagedCommit(rootStr, -1L, Set.empty, entries, schemaDdl, partitionBy,
      keepVersions)
  }

  private val GroupPrefix = "_GROUP_"
  private val GroupTag = "graft-commit-group-v1"
  private val GroupEnd = "#end"
  /** Applied-witness files (r15): `_GAPPLIED_<intentName>_<i>` beside
    * the intent, one per participant, written the moment its commit
    * lands. Recovery treats a witnessed participant as APPLIED without
    * consulting the current head membership — closing the r14 gap
    * where a stale intent surviving past a later compaction/vacuum
    * made a committed participant look unapplied (re-commit risk) or
    * tripped the partial-apply corruption error on a healthy group.
    */
  private val WitnessPrefix = "_GAPPLIED_"

  /** Test hook: simulate a crash after committing this many group
    * participants (−1 = off) — the crash-window proof for the
    * roll-forward recovery.
    */
  @volatile private[graft] var groupCrashAfterParts: Int = -1

  /** Test hook (r16): crash AFTER participant `i`'s commit landed but
    * BEFORE its witness was written — the r15 residual window the
    * expected-version proof closes. −1 = off.
    */
  @volatile private[graft] var groupCrashBeforeWitness: Int = -1

  /** ATOMIC MULTI-TABLE COMMIT (r14 — the Iceberg multi-table
    * transaction shape re-derived over plain storage): land one
    * incremental commit on EACH participant table such that, across
    * any crash, either every table eventually reflects its commit or
    * none does. The motivating consumer is the CDC-maintained dedup
    * signature index ([[graft.streaming.CdfStream.cdfToSignatureIndex]]),
    * whose per-increment writes previously paid 4 independent commits
    * and left a crash window where its two tables diverged.
    *
    * Protocol (write-ahead intent + roll-forward):
    *   1. complete any pending group under `coordDir` ([[recoverGroups]]);
    *   2. take every participant's commit lock in ROOT-SORTED order
    *      (deadlock-free against any other group over the same tables);
    *   3. run the full [[commitRebase]] conflict arbitration for every
    *      participant FIRST — a conflict aborts with zero commits and
    *      the intent never written (the "none" branch);
    *   4. write the GROUP INTENT file — one create-exclusive record of
    *      every participant's exact delta (removed rels + added entry
    *      lines + schema), terminated by an end marker so a torn write
    *      is detectable. THIS IS THE ATOMICITY POINT: once the intent
    *      is durable, the group WILL land — a crash at any later step
    *      is completed by [[recoverGroups]] (run by the next group
    *      commit over the same coordinator, or explicitly at consumer
    *      startup);
    *   5. commit each participant via [[commitLocked]] (the locks
    *      from step 2 are still held, so the checked heads cannot
    *      move);
    *   6. delete the intent.
    *
    * Crash windows: before the end marker — no table committed, the
    * torn intent is age-gated away and staged pool files are swept as
    * orphans by the next full-sweep vacuum (neither lands); after the
    * marker — recovery detects per-table applied state by MEMBERSHIP
    * (all added rels present, removed rels gone — pool rels are
    * UUID-fresh, so presence is proof) and commits exactly the
    * unapplied remainder (both land). Readers between the two commits
    * of a live group observe table A ahead of table B for the
    * milliseconds the group is in flight — single-table snapshot
    * isolation is preserved per table, and the consumers this serves
    * (content-idempotent index maintenance) tolerate the transient
    * skew by construction; a coordinator-checking read path would buy
    * cross-table serializability at a per-read coordination cost no
    * 100 TB scan wants to pay.
    *
    * Returns the committed version per participant, in input order.
    */
  def commitGroup(conf: org.apache.hadoop.conf.Configuration,
                  coordDir: String, parts: Seq[StagedCommit]): Seq[Long] = {
    require(parts.nonEmpty, "empty commit group")
    require(parts.map(_.root).distinct.size == parts.size,
      "one participant per table — merge same-table changes into one part")
    parts.foreach(p => require(p.added.nonEmpty || p.removedRels.nonEmpty,
      s"degenerate participant for ${p.root}: nothing to commit"))
    recoverGroups(conf, coordDir)
    val sorted = parts.sortBy(_.root)
    val withFs = sorted.map(p =>
      (p, new Path(p.root).getFileSystem(conf)))
    val versions = withLocksOrdered(withFs.map { case (p, fs) =>
      (fs, new Path(p.root)) }) {
      val checked = withFs.map { case (p, fs) =>
        if (p.baseV < 0L) {
          // FRESH participant (first commit of a new table — the
          // grouped bootstrap shape): nothing to rebase; a head that
          // appeared since staging means another writer created the
          // table — abort with zero commits
          if (committed(fs, new Path(p.root)).nonEmpty)
            throw CommitConflictException(
              s"group participant ${p.root} was staged as a FRESH table " +
                "but a concurrent writer committed it first — re-plan")
          require(p.removedRels.isEmpty,
            s"fresh group participant ${p.root} cannot remove rels")
          (p, fs, -1L, None: Option[Resolved], p.schemaDdl)
        } else {
          val (hv, head, outDdl) = rebaseChecksLocked(fs, new Path(p.root),
            p.baseV, p.removedRels, p.schemaDdl, p.partitionBy, None)
          // pre-verify the membership invariants commitLocked would
          // enforce — HERE they must fail BEFORE the intent is durable,
          // so a conflicting group aborts with zero commits
          val notMembers = p.removedRels.filterNot(head.hasRel)
          require(notMembers.isEmpty, s"group participant ${p.root}: removed " +
            s"rel(s) not in head membership: ${notMembers.take(5).mkString(", ")}")
          val dup = p.added.map(_.rel)
            .filter(r => head.hasRel(r) && !p.removedRels.contains(r))
          require(dup.isEmpty, s"group participant ${p.root}: added rel(s) " +
            s"already members: ${dup.take(5).mkString(", ")}")
          (p, fs, hv, Some(head): Option[Resolved], outDdl)
        }
      }
      val cpath = new Path(coordDir)
      val cfs = cpath.getFileSystem(conf)
      val intent = writeGroupIntent(cfs, cpath, checked.map { case (p, fs, hv, _, outDdl) =>
        // EXPECTED target version (r16): deterministic under the held
        // lock — the table's next number at intent time. The commit
        // below computes the same value; recovery can therefore check
        // the recorded version's own membership as applied-proof.
        val expect = Versioned.list(fs, new Path(p.root)).map(_._1)
          .maxOption.getOrElse(0L) + 1
        p.copy(baseV = hv, schemaDdl = outDdl, expectV = expect) })
      // ── roll-forward point: from here the group lands, crash or not ──
      val out = checked.zipWithIndex.map { case ((p, fs, hv, headOpt, outDdl), i) =>
        if (groupCrashAfterParts >= 0 && i >= groupCrashAfterParts)
          throw new IllegalStateException(
            s"simulated crash after $i committed group participant(s)")
        val v = headOpt match {
          case Some(head) => commitLocked(fs, new Path(p.root), Some((hv, head)),
            p.removedRels, p.added, rebaseHeader(head, outDdl, p.partitionBy),
            p.keepVersions)
          case None => commitBlindLocked(fs, new Path(p.root),
            Manifest(p.schemaDdl, p.partitionBy, p.added), p.keepVersions)
        }
        // DURABLE APPLIED WITNESS (r15): recovery must distinguish
        // "committed, then compacted/vacuumed away" from "never
        // committed" without trusting the mutable head membership.
        // Best-effort by design: a lost witness degrades to the
        // EXPECTED-VERSION membership proof (r16 — the intent records
        // each participant's deterministic target version, and the
        // historical version's own manifest keeps the rels through any
        // later compaction), then to the head-membership heuristic.
        if (groupCrashBeforeWitness >= 0 && i >= groupCrashBeforeWitness)
          throw new IllegalStateException(
            s"simulated crash after participant $i committed, before " +
              "its witness")
        writeGroupWitness(cfs, cpath, intent.getName, i, p.root, v)
        p.root -> v
      }.toMap
      // crash hook value == parts.size: die after EVERY commit landed
      // but before the intent is cleaned — the stale-intent window the
      // witnesses exist for
      if (groupCrashAfterParts == checked.size)
        throw new IllegalStateException(
          s"simulated crash after all ${checked.size} group commits, " +
            "before intent cleanup")
      // advance the coordinator's consistent-read pins — only now,
      // with every participant committed (readers pinning these
      // versions can never observe a half-applied group)
      writeGroupVersions(cfs, cpath, out)
      try cfs.delete(intent, false)
      catch { case scala.util.control.NonFatal(_) => () }
      deleteGroupWitnesses(cfs, cpath, intent.getName)
      out
    }
    parts.map(p => versions(p.root))
  }

  /** Complete (or clean) every pending commit-group intent under
    * `coordDir`. Idempotent and safe to run any time — consumers call
    * it at startup and every [[commitGroup]] calls it first. Returns
    * the number of groups resolved (rolled forward or rolled back).
    *
    * Per intent: a TORN record (no end marker) proves no participant
    * committed — intent write strictly precedes every commit — so it
    * is deleted once older than the stage grace (its staged pool files
    * age out as orphans). A complete record is re-driven under the
    * participants' locks: each table is either APPLIED (all added rels
    * in the head membership, removed rels gone) or is committed now
    * from the recorded delta. A head that moved past the recorded base
    * re-arbitrates: pure-add participants (the maintainer's shape —
    * tombstones and appended batches remove nothing) rebase onto the
    * new head exactly as their live path would; a removal-bearing
    * participant whose base moved fails LOUDLY (re-running a stale
    * rewrite could drop the interleaved winner). If nothing applied
    * anywhere and a staged file has already been reclaimed, the group
    * rolls BACK (intent deleted — the "neither" branch); a partially
    * applied group with missing files is real corruption and errors.
    */
  def recoverGroups(conf: org.apache.hadoop.conf.Configuration,
                    coordDir: String): Int = {
    val cpath = new Path(coordDir)
    val cfs = cpath.getFileSystem(conf)
    if (!cfs.exists(cpath)) return 0
    var done = 0
    val intents = (try cfs.listStatus(cpath)
      catch { case scala.util.control.NonFatal(_) => Array.empty[org.apache.hadoop.fs.FileStatus] })
      .filter(s => s.isFile && s.getPath.getName.startsWith(GroupPrefix))
      .sortBy(_.getPath.getName)
    intents.foreach { st =>
      parseGroupIntent(cfs, st.getPath) match {
        case None => // torn: written before any commit — age-gated sweep
          if (System.currentTimeMillis() - st.getModificationTime > StageGraceMs) {
            try cfs.delete(st.getPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
            deleteGroupWitnesses(cfs, cpath, st.getPath.getName)
            done += 1
          }
        case Some(parts) =>
          // durable applied witnesses (r15) rank ABOVE the membership
          // heuristic: a participant whose commit landed stays applied
          // even after a later compaction rewrote (or vacuum
          // reclaimed) every rel the intent recorded — the exact shape
          // that previously re-committed a stale delta or raised the
          // partial-apply corruption error on a healthy group
          val witnessed = readGroupWitnesses(cfs, cpath, st.getPath.getName)
          val withFs = parts.sortBy(_.root).map(p =>
            (p, new Path(p.root).getFileSystem(conf)))
          withLocksOrdered(withFs.map { case (p, fs) => (fs, new Path(p.root)) }) {
            // versions this recovery can PROVE per participant —
            // witnessed, version-membership-proven (r16), or committed
            // right here; pins advance only when every participant's
            // version is known (stale but consistent beats fresh but
            // skewed)
            val proven = scala.collection.mutable.Map.empty[String, Long]
            witnessed.foreach { case (r, v) => proven(r) = v }
            val states = withFs.map { case (p, fs) =>
              val root = new Path(p.root)
              val headOpt = committed(fs, root).lastOption.flatMap {
                case (hv, hdir) => resolvedFor(fs, hdir).map(h => (hv, h))
              }
              // r16: the recorded EXPECTED version's own membership is
              // applied-proof that survives a later compaction/vacuum
              // rewriting the head (the historical manifest keeps the
              // rels), and rejects a foreign commit that landed at the
              // same number after a crash (it cannot carry this
              // group's UUID-fresh pool rels)
              val versionApplied = p.expectV >= 1 && {
                val evdir = new Path(root, f"_v_${p.expectV}%020d")
                (try fs.exists(new Path(evdir, Versioned.Marker))
                 catch { case scala.util.control.NonFatal(_) => false }) &&
                  resolvedFor(fs, evdir).exists(h =>
                    p.added.forall(e => h.hasRel(e.rel)) &&
                      !p.removedRels.exists(h.hasRel))
              }
              if (versionApplied && !witnessed.contains(p.root))
                proven(p.root) = p.expectV
              val applied = witnessed.contains(p.root) || versionApplied ||
                headOpt.exists { case (_, h) =>
                  p.added.forall(e => h.hasRel(e.rel)) &&
                    !p.removedRels.exists(h.hasRel)
                }
              val filesOk = applied || p.added.forall(e =>
                try fs.exists(new Path(dataDir(root), e.rel))
                catch { case scala.util.control.NonFatal(_) => false })
              (p, fs, headOpt, applied, filesOk)
            }
            if (states.forall(_._4)) () // every participant already landed
            else if (states.forall(s => !s._4) && states.exists(s => !s._5)) {
              // nothing landed anywhere and staged files are gone
              // (orphan-swept): the clean rollback branch — the group
              // never became visible on any table
              proven.clear() // nothing applied: the pins must not move
              ()
            } else {
              states.filterNot(_._4).foreach { case (p, fs, headOpt, _, filesOk) =>
                val root = new Path(p.root)
                require(filesOk, s"commit-group recovery: staged pool " +
                  s"file(s) of ${p.root} were reclaimed while a sibling " +
                  "participant already committed — the group can neither " +
                  "roll forward nor back; rebuild the derived table")
                if (p.baseV < 0L) {
                  // FRESH participant: first commit of a new table
                  if (headOpt.isEmpty)
                    proven(p.root) = commitBlindLocked(fs, root,
                      Manifest(p.schemaDdl, p.partitionBy, p.added),
                      p.keepVersions)
                  else throw new IllegalStateException(
                    s"commit-group recovery: ${p.root} was created " +
                      "concurrently under a pending fresh-table group — " +
                      "re-driving the recorded first commit could clobber " +
                      "it; repair manually")
                } else {
                val (hv, head) = headOpt.getOrElse(
                  throw new IllegalStateException(
                    s"commit-group recovery: no committed head under ${p.root}"))
                if (hv == p.baseV)
                  proven(p.root) = commitLocked(fs, root, Some((hv, head)),
                    p.removedRels, p.added,
                    rebaseHeader(head, p.schemaDdl, p.partitionBy), p.keepVersions)
                else if (p.removedRels.isEmpty) {
                  require(head.hdr.partitionBy == p.partitionBy,
                    s"commit-group recovery: partition layout of ${p.root} " +
                      "changed under the pending group")
                  val outDdl = mergeSchemaDdl(p.schemaDdl, head.hdr.schemaDdl)
                  proven(p.root) = commitLocked(fs, root, Some((hv, head)),
                    Set.empty, p.added, rebaseHeader(head, outDdl, p.partitionBy),
                    p.keepVersions)
                } else throw new IllegalStateException(
                  s"commit-group recovery: the head of ${p.root} moved past " +
                    s"the recorded base v${p.baseV} and the participant " +
                    "removes files — re-driving a stale rewrite could drop " +
                    "the interleaved commit; repair manually")
                }
              }
            }
            // advance the consistent-read pins iff EVERY participant's
            // landed version is proven (all witnessed, or witnessed +
            // re-committed here); heuristic-applied participants leave
            // the previous — consistent — pins in place
            if (parts.forall(p => proven.contains(p.root)))
              writeGroupVersions(cfs, cpath, proven.toMap)
            try cfs.delete(st.getPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
            deleteGroupWitnesses(cfs, cpath, st.getPath.getName)
            done += 1
          }
      }
    }
    done
  }

  /** Acquire each table's commit lock in the given (pre-sorted) order,
    * releasing in reverse on the way out.
    */
  private def withLocksOrdered[A](locks: Seq[(FileSystem, Path)])(f: => A): A =
    locks.toList match {
      case Nil => f
      case (fs, p) :: tail => withCommitLock(fs, p)(withLocksOrdered(tail)(f))
    }

  private val GroupVersionsName = "_GROUP_VERSIONS"
  private val GroupVersionsTag = "graft-group-versions-v1"

  /** Persist the coordinator's LAST-GROUP (table → version) pins
    * (r15 — BASELINE residual #3): written atomically (temp + rename)
    * only AFTER every participant committed, merging over earlier
    * groups' pins for tables this group didn't touch. A reader that
    * pins each table at its recorded version therefore sees a state
    * where every group either fully applied or not at all — never the
    * milliseconds-wide skew between a live group's two commits. A
    * crash before this write leaves the PREVIOUS pins: stale but
    * consistent, and the next group (or recovery with full version
    * knowledge) advances it.
    *
    * r16 (ADVICE): the read-merge-write runs under the COORDINATOR's
    * own commit lock — two concurrent groups over disjoint table sets
    * in one coordDir can no longer interleave and drop each other's
    * pin advance. Lock ordering is safe: both call sites (commitGroup,
    * recoverGroups) already hold their participant locks and take the
    * coordinator lock LAST. The publish prefers an OVERWRITING rename
    * (FileContext) so readers never observe a missing-pins window;
    * filesystems without overwrite-rename fall back to
    * delete-then-rename, which under the lock is the only writer.
    */
  private def writeGroupVersions(cfs: FileSystem, cpath: Path,
                                 versions: Map[String, Long]): Unit =
    try withCommitLock(cfs, cpath) {
      val merged = readGroupVersions(cfs, cpath) ++ versions
      val sb = new StringBuilder
      sb.append(GroupVersionsTag).append('\n')
      merged.toSeq.sortBy(_._1).foreach { case (r, v) =>
        sb.append(r).append('\t').append(v).append('\n') }
      sb.append(GroupEnd).append('\n')
      val tmp = new Path(cpath,
        s"._gver_${java.util.UUID.randomUUID().toString.replace("-", "")}")
      val out = cfs.create(tmp, true)
      try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val dst = new Path(cpath, GroupVersionsName)
      val overwrote =
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            cfs.getUri, cfs.getConf)
          fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      if (!overwrote) {
        try cfs.delete(dst, false) catch { case scala.util.control.NonFatal(_) => () }
        if (!cfs.rename(tmp, dst))
          try cfs.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The coordinator's recorded (table → version) pins; empty when
    * absent/torn.
    */
  def readGroupVersions(conf: org.apache.hadoop.conf.Configuration,
                        coordDir: String): Map[String, Long] = {
    val cpath = new Path(coordDir)
    readGroupVersions(cpath.getFileSystem(conf), cpath)
  }

  private def readGroupVersions(cfs: FileSystem,
                                cpath: Path): Map[String, Long] =
    try {
      val lines = readText(cfs, new Path(cpath, GroupVersionsName))
        .split("\n", -1)
      if (lines.isEmpty || lines(0) != GroupVersionsTag ||
          !lines.contains(GroupEnd)) Map.empty
      else lines.drop(1).takeWhile(_ != GroupEnd).flatMap { l =>
        l.split("\t", 2) match {
          case Array(r, v) => v.toLongOption.map(r -> _)
          case _ => None
        }
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** GROUP-CONSISTENT cross-table read (r15): pin every table the
    * coordinator tracks at its recorded last-group version — plain
    * time travel, zero per-read coordination with writers. A reader
    * between a live group's two commits sees either every table's
    * pre-state or every table's post-state, never the skew (the pins
    * only advance AFTER a group fully lands). Requires the maintained
    * tables' retention to keep the pinned versions (keepVersions ≥ 2,
    * the default). Returns root → pinned frame; empty if the
    * coordinator has no recorded pins yet.
    */
  def readGroupConsistent(spark: SparkSession,
                          coordDir: String): Map[String, DataFrame] =
    readGroupVersions(spark.sparkContext.hadoopConfiguration, coordDir)
      .map { case (root, v) => root -> readAt(spark, root, Some(v)) }

  /** One participant's applied witness: `root \t version`, created the
    * moment its commit lands. Failure is swallowed — the witness only
    * upgrades recovery's applied-proof from heuristic to durable.
    */
  private def writeGroupWitness(cfs: FileSystem, cpath: Path,
                                intentName: String, i: Int,
                                root: String, v: Long): Unit =
    try {
      val wp = new Path(cpath, s"$WitnessPrefix${intentName}_$i")
      val out = cfs.create(wp, true)
      try out.write(s"$root\t$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The witnessed (root → committed version) map of one intent. */
  private def readGroupWitnesses(cfs: FileSystem, cpath: Path,
                                 intentName: String): Map[String, Long] =
    (try cfs.listStatus(cpath)
     catch { case scala.util.control.NonFatal(_) =>
       Array.empty[org.apache.hadoop.fs.FileStatus] })
      .filter(s => s.isFile &&
        s.getPath.getName.startsWith(s"$WitnessPrefix${intentName}_"))
      .flatMap { s =>
        try readText(cfs, s.getPath).trim.split("\t", 2) match {
          case Array(root, v) => Some(root -> v.toLong)
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      }.toMap

  private def deleteGroupWitnesses(cfs: FileSystem, cpath: Path,
                                   intentName: String): Unit =
    try cfs.listStatus(cpath).foreach { s =>
      if (s.isFile &&
          s.getPath.getName.startsWith(s"$WitnessPrefix${intentName}_"))
        try cfs.delete(s.getPath, false)
        catch { case scala.util.control.NonFatal(_) => () }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Write the group intent create-exclusive; torn writes are
    * detectable by the missing end marker. Entry lines reuse the
    * manifest line format with an EXPLICIT raw seq prefix (staged
    * entries carry the [[UnsetSeq]] sentinel, which the manifest
    * format deliberately cannot express — parse normalization would
    * otherwise turn an unstamped tombstone into a legacy
    * apply-to-everything one).
    */
  private def writeGroupIntent(cfs: FileSystem, cpath: Path,
                               parts: Seq[StagedCommit]): Path = {
    val sb = new StringBuilder
    sb.append(GroupTag).append('\n')
    sb.append("#uuid=").append(java.util.UUID.randomUUID()).append('\n')
    parts.foreach { p =>
      sb.append("P\t").append(p.root).append('\t').append(p.baseV)
        .append('\t').append(p.keepVersions).append('\n')
      // r16: the participant's expected committed version — own line
      // (a 5th P-field would corrupt pre-r16 parsers' bounded split)
      if (p.expectV >= 0)
        sb.append("V\t").append(p.expectV).append('\n')
      sb.append("S\t").append(p.schemaDdl).append('\n')
      sb.append("C\t").append(p.partitionBy.mkString(",")).append('\n')
      p.removedRels.toSeq.sorted.foreach(r =>
        sb.append("R\t").append(r).append('\n'))
      p.added.foreach(e => sb.append("A\t").append(e.seq).append('\t')
        .append(renderEntry(e.copy(seq = UnsetSeq))).append('\n'))
    }
    sb.append(GroupEnd).append('\n')
    cfs.mkdirs(cpath)
    val ip = new Path(cpath,
      f"$GroupPrefix${System.currentTimeMillis()}%013d_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    writeExclusive(cfs, ip, sb.toString, "commit-group intent")
    ip
  }

  /** Parse a group intent; None when torn (no end marker) or
    * unrecognized.
    */
  private def parseGroupIntent(cfs: FileSystem,
                               ip: Path): Option[Seq[StagedCommit]] =
    try {
      val lines = readText(cfs, ip).split("\n", -1)
      if (lines.isEmpty || lines(0) != GroupTag ||
          !lines.exists(_ == GroupEnd)) return None
      val parts = scala.collection.mutable.ArrayBuffer.empty[StagedCommit]
      lines.takeWhile(_ != GroupEnd).foreach { l =>
        if (l.startsWith("P\t")) {
          val Array(_, root, bv, kv) = l.split("\t", 4)
          parts += StagedCommit(root, bv.toLong, Set.empty, Nil, "", Nil,
            kv.toInt)
        } else if (l.startsWith("V\t"))
          parts(parts.size - 1) = parts.last.copy(
            expectV = l.substring(2).toLong)
        else if (l.startsWith("S\t"))
          parts(parts.size - 1) = parts.last.copy(
            schemaDdl = l.substring(2))
        else if (l.startsWith("C\t"))
          parts(parts.size - 1) = parts.last.copy(
            partitionBy = l.substring(2).split(",").filter(_.nonEmpty).toSeq)
        else if (l.startsWith("R\t"))
          parts(parts.size - 1) = parts.last.copy(
            removedRels = parts.last.removedRels + l.substring(2))
        else if (l.startsWith("A\t")) {
          val Array(_, seqRaw, rest) = l.split("\t", 3)
          parts(parts.size - 1) = parts.last.copy(
            added = parts.last.added :+ parseEntry(rest).copy(seq = seqRaw.toLong))
        }
      }
      if (parts.isEmpty || parts.exists(_.schemaDdl.isEmpty)) None
      else Some(parts.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Full-rewrite commit (the `snapshot` branch of
    * [[WriteOps.atomicOverwrite]]): stage the frame next to the pool,
    * move files in, commit a manifest listing ONLY them. Layout knobs
    * (`partitionBy`, `indexBy` range-sort, `maxRecordsPerFile`) match
    * the other writers, so footer-envelope pruning works identically
    * on snapshot targets.
    */
  def overwrite(spark: SparkSession, df: DataFrame, rootStr: String,
                partitionBy: Seq[String] = Nil,
                maxRecordsPerFile: Long = 0,
                indexBy: Seq[String] = Nil,
                keepVersions: Int = 2,
                statsCols: Seq[String] = Nil,
                rowsHint: Option[Long] = None): Unit = {
    val staged = stageReplace(spark, df, rootStr, partitionBy,
      maxRecordsPerFile, indexBy, keepVersions, statsCols, rowsHint)
    val root = new Path(rootStr)
    commitVersion(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root, Manifest(staged.schemaDdl, partitionBy, staged.added), keepVersions)
  }

  /** Attach manifest key envelopes ([[ColEnv]]) for `cols` AND per-file
    * row counts to freshly pooled DATA entries — one footer pass over
    * the new files, paid by the writer so merges plan from the
    * manifest alone (r12) and unfiltered counts come from metadata
    * (r16; the pass runs even with no stats columns — the row count
    * alone is worth the footer open, and the files were just written
    * so the footers are OS-page-warm).
    */
  private[operators] def withKeyEnvs(spark: SparkSession, dd: Path,
                                     entries: Seq[Entry], schema: StructType,
                                     cols: Seq[String]): Seq[Entry] = {
    if (entries.isEmpty) return entries
    val statMap = PrunedMerge.footerKeyStats(spark,
      entries.map(e => (new Path(dd, e.rel).toString, e.bytes)), schema, cols)
    entries.map { e =>
      val st = statMap.get(new Path(dd, e.rel).toString)
      e.copy(envs = st.map(_._1).filter(_.nonEmpty),
        rows = st.flatMap(_._2))
    }
  }

  /** DELETION-VECTOR delete (merge-on-read): commit a new version that
    * tombstones `keys`' pk tuples WITHOUT touching any data file —
    * the batch's distinct keys are written as parquet under
    * `_data/_deletes/` and the new manifest lists every existing
    * member plus the tombstone file. Cost: O(batch) bytes and one
    * manifest, vs the pruned merge's rewrite of every intersecting
    * file — the right shape for frequent small deletes (GDPR erasure,
    * retention sweeps) on a 100 TB table. Reads anti-join the
    * tombstones ([[applyTombstones]]); time travel still serves
    * pre-delete versions; [[PrunedMerge]]/[[Compaction]] decline or
    * carry tombstones (documented there) until [[materializeDeletes]]
    * folds them into the data.
    *
    * Returns (new version, tombstoned key-tuple count).
    */
  def deleteByKeys(spark: SparkSession, rootStr: String, keys: DataFrame,
                   keepVersions: Int = 2): (Long, Long) = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (baseV, m, moved, n) = stageDeleteKeys(spark, rootStr, keys)
    if (moved.isEmpty) return (baseV, 0L) // empty key set: no-op, no commit
    // rebase commit with nothing removed: a DV delete composes with ANY
    // concurrent commit (the tombstone applies to whatever rows the
    // new head holds — delete-after-X serialization, the GDPR-correct
    // order), so racing writers never force this path to fail
    val v = commitRebase(fs, root, baseV, Set.empty, moved,
      m.schemaDdl, m.partitionBy, keepVersions)
    (v, n)
  }

  /** The staging half of [[deleteByKeys]] (r14): write + pool the
    * tombstone file WITHOUT committing, so a [[commitGroup]]
    * participant can batch it with other changes into one commit.
    * Returns (resolve-time base version, base manifest, pool entries,
    * distinct key count).
    *
    * The key count comes from the STAGED files' parquet footers
    * (r16 — driver-side, zero Spark jobs; the write just produced
    * them, so the footers are page-warm): the staged rows are the
    * batch's distinct key tuples, so footer row counts ARE the count.
    * An EMPTY key set stages nothing (no empty tombstone member ever
    * enters the pool) and returns Nil entries.
    */
  private[graft] def stageDeleteKeys(spark: SparkSession, rootStr: String,
                                     keys: DataFrame)
      : (Long, Manifest, Seq[Entry], Long) =
      // metadata-scale profile (r17): a small key batch's distinct +
      // write runs AQE-off/1-partition — see [[MaintProfile]]
      MaintProfile.scoped(spark, MaintProfile.small(keys)) {
    val (root, fs, baseV, m) =
      stagingHead(spark, rootStr, "deletion vectors need")
    val schemaCols = m.schema.fieldNames.toSet
    require(keys.columns.nonEmpty && keys.columns.forall(schemaCols.contains),
      s"tombstone columns ${keys.columns.toSeq} must be a subset of the " +
        s"table schema ${m.schema.fieldNames.toSeq}")
    // align tombstone column types to the table's (a long-typed key
    // batch against an int column must compare as the column's type)
    val typed = keys.select(keys.columns.toIndexedSeq.map(c =>
      col(c).cast(m.schema(c).dataType).as(c)): _*).distinct()
    var n = 0L
    // record the tombstone's key-column set in the manifest entry so
    // reads group DV files without a per-file schema probe
    val moved = stageIntoPool(fs, root, typed,
      tombstoneCols = Some(typed.columns.toSeq), admit = { stage =>
        // count from the staged footers (driver-side, no job); a footer
        // that won't read falls back to the one count job it used to pay
        val staged = listDataFilesRec(fs, stage).map(f => (f.getPath.toString, f.getLen))
        val stats = PrunedMerge.footerKeyStats(spark, staged, typed.schema, Nil)
        val rowsOpt = staged.map(f => stats.get(f._1).flatMap(_._2))
        n =
          if (rowsOpt.forall(_.isDefined)) rowsOpt.flatten.sum
          else spark.read.parquet(stage.toString).count()
        // an empty key set tombstones nothing — stage no member at all
        n > 0
      })
    (baseV, m, moved, n)
  }

  /** PURE-ADD batch APPEND (r15 — the write-side `format("graft")`
    * surface): stage, pool (journaled), record key envelopes for the
    * table's de-facto stats columns (the envelope keys its existing
    * members carry, so read-time file skipping keeps working on
    * externally appended files), and commit through the FULL rebase
    * arbitration. A pure-add commit removes nothing, so it rebases
    * over any concurrent engine commit — an external append lands
    * atomically under a racing writer. Refusals are loud: non-snapshot
    * layouts, column-set mismatch, and legacy (pre-seq) tombstones
    * (they would anti-join the appended rows; seq-stamped tombstones
    * exempt the new batch by the sequence rule). Returns the committed
    * version.
    */
  def appendBatch(spark: SparkSession, rootStr: String, batch: DataFrame,
                  keepVersions: Int = 2,
                  maxRecordsPerFile: Long = 0): Long =
      // metadata-scale profile (r17) — see [[MaintProfile]]
      MaintProfile.scoped(spark, MaintProfile.small(batch)) {
    val (root, fs, baseV, m) = stagingHead(spark, rootStr, "append needs")
    val names = m.schema.fieldNames.toSeq
    require(batch.columns.toSet == names.toSet,
      s"batch columns ${batch.columns.sorted.toSeq} must equal the table " +
        s"schema ${names.sorted} — append asserts whole rows")
    require(m.deleteEntries.forall(_.seq != Long.MaxValue),
      s"$rootStr carries legacy (pre-sequence) tombstones that would " +
        "apply to the appended batch — materialize deletes first")
    // r16 (ADVICE): LOSSLESS casts only — a plain cast silently turns
    // an unparseable/overflowing value into NULL and commits it,
    // breaking the documented "append asserts whole rows" contract
    // (Spark/Delta append fails on incompatible types; so do we)
    val typed = batch.select(names.map { c =>
      val src = batch.schema(c).dataType
      val dst = m.schema(c).dataType
      if (src == dst) col(c).as(c)
      else {
        require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(src, dst),
          s"append column '$c': batch type ${src.sql} does not cast " +
            s"LOSSLESSLY to table type ${dst.sql} — append asserts whole " +
            "rows; cast the batch explicitly if the narrowing is intended")
        col(c).cast(dst).as(c)
      }
    }: _*)
    val statKeys = m.dataEntries.flatMap(_.envs.toSeq.flatMap(_.keys))
      .distinct.filterNot(m.partitionBy.contains)
      .filter(names.contains)
    val laid =
      if (statKeys.nonEmpty)
        typed.sortWithinPartitions(statKeys.map(col).toIndexedSeq: _*)
      else typed
    val dataSchema = StructType(
      m.schema.fields.filterNot(f => m.partitionBy.contains(f.name)))
    val entries = withKeyEnvs(spark, dataDir(root),
      stageIntoPool(fs, root, laid, m.partitionBy, maxRecordsPerFile),
      dataSchema, statKeys)
    if (entries.isEmpty) return baseV // empty batch: nothing to commit
    appendRaceHook() // test hook: a concurrent engine commit lands HERE
    commitRebase(fs, root, baseV, Set.empty, entries, m.schemaDdl,
      m.partitionBy, keepVersions,
      note = Some("""format("graft") append"""))
  }

  /** Test hook: fires between [[appendBatch]]'s staging and its
    * commit — the window where a concurrent engine commit moves the
    * head past the resolved base, proving the pure-add rebase.
    */
  @volatile private[graft] var appendRaceHook: () => Unit = () => ()

  /** Clone an already-staged key tombstone into ANOTHER table's pool
    * (r15): the CDC index maintainer deletes the SAME id set from its
    * two tables every increment — the second table's tombstone is a
    * driver-side byte copy of the first's pooled files, not a second
    * Spark write job. Sound only when every key column's type agrees
    * between the two tables (the staged rows were cast to the source
    * table's types); returns None otherwise or on any copy failure —
    * the caller then stages independently. Returns the destination's
    * (baseV, manifest, cloned delete entries).
    */
  private[graft] def cloneDeleteStage(spark: SparkSession, fromRoot: String,
                                      toRoot: String, entries: Seq[Entry])
      : Option[(Long, Manifest, Seq[Entry])] = {
    if (entries.isEmpty) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(fromRoot)
    val to = new Path(toRoot)
    val fs = to.getFileSystem(conf)
    val ffs = from.getFileSystem(conf)
    val (baseV, vdir) = resolveVersion(fs, to, None)
    val m = manifestAt(fs, vdir).getOrElse(return None)
    val fm = manifestAt(ffs, resolveVersion(ffs, from, None)._2)
      .getOrElse(return None)
    val cols = entries.head.cols.getOrElse(return None)
    if (!entries.forall(_.cols.contains(cols))) return None
    val typesAgree = cols.forall(c =>
      (m.schema.fields.find(_.name == c), fm.schema.fields.find(_.name == c))
        match {
          case (Some(a), Some(b)) => a.dataType == b.dataType
          case _ => false
        })
    if (!typesAgree) return None
    val delDir = new Path(dataDir(to), DeletesDirName)
    fs.mkdirs(delDir)
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    try {
      entries.foreach { e =>
        val src = new Path(dataDir(from), e.rel)
        val dst = new Path(delDir, s"c${System.nanoTime()}-${src.getName}")
        if (!org.apache.hadoop.fs.FileUtil.copy(ffs, src, fs, dst,
            false, conf)) throw new java.io.IOException(s"copy $src failed")
        out += e.copy(rel = s"$DeletesDirName/${dst.getName}")
      }
      Some((baseV, m, out.toSeq))
    } catch {
      case scala.util.control.NonFatal(_) =>
        out.foreach(e => try fs.delete(new Path(dataDir(to), e.rel), false)
          catch { case _: Throwable => () })
        None
    }
  }

  /** PREDICATE deletion vector (r12 — the Iceberg equality-delete
    * analog, generalized): commit an ANSI-SQL boolean predicate as a
    * tombstone, so a retention/GDPR sweep shaped as a PREDICATE
    * ("ts < cutoff", "user_id IN (…)") deletes in O(bytes of the
    * predicate string) — no scan to materialize matching pks first
    * ([[deleteByKeys]] route), no data file touched, no data file
    * read. Reads drop rows where the predicate evaluates TRUE (SQL
    * DELETE semantics: NULL keeps the row) via an ordinary pushed
    * filter — cheaper at scan time than a key anti-join. Composes
    * with everything the key tombstones compose with: time travel
    * serves pre-delete versions, [[materializeDeletes]] folds it,
    * refcount vacuum reclaims it, and the incremental writers decline
    * to full-materialize when one is live (a predicate can match rows
    * in files a merge does not touch, same reason partial-key
    * tombstones decline).
    *
    * The predicate is validated HERE — it must analyze against the
    * table schema, be deterministic, and carry no time-dependent
    * function (`current_date()` would delete a GROWING set as clock
    * time passes; bind the cutoff to a literal instead). A bad
    * predicate fails this commit loudly rather than poisoning every
    * future read of the table.
    *
    * Returns the new version number.
    */
  def deleteByPredicate(spark: SparkSession, rootStr: String, predSql: String,
                        keepVersions: Int = 2): Long = {
    val (root, fs, baseV, m) =
      stagingHead(spark, rootStr, "deletion vectors need")
    require(predSql.trim.nonEmpty, "empty delete predicate")
    // analyze against the recorded schema (throws AnalysisException on
    // unknown columns / type errors), then audit the RESOLVED tree
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      m.schema).filter(expr(predSql))
    val conds = probe.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    conds.foreach { c =>
      require(c.deterministic,
        s"delete predicate must be deterministic (a tombstone re-evaluates " +
          s"on every read): $predSql")
      c.foreach {
        case e @ (_: org.apache.spark.sql.catalyst.expressions.CurrentDate |
                  _: org.apache.spark.sql.catalyst.expressions.CurrentTimestampLike |
                  _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp) =>
          throw new IllegalArgumentException(
            s"delete predicate must not depend on evaluation time " +
              s"(${e.prettyName}() re-evaluates on every read and would " +
              s"delete a growing row set) — bind the instant to a literal: " +
              predSql)
        case _ => ()
      }
    }
    val frame = spark.createDataFrame(
      java.util.Collections.singletonList(Row(predSql)), PredSchema)
    val moved = stageIntoPool(fs, root, frame.coalesce(1),
      tombstoneCols = Some(Seq(PredColName)))
    // rebase with nothing removed: like a key tombstone, a predicate
    // delete composes with any concurrent commit (it applies to
    // whatever rows the new head holds — delete-after-X order)
    commitRebase(fs, root, baseV, Set.empty, moved,
      m.schemaDdl, m.partitionBy, keepVersions)
  }

  /** APPEND-SHAPED UPSERT (r12 — the Hudi merge-on-read deltacommit
    * analog, expressed with sequence numbers): commit `batch` as a
    * sorted appended file PLUS a full-pk tombstone of the batch's own
    * keys, both at the new commit seq. The tombstone retires every
    * OLDER instance of a batch key (any file with a lower seq,
    * whoever wrote it); the batch file itself shares the tombstone's
    * seq and is exempt — so the pair IS "replace these keys", with
    * **zero data files read or rewritten and zero table scans**: cost
    * is O(batch) bytes + one manifest, at ANY table size. The classic
    * write-heavy trade: reads pay a growing anti-join until
    * [[Compaction]]'s `foldDeletesAbove` debt ceiling (or
    * [[materializeDeletes]]) retires the tombstones.
    *
    * Because it reads nothing, it commits through [[commitRebase]]
    * with nothing removed and composes with ANY concurrent commit —
    * including the two shapes that force the rewriting merge to
    * re-plan (a concurrent rewrite of a shared file, a concurrent
    * tombstone): the result is the serial (winner, then this batch)
    * order, which for a blind replace-by-pk upsert is exactly what a
    * re-plan would compute. [[PrunedMerge]] uses it as its
    * conflict-absorbing fallback for that reason.
    *
    * Soundness needs every batch row ASSERTED at this commit's seq —
    * batch columns must cover the table schema (no widening here; the
    * rewriting merge handles ADD COLUMN), and LEGACY tombstones
    * (pre-sequence manifests, normalized to apply globally) refuse
    * loudly: they would delete the appended rows too. Returns
    * (version, batch-key count); an empty batch is a no-op.
    */
  def upsertAppend(spark: SparkSession, rootStr: String, batch: DataFrame,
                   pk: Seq[String], indexBy: Seq[String] = Nil,
                   maxRecordsPerFile: Long = 0,
                   keepVersions: Int = 2): (Long, Long) = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    stageUpsertAppend(spark, rootStr, batch, pk, indexBy,
      maxRecordsPerFile) match {
      case None => (resolveVersion(fs, root, None)._1, 0L)
      case Some((baseV, m, entries, nKeys)) =>
        val v = commitRebase(fs, root, baseV, Set.empty, entries,
          m.schemaDdl, m.partitionBy, keepVersions)
        (v, nKeys)
    }
  }

  /** The staging half of [[upsertAppend]] (r14): write + pool the
    * batch file and its batch-pk tombstone WITHOUT committing, for
    * [[commitGroup]] batching. None for an empty batch. Returns
    * (resolve-time base version, base manifest, pool entries — data
    * then tombstone, batch-key count).
    */
  private[graft] def stageUpsertAppend(spark: SparkSession, rootStr: String,
                                       batch: DataFrame, pk: Seq[String],
                                       indexBy: Seq[String] = Nil,
                                       maxRecordsPerFile: Long = 0,
                                       sizeHint: Option[Long] = None)
      : Option[(Long, Manifest, Seq[Entry], Long)] =
      // metadata-scale profile (r17): a small batch's dedupe + write
      // runs AQE-off/1-partition — see [[MaintProfile]]. The hint is
      // the same one the small-batch staging fold below consumes.
      MaintProfile.scoped(spark, MaintProfile.small(batch, sizeHint)) {
    val (root, fs, baseV, m) =
      stagingHead(spark, rootStr, "append-shaped upsert needs")
    val names = m.schema.fieldNames.toSeq
    require(pk.nonEmpty && pk.forall(names.contains),
      s"append-shaped upsert needs a pk within the schema, got $pk")
    require(batch.columns.toSet == names.toSet,
      s"batch columns ${batch.columns.sorted.toSeq} must equal the table " +
        s"schema ${names.sorted} — the append asserts whole rows")
    require(m.deleteEntries.forall(_.seq != Long.MaxValue),
      s"$rootStr carries legacy (pre-sequence) tombstones that apply to " +
        "every member including an appended batch — materialize deletes " +
        "first")
    // one row per pk, picked by the SAME deterministic rule as the
    // rewriting upsert ([[WriteOps.dedupeByPk]]) — a duplicate-key
    // batch would otherwise append both rows at the same seq, where
    // the tombstone retires neither
    val typed = WriteOps.dedupeByPk(
      batch.select(names.map(c =>
        col(c).cast(m.schema(c).dataType).as(c)): _*), pk)
    // SMALL-BATCH fold (r16, the cdc-gate job audit): below a plan-
    // stats size estimate the key count comes from the STAGED batch
    // file's footer (dedupeByPk makes rows == distinct pks) and the
    // tombstone derives from that pooled file — the upfront
    // localCheckpoint + count jobs and the range-sampling pass all
    // disappear (3 write-class jobs → 2, zero count jobs). Estimates
    // only pick the PATH: an overestimate pays the old exact-count
    // route, an underestimate writes one larger file — never a wrong
    // result. Joins/aggregates estimate high, so only genuinely
    // materialized small inputs (the maintenance increments) take it.
    // `sizeHint` overrides the plan estimate — checkpointed inputs
    // (LogicalRDD) carry no stats, but the CDC maintainer knows its
    // span's changed bytes from the manifests it already parsed.
    val sizeEst = sizeHint.map(BigInt(_)).getOrElse(
      try typed.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(-1) })
    val small = sizeEst >= 0 && sizeEst <= (256L << 20)
    val keys =
      if (small) null
      else typed.select(pk.map(col): _*).distinct().localCheckpoint(true)
    val nKeysUp = if (small) -1L else keys.count()
    if (!small && nKeysUp == 0) return None
    // batch file, laid out like every other sorted writer so its
    // manifest envelopes keep future merges planning from metadata
    val sortKeys = (if (indexBy.nonEmpty) indexBy else pk)
      .filterNot(m.partitionBy.contains)
    val nParts =
      if (small) 1
      else math.max(1L, math.min(4096L, nKeysUp / 2000000L)).toInt
    val laid =
      if (sortKeys.nonEmpty)
        typed.repartitionByRange(nParts,
            sortKeys.map(col).toIndexedSeq: _*)
          .sortWithinPartitions(sortKeys.map(col).toIndexedSeq: _*)
      else typed
    val dd = dataDir(root)
    val dataSchema = StructType(
      m.schema.fields.filterNot(f => m.partitionBy.contains(f.name)))
    val dataEntries = withKeyEnvs(spark, dd,
      stageIntoPool(fs, root, laid, m.partitionBy, maxRecordsPerFile),
      dataSchema,
      (sortKeys ++ pk).distinct.filterNot(m.partitionBy.contains))
    def dropDataEntries(): Unit = dataEntries.foreach(en =>
      try fs.delete(new Path(dd, en.rel), false) catch { case _: Throwable => () })
    val nKeys =
      if (!small) nKeysUp
      else {
        val rs = dataEntries.map(_.rows)
        if (rs.nonEmpty && rs.forall(_.isDefined)) rs.flatten.sum
        else if (dataEntries.isEmpty) 0L
        else spark.read.schema(dataSchema).parquet(
          dataEntries.map(e => new Path(dd, e.rel).toString): _*).count()
      }
    if (nKeys == 0) {
      dropDataEntries()
      return None
    }
    // the batch-key tombstone — full pk, so future pruned merges keep
    // composing with it; the small path reads the keys back out of
    // the pooled batch file (already distinct by construction)
    val keySrc =
      if (small) {
        // the table's schema, not an inference job over the files;
        // basePath recovers partition-resident pk components, and the
        // cast pins their types back to the table's
        val r = if (m.partitionBy.nonEmpty)
          spark.read.option("basePath", dd.toString) else spark.read
        r.schema(m.schema)
          .parquet(dataEntries.map(e => new Path(dd, e.rel).toString): _*)
          .select(pk.map(c => col(c).cast(m.schema(c).dataType).as(c)): _*)
      } else keys
    // one tombstone file per ~20M keys: single-writer up to huge
    // batches, parallel beyond
    val delEntries =
      try stageIntoPool(fs, root,
        keySrc.coalesce(math.max(1L, nKeys / 20000000L).toInt),
        tombstoneCols = Some(pk))
      catch { case e: Throwable => dropDataEntries(); throw e }
    Some((baseV, m, dataEntries ++ delEntries, nKeys))
  }

  /** COLUMN RENAME as a METADATA-ONLY commit (r12 — the Delta
    * column-mapping analog). Pool files keep their write-time physical
    * names; the new manifest carries the renamed schema plus an
    * `aliases` entry `oldName → newName`, and every read recovers the
    * column via [[aliasedRead]]'s coalesce (old and new files mix
    * freely). Time travel serves each version under ITS OWN names;
    * the changelog diffs across the rename via the alias map; key
    * tombstones and recorded key envelopes are re-keyed to the new
    * name in the new manifest (their FILES keep the physical name —
    * the alias map recovers those too). Refusals are LOUD:
    * partition-column renames (the dir layout carries the name),
    * a target name that exists or was EVER a physical name (reuse
    * would make per-file recovery ambiguous), and renames while a
    * PREDICATE deletion vector is live (its stored SQL references the
    * old name; materialize first). RETYPE stays refused everywhere it
    * always was; DROP is its own metadata-only commit ([[dropColumn]]).
    * Returns the new version.
    */
  def renameColumn(spark: SparkSession, rootStr: String,
                   oldName: String, newName: String,
                   keepVersions: Int = 2): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(oldName != newName, "rename to the same name is a no-op")
    require(newName.nonEmpty && !newName.exists(":,;=\t\n".contains(_)) &&
      !oldName.exists(":,;=\t\n".contains(_)),
      s"column names must serialize through the manifest line format: " +
        s"'$oldName' → '$newName'")
    withCommitLock(fs, root) {
      val (_, vdir) = committed(fs, root).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed versions under $rootStr"))
      val m = manifestAt(fs, vdir).getOrElse(
        throw new IllegalArgumentException(
          s"column rename needs a snapshot layout at $rootStr"))
      val names = m.schema.fieldNames
      require(names.contains(oldName),
        s"no column '$oldName' in ${names.mkString(", ")}")
      require(!names.contains(newName),
        s"column '$newName' already exists — rename would collide")
      require(!m.partitionBy.contains(oldName),
        s"'$oldName' is a partition column — its name is baked into the " +
          "directory layout; repartition via a full rewrite instead")
      require(!m.aliases.exists(_._1 == newName),
        s"'$newName' was a previous physical name of this table — reusing " +
          "it would make per-file recovery ambiguous")
      require(!m.dropped.contains(newName),
        s"'$newName' was DROPPED from this table and retained files still " +
          "carry it physically — renaming onto it would resurrect their " +
          "stale values; use a different name or a full rewrite")
      require(!m.deleteEntries.exists(_.cols.contains(Seq(PredColName))),
        "a PREDICATE deletion vector is live — its stored SQL references " +
          "column names at commit time; --materialize-deletes first")
      val newSchema = StructType(m.schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      def rekey(s: String): String = if (s == oldName) newName else s
      val newEntries = m.entries.map { e =>
        e.copy(cols = e.cols.map(_.map(rekey)),
          envs = e.envs.map(_.map { case (k, v) => rekey(k) -> v }))
      }
      // keep every alias target CURRENT: earlier renames that landed on
      // oldName now point at newName, then record this rename
      val newAliases = m.aliases.map {
        case (po, ln) if ln == oldName => (po, newName)
        case a => a
      } :+ (oldName -> newName)
      commitBlindLocked(fs, root,
        Manifest(newSchema.toDDL, m.partitionBy, newEntries,
          aliases = newAliases, dropped = m.dropped), keepVersions)
    }
  }

  /** COLUMN DROP as a METADATA-ONLY commit (r12 — completes the
    * rename's evolution family). Pool files keep the column physically
    * forever; the new manifest just excludes it from the schema, and
    * every read's explicit schema ignores the extra parquet column.
    * Time travel serves each version under ITS OWN schema (the column
    * is still there before the drop); the changelog projects
    * pre-drop versions down to the post-drop shape, so a step whose
    * only difference was in the dropped column emits zero change rows
    * — exactly what a reader under the evolved schema observes.
    *
    * The name (and every physical name ever aliased to it) is recorded
    * in [[Manifest.dropped]]: re-adding it through a widening commit
    * or a rename target refuses LOUDLY, because retained files still
    * carry the old values and would silently resurrect them. A full
    * rewrite (fresh files only) legitimately clears the set.
    *
    * Refusals: partition columns (the dir layout carries the name),
    * the last remaining data column, a column named by any live KEY
    * tombstone's column set (the tombstone could no longer apply —
    * materialize first), and any live PREDICATE tombstone (its stored
    * SQL references commit-time names — same rule as rename). RETYPE
    * stays refused everywhere it always was. Returns the new version.
    */
  def dropColumn(spark: SparkSession, rootStr: String, name: String,
                 keepVersions: Int = 2): Long = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(name.nonEmpty && !name.exists(":,;=\t\n".contains(_)),
      s"column name must serialize through the manifest line format: '$name'")
    withCommitLock(fs, root) {
      val (_, vdir) = committed(fs, root).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed versions under $rootStr"))
      val m = manifestAt(fs, vdir).getOrElse(
        throw new IllegalArgumentException(
          s"column drop needs a snapshot layout at $rootStr"))
      val names = m.schema.fieldNames
      require(names.contains(name),
        s"no column '$name' in ${names.mkString(", ")}")
      require(!m.partitionBy.contains(name),
        s"'$name' is a partition column — its name is baked into the " +
          "directory layout; repartition via a full rewrite instead")
      require(m.schema.fields.exists(f =>
          f.name != name && !m.partitionBy.contains(f.name)),
        s"cannot drop the last data column '$name' — the remaining schema " +
          "would hold only partition values")
      require(!m.deleteEntries.exists(e =>
          e.cols.exists(_.contains(name)) && !e.cols.contains(Seq(PredColName))),
        s"a live key tombstone is keyed on '$name' — dropping the column " +
          "would orphan the delete; --materialize-deletes first")
      require(!m.deleteEntries.exists(_.cols.contains(Seq(PredColName))),
        "a PREDICATE deletion vector is live — its stored SQL references " +
          "column names at commit time; --materialize-deletes first")
      val newSchema = StructType(m.schema.fields.filterNot(_.name == name))
      // strip the dropped key from recorded envelopes (fsck audits
      // envelope keys against the schema) — still metadata-only
      val newEntries = m.entries.map(e =>
        e.copy(envs = e.envs.map(_ - name).filter(_.nonEmpty)))
      // retire the CURRENT name plus every physical name that ever
      // aliased to it — files carry one of those physically
      val retired = name +: m.aliases.collect { case (po, ln) if ln == name => po }
      commitBlindLocked(fs, root,
        Manifest(newSchema.toDDL, m.partitionBy, newEntries,
          aliases = m.aliases.filterNot(_._2 == name),
          dropped = (m.dropped ++ retired).distinct), keepVersions)
    }
  }

  /** Is `from → to` a LOSSLESS type widening — every value of `from`
    * maps to exactly one `to` value and back (r14, the Delta
    * type-widening table re-derived)? Admitted: the integral chain
    * byte→short→int→long; float→double (IEEE exact); byte/short/int→
    * double (int is 31 bits, double carries 53 — exact; LONG→double is
    * NOT and refuses); decimal(p,s)→decimal(p',s') when the integer
    * digits and the scale both never shrink (s'≥s ∧ p'−s'≥p−s). What
    * makes widening metadata-safe the same way drop/rename are:
    * retained pool files keep their narrower PHYSICAL type, and the
    * parquet reader (probe-verified on this Spark) upcasts them
    * losslessly under the widened read schema — exactly the value the
    * old type would have produced, so old and new files mix freely.
    */
  def isWidening(from: org.apache.spark.sql.types.DataType,
                 to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3
      case LongType => 4; case _ => -1
    }
    (from, to) match {
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(f) < rank(t)
      case (FloatType, DoubleType) => true
      case (f, DoubleType) if rank(f) > 0 && rank(f) <= 3 => true
      case (f: DecimalType, t: DecimalType) =>
        val (p1, s1, p2, s2) = (f.precision, f.scale, t.precision, t.scale)
        (s2 > s1 || p2 > p1) && s2 >= s1 && p2 - s2 >= p1 - s1
      case _ => false
    }
  }

  /** TYPE-WIDENING schema evolution as a METADATA-ONLY commit (r14 —
    * completes the evolution family next to [[renameColumn]] /
    * [[dropColumn]]; every other retype stays refused everywhere it
    * always was). Pool files keep their write-time physical type
    * forever; the new manifest just records the wider logical type and
    * every read's explicit schema upcasts the narrower files on scan
    * ([[aliasedRead]] — native parquet type promotion plus a
    * belt-and-braces cast). Time travel serves each version under ITS
    * OWN type; the changelog casts pre-widen versions up to the
    * post-widen shape, so a step whose only difference is the widening
    * emits zero change rows; key tombstones keep applying (their
    * stored narrow keys upcast through the same read path, and
    * equality is preserved by losslessness). NARROWING and any
    * non-listed conversion refuse loudly with the admissible table.
    *
    * Refusals: partition columns (their values are path strings
    * re-parsed under the schema type — a mixed-width directory tree is
    * an audit hazard for external tools), live PREDICATE tombstones
    * (their stored SQL analyzed against commit-time types — same
    * conservative rule as rename/drop). Recorded key ENVELOPES survive
    * an integral→integral widen (same pruning domain); a domain-leaving
    * widen (int→double, decimal growth) drops the column's envelopes —
    * planning falls back to the footer sweep for those files.
    * Returns the new version.
    */
  def widenColumn(spark: SparkSession, rootStr: String, name: String,
                  newType: org.apache.spark.sql.types.DataType,
                  keepVersions: Int = 2): Long = {
    import org.apache.spark.sql.types._
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withCommitLock(fs, root) {
      val (_, vdir) = committed(fs, root).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed versions under $rootStr"))
      val m = manifestAt(fs, vdir).getOrElse(
        throw new IllegalArgumentException(
          s"type widening needs a snapshot layout at $rootStr"))
      val names = m.schema.fieldNames
      require(names.contains(name),
        s"no column '$name' in ${names.mkString(", ")}")
      val from = m.schema(name).dataType
      require(isWidening(from, newType),
        s"'${from.sql} → ${newType.sql}' is not a lossless widening — " +
          "admitted: byte→short→int→long, float→double, " +
          "byte/short/int→double, decimal(p,s)→decimal(p',s') with " +
          "s'≥s and p'−s'≥p−s; anything else needs a full rewrite")
      require(!m.partitionBy.contains(name),
        s"'$name' is a partition column — its values are path strings " +
          "re-parsed under the schema type; repartition via a full " +
          "rewrite instead")
      require(!m.deleteEntries.exists(_.cols.contains(Seq(PredColName))),
        "a PREDICATE deletion vector is live — its stored SQL was " +
          "analyzed against commit-time types; --materialize-deletes first")
      val newSchema = StructType(m.schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = newType) else f))
      val integralDomain = Seq(ByteType, ShortType, IntegerType, LongType)
      val keepEnvs = integralDomain.contains(from) &&
        integralDomain.contains(newType)
      val newEntries =
        if (keepEnvs) m.entries
        else m.entries.map(e =>
          e.copy(envs = e.envs.map(_ - name).filter(_.nonEmpty)))
      commitBlindLocked(fs, root,
        Manifest(newSchema.toDDL, m.partitionBy, newEntries,
          aliases = m.aliases, dropped = m.dropped), keepVersions)
    }
  }

  /** Fold accumulated deletion vectors into the data: one full
    * tombstone-applied read committed as a fresh snapshot version
    * (the OPTIMIZE step that re-enables the incremental writers).
    * No-op (returns false) when the latest manifest has no delete
    * entries.
    *
    * Commits via REBASE, not blind replace (r11): the change is
    * "remove every base member, add the materialized files", so a
    * concurrent APPEND-shaped commit (a disjoint insert merge, a new
    * DV delete) lands alongside — the rebased manifest keeps the
    * racer's additions — while a concurrent REWRITE of a base file is
    * a loud [[CommitConflictException]] instead of a silently dropped
    * update (the Replace semantics this previously inherited from
    * [[overwrite]] would have discarded any commit that raced the
    * fold).
    */
  def materializeDeletes(spark: SparkSession, rootStr: String,
                         indexBy: Seq[String] = Nil,
                         maxRecordsPerFile: Long = 0,
                         keepVersions: Int = 2): Boolean = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sweepStaleStages(fs, root)
    val (baseV, vdir) = resolveVersion(fs, root, None)
    val m = manifestAt(fs, vdir).getOrElse(return false)
    if (m.deleteEntries.isEmpty) return false
    // stale-read fence (r12): the full tombstone-applied read below
    // executes lazily; a racing commit + vacuum reclaiming one of
    // v$baseV's files converts to a re-plannable conflict
    staleReadAsConflict(fs, root, baseV) {
    val df = readAt(spark, rootStr, Some(baseV))
    val sortKeys = indexBy.filterNot(m.partitionBy.contains)
    val laid =
      if (sortKeys.nonEmpty)
        df.repartitionByRange(sortKeys.map(col).toIndexedSeq: _*)
          .sortWithinPartitions(sortKeys.map(col).toIndexedSeq: _*)
      else df
    val entries = withKeyEnvs(spark, dataDir(root),
      stageIntoPool(fs, root, laid, m.partitionBy, maxRecordsPerFile),
      df.schema, sortKeys)
    commitRebase(fs, root, baseV, m.entries.map(_.rel).toSet, entries,
      m.schemaDdl, m.partitionBy, keepVersions)
    true
    }
  }

  /** Refcounting vacuum: keep the newest `keepVersions` committed
    * generations (min 1) plus nothing else — uncommitted strays and
    * older versions are deleted, then unreferenced pool files are
    * reclaimed and emptied hive dirs pruned. A retained dir-protocol
    * version (pre-snapshot history) suppresses pool deletion entirely
    * — membership is then not fully known.
    *
    * CONCURRENT-WRITER safety (r11): an in-flight writer stages its
    * files into the pool BEFORE taking the commit lock, so a racing
    * vacuum would see them as unreferenced. Unreferenced files split
    * into two classes: files a version dropped THIS PASS referenced
    * (dereferenced garbage — reclaimed immediately, the space-return
    * contract) and files NO retained-or-dropped manifest ever listed
    * (a live writer's pending additions, or crash orphans) — those
    * only reclaim past [[StageGraceMs]] of age, by which time a live
    * commit would long have landed. Crash orphans age out and are
    * swept by any later vacuum; `fsck` reports them meanwhile.
    *
    * `fullSweep = true` is the thorough O(pool-listing) refcount walk
    * (standalone `--vacuum` and every [[CheckpointEvery]]-th commit —
    * the only collector of crashed-writer ORPHANS, files no manifest
    * ever referenced).
    * `fullSweep = false` (the steady-state per-commit path, r13) is
    * INCREMENTAL: deletion candidates are the rels a dropped version
    * references MINUS its successor's — read straight off the
    * successor's delta `-` lines when its recorded base is the dropped
    * version (O(changed), the steady state), else an exact membership
    * diff — probed against every retained version's memoized rel-set
    * before deletion. Zero pool listing: at 10⁵–10⁶ files the
    * per-commit LIST + per-file mtime walk was the dominant
    * object-store metadata cost left after the manifest went
    * incremental. A file's death is processed exactly once — when the
    * last version referencing it leaves retention, that version's
    * successor diff names it.
    */
  def vacuum(fs: FileSystem, root: Path, keepVersions: Int,
             fullSweep: Boolean = true): Unit = {
    val all = Versioned.list(fs, root)
    val committedDesc = all.filter(_._3).sortBy(-_._1)
    val kept = committedDesc.take(math.max(1, keepVersions))
    val keep = kept.map(_._1).toSet
    val committedAsc = committedDesc.sortBy(_._1)
    // read dropped versions' manifests BEFORE deleting their dirs —
    // their membership distinguishes dereferenced garbage from a
    // concurrent writer's pending pool additions
    lazy val droppedRels = all.filterNot(v => keep.contains(v._1))
      .flatMap { v =>
        // a crashed writer can leave a torn/empty manifest — treat it
        // as referencing nothing (its files age out as orphans)
        val m = try manifestAt(fs, v._2) catch { case scala.util.control.NonFatal(_) => None }
        m.toSeq.flatMap(_.entries.map(_.rel))
      }
      .toSet
    // incremental candidates — computed BEFORE any dir deletion; a
    // None means a prerequisite failed and the full sweep must decide
    val candidates: Option[Set[String]] =
      if (fullSweep) None
      else try {
        val cands = scala.collection.mutable.Set.empty[String]
        var ok = true
        committedAsc.filterNot(v => keep.contains(v._1)).foreach { case (v, p, _) =>
          committedAsc.find(_._1 > v) match {
            case Some((_, sp, _)) =>
              deltaInfo(fs, sp) match {
                case Some((base, removed)) if base == v => cands ++= removed
                case _ =>
                  (manifestAt(fs, p), manifestAt(fs, sp)) match {
                    case (Some(dm), Some(sm)) =>
                      val sRels = sm.entries.map(_.rel).toSet
                      cands ++= dm.entries.map(_.rel).filterNot(sRels)
                    case _ => ok = false
                  }
              }
            case None => ok = false // dropped version above the head?
          }
        }
        if (ok) Some(cands.toSet) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    // force the dropped-membership read pre-delete on EVERY path that
    // will run the full sweep below — including the incremental
    // request whose prerequisites failed (candidates == None)
    if (candidates.isEmpty) { val _ = droppedRels }
    // PROMOTE before delete (r13): a retained DELTA version whose base
    // chain passes below the retention cutoff would become unreadable
    // once the chain's checkpoint dir is deleted. Materialize such a
    // version's RESOLVED membership as a full checkpoint into its own
    // (committed, otherwise-immutable) dir first — content-identical
    // by construction, so concurrent readers see no change. Written
    // temp-then-rename: the dir is live, a torn direct write would
    // shadow the still-valid delta.
    // JOURNAL-driven orphan collection (r15) runs on EVERY vacuum,
    // incremental included: aged stage journals name exactly the pool
    // files a crashed writer may have left — O(journal entries), no
    // pool listing; the full sweep below remains the standalone audit
    sweepStageJournal(fs, root, kept)
    val protect = scala.collection.mutable.Set.empty[Long]
    val anyDrop = all.exists(v => !keep.contains(v._1))
    // nothing leaves retention → no chain can lose its base → the
    // promote walk and every deletion below are no-ops; return before
    // paying the per-kept-version chain walk (it runs on EVERY commit)
    if (!anyDrop && !fullSweep) return
    if (anyDrop) kept.sortBy(_._1).foreach { case (_, p, _) =>
      // walk the base chain to its checkpoint, collecting every hop
      // below the retention cutoff. Hops are cache-served base
      // pointers (committed versions all sit in resolvedCache in the
      // steady state) — zero delta-file reads
      def baseOf(vp: Path): Option[Long] =
        try resolvedFor(fs, vp).flatMap(_.baseV)
        catch { case scala.util.control.NonFatal(_) => deltaBase(fs, vp) }
      val escaped = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cur = p
      var guard = 0
      var base = baseOf(cur)
      while (base.isDefined && guard < 10000) {
        guard += 1
        if (!keep.contains(base.get)) escaped += base.get
        cur = new Path(root, f"_v_${base.get}%020d")
        base = baseOf(cur)
      }
      if (escaped.nonEmpty) {
        val promoted =
          try {
            // ALREADY promoted (an earlier vacuum's pass — the cached
            // delta resolution keeps reporting the chain's base
            // pointers, so the walk re-finds escaped hops every round):
            // the dir is self-contained, nothing to write
            if (fs.exists(new Path(p, ManifestName)) ||
                fs.exists(new Path(p, ListName))) true
            else resolvedFor(fs, p) match {
              // LIST promotion (r14): a big retained delta version
              // whose chain carries part refs promotes as a list —
              // O(dirty + parts) instead of the O(entries) text
              // render, which at retention < CheckpointEvery runs on
              // EVERY commit. Its reused parts stay
              // refcount-protected: the promoted list itself
              // references them.
              case Some(r) if r.parts.isDefined &&
                  r.tree.size >= ListCheckpointMin =>
                promote(fs, p, ListName,
                  renderList(r.hdr, writeListParts(fs, root, p, r.tree, r.parts)._1))
                // the checkpoint must be READABLE before its chain dies
                listHeader(fs, p).isDefined
              case Some(r) =>
                promote(fs, p, ManifestName,
                  renderManifest(r.hdr.copy(entries = r.tree.valuesIterator.toVector)))
                fullManifest(fs, p).isDefined
              case None => false
            }
          }
          catch { case scala.util.control.NonFatal(_) => false }
        // a failed promotion protects the chain this round — the next
        // vacuum retries; losing retention slack beats an unreadable
        // retained version
        if (!promoted) protect ++= escaped
      }
    }
    all.foreach { case (n, p, _) =>
      if (!keep.contains(n) && !protect.contains(n)) fs.delete(p, true)
    }
    val dd = dataDir(root)
    if (!fs.exists(dd)) return
    candidates match {
      case Some(cands) =>
        // INCREMENTAL path: delete exactly the dereferenced candidates
        if (cands.nonEmpty) {
          val retained = kept.flatMap(v =>
            try resolvedFor(fs, v._2) catch { case scala.util.control.NonFatal(_) => None })
          if (retained.size == kept.size) {
            val dead = cands.filterNot(c => retained.exists(_.hasRel(c)))
            val parents = scala.collection.mutable.Set.empty[Path]
            dead.foreach { r =>
              val fp = new Path(dd, r)
              try {
                fs.delete(fp, false)
                if (fp.getParent != dd) parents += fp.getParent
              } catch { case scala.util.control.NonFatal(_) => () }
            }
            // prune ONLY the partition dirs the deletions may have
            // emptied (delete(dir, false) fails on non-empty — cheap),
            // walking up toward the pool root
            parents.foreach { p0 =>
              var p = p0
              var removed = true
              while (removed && p != dd && p.getParent != null) {
                removed = try fs.delete(p, false) catch { case _: Throwable => false }
                p = p.getParent
              }
            }
          }
          // a failed retained resolution: skip file GC this round — the
          // next full sweep reconciles; never delete on uncertain refs
        }
      case None =>
        // FULL sweep: complete refcount over a pool listing, with the
        // stage grace for possibly-live concurrent writers — the only
        // path that reclaims never-referenced orphans
        val manifests = kept.map(v => manifestAt(fs, v._2))
        if (manifests.exists(_.isEmpty)) return // mixed-protocol history
        val referenced = manifests.flatMap(_.get.entries.map(_.rel)).toSet
        val now = System.currentTimeMillis()
        def sweep(p: Path, rel: String, mtime: Long): Unit =
          if (!referenced.contains(rel) &&
              (droppedRels.contains(rel) || now - mtime > StageGraceMs))
            fs.delete(p, false)
        // best effort: an unreadable pool dir skips this sweep, the
        // next full sweep reconciles
        (try listDataFilesRec(fs, dd)
         catch { case scala.util.control.NonFatal(_) => Nil }).foreach { s =>
          sweep(s.getPath, relPath(dd, s.getPath), s.getModificationTime)
        }
        // the generic walk skips underscore names — sweep the deletion-
        // vector subdir explicitly with the same refcount rule
        val delDir = new Path(dd, DeletesDirName)
        if (fs.exists(delDir))
          (try fs.listStatus(delDir)
           catch { case scala.util.control.NonFatal(_) =>
             Array.empty[org.apache.hadoop.fs.FileStatus] }).foreach { s =>
            if (s.isFile)
              sweep(s.getPath, s"$DeletesDirName/${s.getPath.getName}",
                s.getModificationTime)
          }
        // manifest-PART pool GC (r14): a `_manifest_parts/` file is
        // live while ANY remaining version dir's list references it
        // (committed or not — markers arbitrate dirs, not parts);
        // unreferenced parts age out like pool orphans (a concurrent
        // committer pools parts before its list + marker land). If any
        // list file fails to READ, skip parts GC entirely this round —
        // deleting on uncertain references is never worth the space.
        val pdir = partsDir(root)
        if (fs.exists(pdir)) {
          var refsOk = true
          val livePartNames = Versioned.list(fs, root).flatMap { case (_, vp, _) =>
            if (!fs.exists(new Path(vp, ListName))) Vector.empty
            else try listHeader(fs, vp).map(_._2.map(_.name))
              .getOrElse(Vector.empty)
            catch { case scala.util.control.NonFatal(_) =>
              refsOk = false; Vector.empty }
          }.toSet
          if (refsOk)
            (try fs.listStatus(pdir)
             catch { case scala.util.control.NonFatal(_) =>
               Array.empty[org.apache.hadoop.fs.FileStatus] })
              .foreach { s =>
                if (s.isFile && !livePartNames.contains(s.getPath.getName) &&
                    now - s.getModificationTime > StageGraceMs)
                  try fs.delete(s.getPath, false)
                  catch { case _: Throwable => () }
              }
        }
        pruneEmptyDirs(fs, dd)
    }
  }

  // ── stage journal (r15 — incremental orphan tracking) ─────────────

  private val JournalDirName = "_stage_journal"
  private val JournalEnd = "#end"

  /** One journal record per pool-move: the planned pool-relative
    * names, end-marker terminated, written BEFORE any rename. The
    * per-commit vacuum reconciles aged journals ([[sweepStageJournal]])
    * — crash orphans are collected from the journal diff, never from
    * an O(pool) listing. Write failure is swallowed: an unjournaled
    * move degrades to the standalone full sweep's coverage.
    */
  private def writeStageJournal(fs: FileSystem, root: Path,
                                rels: Seq[String]): Unit =
    try {
      val jd = new Path(root, JournalDirName)
      fs.mkdirs(jd)
      val jp = new Path(jd, f"j${System.currentTimeMillis()}%013d_${
        java.util.UUID.randomUUID().toString.replace("-", "")}")
      val out = fs.create(jp, true)
      try out.write((rels.mkString("\n") + s"\n$JournalEnd\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Reconcile aged stage journals against the RETAINED versions:
    * every journaled pool name is either referenced (its commit
    * landed — drop just the journal line) or a crash orphan (delete
    * the file). Runs on EVERY vacuum, incremental included — cost is
    * O(journals · entries-per-journal), zero listings. Journals
    * younger than the stage grace may belong to a live in-flight
    * commit and are left alone; torn journals (no end marker) prove
    * no move happened and age out as empty. `resolveRetained` failure
    * ⇒ skip (never delete on uncertain references).
    */
  private def sweepStageJournal(fs: FileSystem, root: Path,
                                kept: Seq[(Long, Path, Boolean)]): Unit = {
    val jd = new Path(root, JournalDirName)
    val journals = (try fs.listStatus(jd)
      catch { case scala.util.control.NonFatal(_) => return })
      .filter(s => s.isFile && s.getPath.getName.startsWith("j"))
    if (journals.isEmpty) return
    val now = System.currentTimeMillis()
    val aged = journals.filter(now - _.getModificationTime > StageGraceMs)
    if (aged.isEmpty) return
    // FLAT-COLD membership probes (r16 — BASELINE r15 residual #2): a
    // cold sweep against a LIST-checkpointed version answers "is this
    // rel a member" from the list header + the ONE rel-ranged part
    // that can contain it (parts are sorted by firstRel), never
    // materializing the entry list — the 200k-member cold term drops
    // from the full manifest parse to O(parts + one ~2k-entry part).
    // Small full manifests and delta chains keep the resolve (cheap at
    // their size; the resolved cache makes repeats free). Any
    // undecidable probe keeps the file and retries next round.
    final class RelProbe(vdir: Path) {
      private lazy val header: Option[(Manifest, Vector[PartRef])] =
        try {
          if (!fs.exists(new Path(vdir, ManifestName)) &&
              fs.exists(new Path(vdir, ListName)))
            listHeader(fs, vdir)
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      private lazy val resolved: Option[Resolved] =
        try resolvedFor(fs, vdir)
        catch { case scala.util.control.NonFatal(_) => None }
      private val partRels =
        scala.collection.mutable.Map.empty[String, Option[Set[String]]]
      private def relsOfPart(name: String): Option[Set[String]] =
        partRels.getOrElseUpdate(name,
          try Some(parsePart(readText(fs, new Path(partsDir(root), name)))
            .iterator.map(_.rel).toSet)
          catch { case scala.util.control.NonFatal(_) => None })
      /** None = undecidable (keep the file). */
      def has(rel: String): Option[Boolean] = header match {
        case Some((_, refs)) =>
          refs.takeWhile(_.firstRel <= rel).lastOption match {
            case None => Some(false) // below the first part's range
            case Some(r) => relsOfPart(r.name).map(_.contains(rel))
          }
        case None => resolved.map(_.hasRel(rel))
      }
    }
    val heads = kept.map { case (_, vdir, _) => new RelProbe(vdir) }
    // live part names, only needed if some journal names a part —
    // computed lazily over ALL version dirs (markers arbitrate dirs,
    // not parts; same rule as the full sweep's parts GC)
    lazy val livePartNames: Option[Set[String]] = {
      var ok = true
      val names = Versioned.list(fs, root).flatMap { case (_, vp, _) =>
        if (!fs.exists(new Path(vp, ListName))) Vector.empty
        else try listHeader(fs, vp).map(_._2.map(_.name))
          .getOrElse(Vector.empty)
        catch { case scala.util.control.NonFatal(_) => ok = false; Vector.empty }
      }.toSet
      if (ok) Some(names) else None
    }
    aged.foreach { st =>
      (try Some(readText(fs, st.getPath).split("\n", -1).toSeq)
       catch { case scala.util.control.NonFatal(_) => None }) match {
        case None => () // unreadable this round: retry next vacuum
        case Some(lines) =>
          // TORN (no end marker, journal write itself crashed): the
          // journal strictly precedes every rename, so nothing moved —
          // the record is deletable, the stage sweep owns the stage dir
          val rels =
            if (lines.contains(JournalEnd))
              lines.takeWhile(_ != JournalEnd).filter(_.nonEmpty)
            else Nil
          var allDecided = true
          rels.foreach { rel =>
            val referenced =
              if (rel.startsWith(DataDirName + "/")) {
                val poolRel = rel.stripPrefix(DataDirName + "/")
                val probes = heads.map(_.has(poolRel))
                if (probes.exists(_.isEmpty)) { allDecided = false; true }
                else probes.exists(_.contains(true))
              } else if (rel.startsWith(PartsDirName + "/")) {
                livePartNames match {
                  case Some(names) =>
                    names.contains(rel.stripPrefix(PartsDirName + "/"))
                  case None => allDecided = false; true // unreadable refs: keep
                }
              } else true // unknown shape: never delete
            if (!referenced)
              try fs.delete(new Path(root, rel), false)
              catch { case scala.util.control.NonFatal(_) => () }
          }
          if (allDecided)
            try fs.delete(st.getPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** A stage dir younger than this may belong to a LIVE concurrent
    * writer (stages are written OUTSIDE the commit lock — holding the
    * lock across a data write would serialize all writers); only
    * older ones are crash leftovers safe to sweep.
    */
  private val StageGraceMs: Long = 15 * 60 * 1000L

  private def sweepStaleStages(fs: FileSystem, root: Path): Unit =
    try fs.listStatus(root).foreach { s =>
      val n = s.getPath.getName
      // `.broken.` tombstones are a breaker's rename target — deleted
      // right after the steal, so an aged one is a crashed breaker's
      // leftover (age-gated like stages: a live breaker deletes within
      // milliseconds)
      if ((n.startsWith("._snap_stage_") || n.startsWith(s"$LockName.broken.")) &&
          System.currentTimeMillis() - s.getModificationTime > StageGraceMs)
        try fs.delete(s.getPath, true) catch { case _: Throwable => () }
    } catch { case _: Throwable => () }

  /** Delete hive dirs the refcount vacuum emptied (children first);
    * never deletes `dd` itself.
    */
  private def pruneEmptyDirs(fs: FileSystem, dd: Path): Unit = {
    def sweep(d: Path): Boolean = { // true = dir is (now) empty
      val entries = try fs.listStatus(d) catch { case _: Throwable => return false }
      val remaining = entries.filterNot { s =>
        s.isDirectory && sweep(s.getPath) && fs.delete(s.getPath, false)
      }
      remaining.isEmpty
    }
    try fs.listStatus(dd).foreach { s =>
      if (s.isDirectory && sweep(s.getPath)) fs.delete(s.getPath, false)
    } catch { case _: Throwable => () }
  }

  // ── history / time travel / changelog ────────────────────────────

  /** DESCRIBE HISTORY analog: one row per version dir, newest first.
    * Metadata-only (manifest read or dir listing — no data scan).
    */
  def history(spark: SparkSession, rootStr: String): DataFrame = {
    import spark.implicits._
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Versioned.list(fs, root).sortBy(-_._1).map { case (n, p, isCommitted) =>
      val mOpt = manifestAt(fs, p)
      val (files, bytes, protocol) = mOpt match {
        case Some(m) => (m.entries.size.toLong, m.bytes, "snapshot")
        case None =>
          val fl = listDataFilesRec(fs, p)
          (fl.size.toLong, fl.map(_.getLen).sum, "versioned")
      }
      val committedAt =
        if (isCommitted)
          mOpt.flatMap(_.commitTsMillis).getOrElse(
            fs.getFileStatus(new Path(p, Versioned.Marker)).getModificationTime)
        else 0L
      (n, isCommitted, protocol, files, bytes,
        new java.sql.Timestamp(committedAt), mOpt.flatMap(_.note).orNull)
    }.toDF("version", "committed", "protocol", "files", "bytes",
      "committed_at", "note")
  }

  /** Open-ended incremental CDC: every change from `sinceV` up to the
    * latest retained commit, as the union of CONSECUTIVE per-commit
    * changelogs — each row's `_commit_version` is the commit that
    * produced it, so a consumer can checkpoint the max version it has
    * processed and call again with that cursor (the incremental-ETL
    * "what changed since my last run" read; the streaming twin of the
    * reference's continuation loop, expressed over table history
    * instead of a `contid` mark column). Consecutive diffs — not one
    * from→latest diff — so intermediate states are not collapsed: a
    * row inserted at v5 and deleted at v7 yields BOTH events.
    * Empty frame (correct schema) when already at the head. Loud when
    * `sinceV` is no longer retained — a silent gap would corrupt the
    * consumer's view.
    */
  def changelogSince(spark: SparkSession, rootStr: String, sinceV: Long,
                     pk: Seq[String], untilV: Option[Long] = None): DataFrame = {
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committed(fs, root).map(_._1)
    require(vs.contains(sinceV), s"version $sinceV of $root is not " +
      s"retained (have: ${vs.mkString(", ")}) — the changelog cursor " +
      "has fallen behind the vacuum retention; re-sync with a full read")
    // `untilV` BOUNDS the span at build time (r13): a rate-limited
    // consumer ([[graft.streaming.CdfStream]]) previously built the
    // whole-backlog union and post-filtered `_commit_version <= to` —
    // Catalyst constant-folds that correctly, but each batch still
    // paid analysis over O(backlog) union branches. Stopping the span
    // here makes a bounded batch cost O(batch) branches.
    val span = vs.filter(v => v >= sinceV && untilV.forall(v <= _))
    val steps = span.zip(span.drop(1))
    if (steps.isEmpty)
      return changelog(spark, rootStr, sinceV, sinceV, pk).limit(0)
    val frames = steps.map { case (a, b) => changelog(spark, rootStr, a, b, pk) }
    // steps that predate an ADD-COLUMN commit carry the narrower
    // schema — align every step to the FINAL step's shape (null-pad),
    // the same convention the widening changelog itself uses; steps
    // that predate a RENAME carry the old name — align via the head
    // manifest's alias map FIRST (the values are the same column)
    val headAliases = manifestAt(fs, resolveVersion(fs, root, None)._2)
      .map(_.aliases).getOrElse(Nil)
    val outSchema = frames.last.schema
    frames.map { f0 =>
      val f = headAliases.foldLeft(f0) { case (d, (po, ln)) =>
        if (d.columns.contains(po) && !d.columns.contains(ln))
          d.withColumnRenamed(po, ln)
        else d
      }
      // cast-to-target covers steps that predate a TYPE WIDENING the
      // same way null-padding covers pre-ADD-COLUMN steps (no-op cast
      // for unevolved columns)
      f.select(outSchema.fields.toIndexedSeq.map(g =>
        if (f.columns.contains(g.name)) col(g.name).cast(g.dataType).as(g.name)
        else lit(null).cast(g.dataType).as(g.name)): _*)
    }.reduce(_ unionAll _)
  }

  /** File-level changelog restriction, DV-AWARE (r11). Rows in files
    * both manifests SHARE are raw-identical on both sides, so only
    * two row classes can yield a change row: rows of NON-shared
    * files, and shared-file rows whose pk matches a tombstone of
    * EITHER version — their merge-on-read VISIBILITY may differ (a
    * row is visible iff its pk is not tombstoned, so visibility flips
    * exactly on Ta △ Tb ⊆ Ta ∪ Tb; restricting to the superset is
    * sound — the diff emits nothing for rows equal on both sides).
    * Each side then applies its OWN tombstones, so the restricted
    * frames are exact sub-multisets of the versions' logical rows.
    * A CDC step under a delete stream therefore reads (rewritten
    * files + tombstone-matched rows), never the table; the shared
    * read pushes a bounded per-column IN prefilter of the tombstone
    * keys into the parquet row-group stats before the exact null-safe
    * semi join. Requires every DV key set to equal `pk` (recorded
    * r11, schema-probed for legacy entries) and `pk` present in both
    * schemas — anything else falls back to full
    * tombstone-applied reads (None).
    */
  private def prunedSides(spark: SparkSession, root: Path,
                          a: Manifest, b: Manifest,
                          pk: Seq[String]): Option[(DataFrame, DataFrame)] = {
    val pkSet = pk.toSet
    if (!pk.forall(a.schema.fieldNames.contains) ||
        !pk.forall(b.schema.fieldNames.contains)) return None
    val dd = dataDir(root)
    // PREDICATE tombstones (r12) restrict differently from key sets:
    // predicate sets only GROW between materializes, so a shared-file
    // row's visibility can flip only where a predicate of the
    // SYMMETRIC DIFFERENCE matches — restrict shared reads to
    // (key-union match ∨ diff-predicate match), then each side applies
    // its OWN tombstones. Every diff predicate must analyze against
    // BOTH schemas (a widened-in column fails on the older side →
    // full fallback).
    def split(m: Manifest): (Seq[Entry], Seq[Entry]) =
      m.deleteEntries.partition(e =>
        e.cols.contains(Seq(PredColName)) ||
          (e.cols.isEmpty && spark.read
            .parquet(new Path(dd, e.rel).toString)
            .columns.sameElements(Array(PredColName))))
    val (predA, keyA) = split(a)
    val (predB, keyB) = split(b)
    val colsOk = (keyA ++ keyB).forall { e =>
      val cols = e.cols.getOrElse(
        spark.read.parquet(new Path(dd, e.rel).toString).columns.toSeq)
      cols.toSet == pkSet
    }
    if (!colsOk) return None
    def predStrings(es: Seq[Entry]): Set[String] =
      if (es.isEmpty) Set.empty
      else readPredicates(spark,
        es.map(e => new Path(dd, e.rel).toString)).toSet
    val (pa, pb) = (predStrings(predA), predStrings(predB))
    val predDiff = ((pa union pb) diff (pa intersect pb)).toSeq.sorted
    val analyzable = predDiff.forall(p => Seq(a, b).forall { m =>
      try {
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
          .filter(expr(p)).queryExecution.analyzed
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    })
    if (!analyzable) return None
    def matchCond(ps: Seq[String]): Option[org.apache.spark.sql.Column] =
      if (ps.isEmpty) None
      else Some(ps.map(p => coalesce(expr(p), lit(false))).reduce(_ || _))
    val diffCond = matchCond(predDiff)
    val shared = a.dataEntries.map(_.rel).toSet
      .intersect(b.dataEntries.map(_.rel).toSet)
    def tombKeys(m: Manifest, keyDels: Seq[Entry]): Option[DataFrame] =
      if (keyDels.isEmpty) None
      else Some(tombstoneKeys(spark, m, pk,
        keyDels.map(e => new Path(dd, e.rel).toString)))
    val (ta, tb) = (tombKeys(a, keyA), tombKeys(b, keyB))
    val union = (ta, tb) match {
      case (Some(x), Some(y)) => Some(x.unionByName(y).distinct())
      case (x, y) => x.orElse(y)
    }
    // bounded-key IO prefilter, computed ONCE for both sides — under
    // the metadata-scale profile (r17) when the tombstone bytes are
    // provably small (the manifests already carry them): this collect
    // runs at changelog BUILD time, before any consumer's own scope
    val inlined = MaintProfile.scoped(spark, MaintProfile.smallBytes(
        Some((keyA ++ keyB).map(_.bytes).sum))) {
      union.map(_.limit(10001).collect()).getOrElse(Array.empty[org.apache.spark.sql.Row])
    }
    val preConds: Option[Seq[org.apache.spark.sql.Column]] =
      if (inlined.nonEmpty && inlined.length <= 10000)
        Some(pk.zipWithIndex.map { case (c, i) =>
          val vals = inlined.map(_.get(i)).distinct.toIndexedSeq
          val nonNull = vals.filter(_ != null)
          val in =
            if (nonNull.isEmpty) lit(false) else col(c).isin(nonNull: _*)
          if (vals.contains(null)) in || col(c).isNull else in
        })
      else None
    // Each side applies its own tombstones PER SEQUENCE CLASS
    // ([[seqClasses]]): a tombstone anti-joins / filters only the
    // members it applies to (`dataSeq < tombSeq`), so an append-shaped
    // upsert's batch rows stay exempt from the very tombstone that
    // retired their older instances. The restriction superset (union
    // keys ∨ diff predicates) stays GLOBAL — per-file applicability
    // only shrinks where visibility can flip, so restricting by the
    // global superset remains sound. Single class (every pre-append
    // state) is exactly the old plan.
    def side(m: Manifest, predRels: Set[String]): DataFrame = {
      def keyMatched(df0: DataFrame, keys: DataFrame) = {
        val df = preConds.fold(df0)(cs => df0.filter(cs.reduce(_ && _)))
        val cond = pk.map(c => df(c) <=> keys(c)).reduce(_ && _)
        df.join(keys, cond, "left_semi")
      }
      if (m.dataEntries.isEmpty)
        return readMembers(spark, root, m, Nil)
      seqClasses(m, m.dataEntries).map { case (es, dels) =>
        val (cPred, cKey) = dels.partition(e => predRels(e.rel))
        val cKeys = tombKeys(m, cKey)
        val cPreds =
          if (cPred.isEmpty) Set.empty[String] else predStrings(cPred)
        val nonshared = readMembers(spark, root, m,
          es.filterNot(e => shared(e.rel)))
        def sharedRead() = readMembers(spark, root, m,
          es.filter(e => shared(e.rel)))
        val restricted = (union, diffCond) match {
          case (None, None) => nonshared
          case (None, Some(dc)) =>
            nonshared.unionByName(sharedRead().filter(dc))
          case (Some(keys), None) =>
            nonshared.unionByName(keyMatched(sharedRead(), keys))
          case (Some(keys), Some(dc)) =>
            // exact, no double-count: diff-pred rows by pushed filter,
            // the remainder by the key semi-join
            nonshared
              .unionByName(sharedRead().filter(dc))
              .unionByName(keyMatched(sharedRead().filter(!dc), keys))
        }
        val afterKeys = cKeys.fold(restricted) { keys =>
          val cond = pk.map(c => restricted(c) <=> keys(c)).reduce(_ && _)
          restricted.join(keys, cond, "left_anti")
        }
        cPreds.toSeq.sorted.foldLeft(afterKeys)((d, p) =>
          d.filter(!coalesce(expr(p), lit(false))))
      }.reduce(_ unionByName _)
    }
    Some((side(a, predA.map(_.rel).toSet), side(b, predB.map(_.rel).toSet)))
  }

  /** CDC changelog between two retained snapshots, the Delta
    * CHANGE DATA FEED row shape: full row images tagged
    * `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage, `_commit_version` = `toV`. One full-outer
    * pk join, one pass: each joined row explodes to 0–2 change rows
    * (0 for unchanged), so the plan is join + generate — no
    * per-change-type re-scan. Updates compare the non-pk columns
    * null-safely (a NULL→value transition IS a change).
    *
    * At 100 TB both sides are footer-pruned parquet scans of two
    * manifests that mostly SHARE files; a caller diffing adjacent
    * incremental commits can first restrict both sides to the
    * symmetric difference of the manifests' file lists — rows in
    * shared files are bit-identical by construction. That file-level
    * optimization composes here via `readAt` + `.where` on
    * `_metadata.file_path` without changing this row-level contract.
    */
  def changelog(spark: SparkSession, rootStr: String, fromV: Long, toV: Long,
                pk: Seq[String], filePruned: Boolean = true): DataFrame = {
    require(pk.nonEmpty, "changelog needs the pk that identifies a row")
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // FILE-LEVEL pruning (default): a pk lives in exactly one file of
    // each version, and a file shared by both manifests holds
    // bit-identical rows in both — so rows in shared files can never
    // produce a change row. Restricting both sides to the manifests'
    // symmetric difference is therefore EXACT, and diffing adjacent
    // incremental commits reads only the rewritten fraction of the
    // table (the full-outer join shrinks the same way). Falls back to
    // full reads when either version predates the manifest protocol.
    val pruned: Option[(DataFrame, DataFrame)] =
      if (!filePruned) None
      else {
        val mf = manifestAt(fs, resolveVersion(fs, root, Some(fromV))._2)
        val mt = manifestAt(fs, resolveVersion(fs, root, Some(toV))._2)
        (mf, mt) match {
          case (Some(a), Some(b)) => prunedSides(spark, root, a, b, pk)
          case _ => None
        }
      }
    val (fromRaw, to) = pruned.getOrElse(
      (readAt(spark, rootStr, Some(fromV)), readAt(spark, rootStr, Some(toV))))
    // RENAME travel (r12): a from-version column renamed by `toV` is
    // the SAME column — align it via the to-manifest's alias map
    // before the widening check, so the diff compares values (a pure
    // rename between adjacent commits emits zero change rows)
    val toManifest = manifestAt(fs, resolveVersion(fs, root, Some(toV))._2)
    val toAliases = toManifest.map(_.aliases).getOrElse(Nil)
    val fromAliased = toAliases.foldLeft(fromRaw) { case (d, (po, ln)) =>
      if (d.columns.contains(po) && !d.columns.contains(ln))
        d.withColumnRenamed(po, ln)
      else d
    }
    // DROP travel (r12): a from-version column the to-manifest records
    // as DROPPED is projected away before the diff — a step whose only
    // difference was in the dropped column emits zero change rows,
    // exactly what a reader under the evolved schema observes (the
    // mirror of the widening's null-padding below)
    val toDropped = toManifest.map(_.dropped).getOrElse(Nil).toSet
    val from0 = fromAliased.columns
      .filter(c => toDropped.contains(c) && !to.columns.contains(c))
      .foldLeft(fromAliased)(_ drop _)
    // schema EVOLUTION tolerance: a widened to-version (ADD COLUMN
    // commit) compares against the from-version null-padded to the
    // same shape — the exact rows a from-version reader under the
    // evolved schema would see, so a row whose new column gained a
    // value classifies as an update with a NULL preimage. A
    // TYPE-WIDENED column (r14, [[widenColumn]]) casts up the same way
    // — the cast is the identical lossless conversion the to-side's
    // physically-narrow files take on scan, so a pure widen step emits
    // zero change rows. Anything else (retype, unrecorded drop) still
    // refuses loudly.
    val from =
      if (from0.schema == to.schema) from0
      else {
        val fNames = from0.columns.toSet
        val widens = from0.schema.fields.forall(f =>
          to.schema.fields.exists(g => g.name == f.name &&
            (g.dataType == f.dataType || isWidening(f.dataType, g.dataType))))
        require(widens,
          s"changelog requires the to-version schema to contain every " +
            s"from-version column unchanged or losslessly widened, got " +
            s"${from0.schema.toDDL} vs ${to.schema.toDDL}")
        from0.select(to.schema.fields.toIndexedSeq.map(g =>
          if (fNames(g.name)) col(g.name).cast(g.dataType).as(g.name)
          else lit(null).cast(g.dataType).as(g.name)): _*)
      }
    val cols = to.columns.toIndexedSeq
    require(pk.forall(cols.contains), s"pk ${pk.mkString(",")} not in schema")
    val nonPk = cols.filterNot(pk.contains)
    val f = from.select(struct(cols.map(col): _*).as("__f__"))
    val t = to.select(struct(cols.map(col): _*).as("__t__"))
    val cond = pk.map(c => f("__f__")(c) <=> t("__t__")(c)).reduce(_ && _)
    def img(side: String, tpe: String) =
      struct((cols.map(c => col(s"$side.$c").as(c)) :+
        lit(tpe).as("_change_type")): _*)
    val changed =
      if (nonPk.isEmpty) lit(false) // pk-only schema: presence is identity
      else !(struct(nonPk.map(c => col(s"__f__.$c")): _*) <=>
        struct(nonPk.map(c => col(s"__t__.$c")): _*))
    // unchanged rows emit a sentinel dropped right after the explode —
    // sidesteps constructing a typed empty array literal
    f.join(t, cond, "full_outer")
      .select(explode(
        when(col("__f__").isNull, array(img("__t__", "insert")))
          .when(col("__t__").isNull, array(img("__f__", "delete")))
          .when(changed, array(img("__f__", "update_preimage"),
            img("__t__", "update_postimage")))
          .otherwise(array(img("__f__", "__unchanged__")))
      ).as("__c__"))
      .where(col("__c__._change_type") =!= "__unchanged__")
      .select((cols.map(c => col(s"__c__.$c")) :+
        col("__c__._change_type") :+
        lit(toV).as("_commit_version")): _*)
  }

  /** Layout integrity audit (`--fsck`) — one row per finding, empty =
    * clean. Metadata-only (manifest reads + one pool listing):
    *
    *   - `missing`  (error): a retained manifest lists a file absent
    *     from the pool — that version cannot be read;
    *   - `size`     (error): on-disk bytes differ from the manifest's;
    *   - `orphan`   (info): a pool file no retained manifest
    *     references — reclaimable space the next vacuum will delete;
    *   - `stray`    (info): an uncommitted `_v_` dir or abandoned
    *     stage from a crashed writer — swept by the next commit.
    *
    * `full` (r16) additionally opens every referenced data file's
    * footer ONCE and cross-checks the manifest-recorded row count
    * ([[Entry.rows]] — the metadata-count fast path's input) against
    * the file: a mismatch means [[metadataPlan]] would serve a wrong
    * number (`rows` error). Explicitly O(pool footers) — the same
    * contract as `--vacuum --full`.
    */
  def fsck(spark: SparkSession, rootStr: String,
           full: Boolean = false): DataFrame = {
    import spark.implicits._
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val dd = dataDir(root)
    val onDisk: Map[String, Long] =
      if (fs.exists(dd)) {
        val data = listDataFilesRec(fs, dd).map(f => relPath(dd, f.getPath) -> f.getLen)
        // deletion-vector files live under an underscore dir the
        // generic walk skips — list them explicitly so manifests
        // referencing them audit clean and strays show as orphans
        val delDir = new Path(dd, DeletesDirName)
        val dels =
          if (!fs.exists(delDir)) Nil
          else (try fs.listStatus(delDir)
                catch { case scala.util.control.NonFatal(_) =>
                  Array.empty[org.apache.hadoop.fs.FileStatus] })
            .filter(_.isFile)
            .map(s => s"$DeletesDirName/${s.getPath.getName}" -> s.getLen).toSeq
        (data ++ dels).toMap
      } else Map.empty
    val vs = committed(fs, root)
    // a version whose metadata cannot RESOLVE (broken chain, missing
    // list part) is the most severe finding of all — report it, never
    // crash the audit
    def mAt(v: Long, vdir: Path): Option[Manifest] =
      try manifestAt(fs, vdir)
      catch {
        case scala.util.control.NonFatal(e) =>
          out += (("error", "manifest", s"v$v does not resolve: " +
            Option(e.getMessage).iterator
              .flatMap(_.linesIterator).take(1).mkString))
          None
      }
    val referenced = scala.collection.mutable.Set.empty[String]
    vs.foreach { case (v, vdir) =>
      mAt(v, vdir).foreach { m =>
        m.entries.foreach { e =>
          referenced += e.rel
          onDisk.get(e.rel) match {
            case None =>
              out += (("error", "missing", s"v$v lists ${e.rel} — not in pool"))
            case Some(b) if b != e.bytes =>
              out += (("error", "size",
                s"v$v ${e.rel}: manifest ${e.bytes} B, on disk $b B"))
            case _ => ()
          }
        }
      }
    }
    // r12 metadata classes: alias-map and key-envelope consistency,
    // predicate-tombstone analyzability (per the OWNING version's
    // schema — a tampered or hand-edited manifest must show up here,
    // not as a read-time surprise)
    vs.foreach { case (v, vdir) =>
      mAt(v, vdir).foreach { m =>
        val names = m.schema.fieldNames.toSet
        m.aliases.foreach { case (po, ln) =>
          if (!names.contains(ln))
            out += (("error", "alias",
              s"v$v alias $po→$ln targets a column absent from the schema"))
          if (names.contains(po))
            out += (("error", "alias",
              s"v$v alias $po→$ln: the physical name is still a live column"))
        }
        // a DROPPED name present in the schema means stale values from
        // retained files are being served as the column (hand-edited
        // manifest — the commit paths refuse this)
        m.dropped.filter(names.contains).foreach { d =>
          out += (("error", "dropped",
            s"v$v dropped column '$d' is present in the schema — retained " +
              "files carry stale physical values for it"))
        }
        m.entries.foreach { e =>
          e.envs.foreach(_.keys.foreach { k =>
            if (!names.contains(k))
              out += (("warn", "env",
                s"v$v ${e.rel}: key envelope for unknown column '$k'"))
          })
          // sequence sanity (r12): a recorded seq must be a version
          // number no newer than its OWNING manifest's version — a
          // future seq would silently exempt the member from every
          // live tombstone. (Long.MaxValue is the legacy-tombstone
          // normalization and legal on delete entries only.)
          if (e.seq < 0)
            out += (("error", "seq",
              s"v$v ${e.rel}: unstamped commit sequence ${e.seq}"))
          else if (e.seq > v &&
                   !(e.seq == Long.MaxValue &&
                     e.rel.startsWith(DeletesDirName + "/")))
            out += (("error", "seq",
              s"v$v ${e.rel}: commit sequence ${e.seq} is newer than " +
                s"the manifest's own version"))
          if (e.cols.contains(Seq(PredColName)) && onDisk.contains(e.rel)) {
            val bad =
              try readPredicates(spark,
                Seq(new Path(dataDir(root), e.rel).toString)).filterNot { p =>
                try {
                  spark.createDataFrame(
                    spark.sparkContext.emptyRDD[Row], m.schema)
                    .filter(expr(p)).queryExecution.analyzed
                  true
                } catch { case scala.util.control.NonFatal(_) => false }
              }
              catch { case scala.util.control.NonFatal(_) => Seq("<unreadable>") }
            bad.foreach(p => out += (("error", "pred",
              s"v$v ${e.rel}: predicate does not analyze against the " +
                s"version schema: $p")))
          }
        }
      }
    }
    if (full) {
      // rowCount cross-check (r16): each distinct referenced data file
      // once — pool files are immutable, so one footer open settles
      // every manifest that lists it
      val conf = spark.sparkContext.hadoopConfiguration
      // files are immutable, so ONE footer open per distinct rel
      // settles every manifest that records a count for it (manifests
      // can disagree — a tampered record in any retained version is
      // exactly what this audit exists to catch)
      val actualCache = scala.collection.mutable.Map.empty[String, Long]
      def actualRows(rel: String): Long =
        actualCache.getOrElseUpdate(rel,
          try {
            val r = Footers.open(conf, new Path(dd, rel))
            try {
              import scala.jdk.CollectionConverters._
              r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
            } finally r.close()
          } catch { case scala.util.control.NonFatal(_) => -1L })
      vs.foreach { case (v, vdir) =>
        mAt(v, vdir).foreach { m =>
          m.dataEntries.foreach { e =>
            e.rows.foreach { rec =>
              if (onDisk.contains(e.rel)) {
                val actual = actualRows(e.rel)
                if (actual >= 0 && actual != rec)
                  out += (("error", "rows",
                    s"v$v ${e.rel}: manifest rows $rec, footer $actual — " +
                      "metadata counts would be wrong"))
              }
            }
          }
        }
      }
    }
    onDisk.keys.filterNot(referenced).toSeq.sorted.foreach(rel =>
      out += (("info", "orphan", s"$rel referenced by no retained manifest")))
    Versioned.list(fs, root).filterNot(_._3).foreach { case (n, _, _) =>
      out += (("info", "stray", s"uncommitted version dir _v_$n"))
    }
    // manifest-part pool (r14): every retained list's parts must exist
    // at their recorded lengths; unreferenced parts are reclaimable
    val pdir = new Path(root, PartsDirName)
    if (fs.exists(pdir)) {
      val onDiskParts = (try fs.listStatus(pdir)
        catch { case _: Throwable => Array.empty[org.apache.hadoop.fs.FileStatus] })
        .filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap
      val refParts = scala.collection.mutable.Set.empty[String]
      vs.foreach { case (v, vdir) =>
        if (fs.exists(new Path(vdir, ListName)))
          (try listHeader(fs, vdir)
           catch { case scala.util.control.NonFatal(_) => None })
            .foreach { case (_, refs) =>
              refs.foreach { r =>
                refParts += r.name
                onDiskParts.get(r.name) match {
                  case None => out += (("error", "part",
                    s"v$v list references missing part ${r.name}"))
                  case Some(l) if l != r.len => out += (("error", "part",
                    s"v$v part ${r.name}: list says ${r.len} B, on disk $l B"))
                  case _ => ()
                }
              }
            }
      }
      onDiskParts.keys.filterNot(refParts).toSeq.sorted.foreach(n =>
        out += (("info", "orphan_part",
          s"$PartsDirName/$n referenced by no retained list")))
    }
    try fs.listStatus(root).foreach { s =>
      if (s.getPath.getName.startsWith("._snap_stage_"))
        out += (("info", "stray", s"abandoned stage ${s.getPath.getName}"))
    } catch { case _: Throwable => () }
    out.toSeq.toDF("severity", "issue", "detail")
  }

  // ── shared fs helpers (also used by PrunedMerge/Compaction) ──────

  /** Exact row count of parquet `files` (path, bytes) from their
    * footers alone — driver-side, ZERO Spark jobs up to the footer
    * sweep's distributed threshold, one metadata job past it (r19:
    * the Runner's staged-batch bookkeeping count was a scan job per
    * keyed write; the same sum now answers an unfiltered plain-parquet
    * `Runner.count`). None for no files, or when any footer refuses
    * to read — the caller falls back to the count job it used to pay.
    */
  private[graft] def footerRowCount(spark: SparkSession,
                                    files: Seq[(String, Long)]): Option[Long] = {
    if (files.isEmpty) return None
    val stats = PrunedMerge.footerKeyStats(spark, files,
      new org.apache.spark.sql.types.StructType(), Nil)
    val rows = files.map(f => stats.get(f._1).flatMap(_._2))
    if (rows.forall(_.isDefined)) Some(rows.flatten.sum) else None
  }

  /** Every data file under `root`, recursively; names starting with
    * `_` or `.` (markers, manifests, journals, temp dirs) are skipped
    * at any depth. A listing failure propagates: a missing or
    * unreadable dir must never read as an empty one (a stage that
    * lists empty would commit with its files missing).
    */
  private[graft] def listDataFilesRec(fs: FileSystem,
                                      root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) ()
      else if (s.isFile) out += s
      else walk(s.getPath)
    }
    walk(root)
    out.toSeq
  }

  private[graft] def relPath(root: Path, p: Path): String = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val pUri = p.toUri.getPath
    require(pUri.startsWith(rootUri + "/"), s"$p not under $root")
    pUri.substring(rootUri.length + 1)
  }
}
