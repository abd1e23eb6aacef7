package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import Snapshot.{ColEnv, DeletesDirName, Entry, Manifest}

/** The on-disk text format of snapshot metadata — the only code that
  * knows it. Three file kinds share one header:
  *
  * {{{
  *   <tag>                     graft-snapshot-v1 | -delta-v1 | -list-v1
  *   <schema DDL>
  *   <partition columns, comma-joined>
  *   #uuid=<per-commit identity>
  *   #base=<version>           (delta only)
  *   #commit_ts=<millis>       optional header lines ('#key=value');
  *   #alias=<physical>:<name>  unknown keys are skipped on read, so the
  *   #dropped=<name>           format stays forward-compatible
  *   #note=<text>
  * }}}
  *
  * followed by entry lines (`_MANIFEST`), `-rel` / `+entry` lines
  * (`_MANIFEST_DELTA`) or `P\tname\tcount\tlen\tfirstRel` part refs
  * (`_MANIFEST_LIST`, whose parts under `_manifest_parts/` hold entry
  * lines). Names that contain the format's separators are dropped on
  * render: the format is lossy by design for such names, so commit
  * re-verification compares what survives ([[sameHeader]],
  * [[sameEntries]]), never raw case-class equality alone.
  */
private[graft] object ManifestCodec {

  val ManifestName = "_MANIFEST"
  val DeltaName = "_MANIFEST_DELTA"
  val ListName = "_MANIFEST_LIST"
  val PartsDirName = "_manifest_parts"
  private val FormatTag = "graft-snapshot-v1"
  private val DeltaTag = "graft-snapshot-delta-v1"
  private val ListTag = "graft-snapshot-list-v1"

  /** One membership part of a list checkpoint: immutable pool file
    * `_manifest_parts/<name>` holding `count` entry lines covering the
    * rel range [firstRel, next part's firstRel). `len` (bytes) is the
    * re-verify witness — O(1) stat instead of an O(count) re-read.
    */
  final case class PartRef(name: String, count: Int, len: Long, firstRel: String)

  /** A parsed `_MANIFEST_DELTA`: full header (a Manifest with entries
    * Nil) + base pointer + removed rels + added entries.
    */
  final case class ParsedDelta(hdr: Manifest, baseV: Long,
                               removed: Set[String], added: Seq[Entry])

  // ── header ───────────────────────────────────────────────────────

  /** The optional `#key=value` header lines that survive the format. */
  private def headerLines(m: Manifest): Seq[String] =
    m.commitTsMillis.map(ts => "#commit_ts=" + ts).toSeq ++
      // ordered, repeatable: one '#alias=physical:logical' line per pair
      m.aliases.collect { case (po, ln)
          if !po.exists(":\t\n".contains(_)) && !ln.exists(":\t\n".contains(_)) =>
        "#alias=" + po + ":" + ln } ++
      // one '#dropped=name' line per retired physical column name
      m.dropped.filterNot(_.exists("\t\n".contains(_))).map("#dropped=" + _) ++
      m.note.filterNot(_.contains('\n')).map("#note=" + _)

  private def renderHeader(sb: StringBuilder, tag: String, m: Manifest,
                           extra: Seq[String]): Unit = {
    sb.append(tag).append('\n')
    sb.append(m.schemaDdl).append('\n')
    sb.append(m.partitionBy.mkString(",")).append('\n')
    // per-commit identity witness (r13 ADVICE): NOT part of [[Manifest]]
    // (two commits of identical membership are the same logical state);
    // the resolved cache compares it so a dropped-and-recreated table
    // that reuses a version number with a same-length manifest in the
    // same mtime tick can never serve the old incarnation's membership
    sb.append("#uuid=").append(java.util.UUID.randomUUID()).append('\n')
    (extra ++ headerLines(m)).foreach(l => sb.append(l).append('\n'))
  }

  /** Split a metadata file into its header (a Manifest with entries
    * Nil), its `#` lines and its body lines.
    */
  private def parse(text: String, tag: String, minLines: Int, kind: String,
                    p: Path): (Manifest, Array[String], Array[String]) = {
    val lines = text.split("\n", -1)
    require(lines.length >= minLines && lines(0) == tag,
      s"unrecognized $kind format in $p")
    val (headers, body) = lines.drop(3).filter(_.nonEmpty).partition(_.startsWith("#"))
    val hdr = Manifest(lines(1), lines(2).split(",").filter(_.nonEmpty).toSeq, Nil,
      values(headers, "#commit_ts=").headOption.map(_.toLong),
      values(headers, "#alias=").map(_.split(":", 2) match {
        case Array(po, ln) => (po, ln)
      }),
      values(headers, "#dropped="),
      values(headers, "#note=").headOption)
    (hdr, headers, body)
  }

  /** The values of every `key` header line, in file order. */
  private def values(headers: Array[String], key: String): Seq[String] =
    headers.collect { case h if h.startsWith(key) => h.substring(key.length) }.toSeq

  /** Do two headers render the same bytes (commit identity aside)? */
  def sameHeader(a: Manifest, b: Manifest): Boolean =
    a.schemaDdl == b.schemaDdl && a.partitionBy == b.partitionBy &&
      headerLines(a) == headerLines(b)

  /** Do two entry lists render the same lines? Case-class equality is
    * the O(n) fast path; rendering only arbitrates the corner where the
    * line format dropped a separator-bearing cols/env name.
    */
  def sameEntries(a: Seq[Entry], b: Seq[Entry]): Boolean =
    a == b || a.map(renderEntry) == b.map(renderEntry)

  // ── entry lines ──────────────────────────────────────────────────

  /** One manifest entry line (no trailing newline). */
  def renderEntry(e: Entry): String = {
    val sb = new StringBuilder
    sb.append(e.bytes).append('\t').append(e.rel)
    // third tab field: the DV key-column set — recorded only when
    // the names round-trip through the line format unambiguously
    val colsStr = e.cols.filter(cs => cs.nonEmpty &&
      cs.forall(c => !c.contains(',') && !c.contains('\t') && !c.contains('\n')))
      .map(_.mkString(","))
    // fourth tab field (r12): per-column key envelopes,
    // `name=min,max,nullflag` joined by ';' — readers that predate
    // the field ignore trailing fields, so the format stays
    // compatible in both directions. Bytes-domain envelopes (r16)
    // render as the 4-comma shape `name=B,hexlo,hexhi,nullflag`: a
    // pre-r16 reader's 3-field value match fails for exactly that
    // column and drops ONLY its envelope (graceful degradation to
    // the footer sweep — the versioning the value shape was designed
    // for). All-null files keep the domain-neutral `,,1` form.
    val envStr = e.envs.filter(_.nonEmpty)
      .map(_.toSeq.sortBy(_._1).collect {
        case (n, v) if !n.exists(";=,\t\n".contains(_)) =>
          if (v.bmin.isDefined || v.bmax.isDefined)
            s"$n=B,${v.bmin.getOrElse("")},${v.bmax.getOrElse("")}," +
              (if (v.hasNulls) "1" else "0")
          else
            s"$n=${v.min.fold("")(_.toString)},${v.max.fold("")(_.toString)}," +
              (if (v.hasNulls) "1" else "0")
      }.mkString(";"))
      .filter(_.nonEmpty)
    // fifth tab field (r12): the entry's commit sequence — written
    // for every stamped entry (empty cols/envs placeholders keep
    // the positions fixed); readers that predate it ignore trailing
    // fields, readers of manifests that predate it normalize
    // ([[parseEntry]]) to the global pre-seq semantics
    // sixth tab field (r16): the file's row count (metadata-only
    // counts); same trailing-field compatibility rule
    val rowsDef = e.rows.isDefined
    if (colsStr.isDefined || envStr.isDefined || e.seq >= 0 || rowsDef)
      sb.append('\t').append(colsStr.getOrElse(""))
    if (envStr.isDefined || e.seq >= 0 || rowsDef)
      sb.append('\t').append(envStr.getOrElse(""))
    if (e.seq >= 0 || rowsDef)
      sb.append('\t').append(if (e.seq >= 0) e.seq.toString else "")
    if (rowsDef) sb.append('\t').append(e.rows.get)
    sb.toString
  }

  /** Parse one entry line — the inverse of [[renderEntry]]. An entry
    * without the seq field (a pre-r12 manifest, or one carried from
    * it) gets the effective seq that reproduces the old GLOBAL
    * tombstone semantics: data → 0 (oldest), tombstones →
    * Long.MaxValue (apply to everything).
    */
  def parseEntry(l: String): Entry = {
    val parts = l.split("\t", -1)
    val envs =
      if (parts.length >= 4 && parts(3).nonEmpty)
        Some(parts(3).split(";").toSeq.flatMap { kv =>
          kv.split("=", 2) match {
            case Array(n, v) => v.split(",", -1) match {
              case Array(lo, hi, nf) =>
                Some(n -> ColEnv(
                  if (lo.isEmpty) None else Some(lo.toLong),
                  if (hi.isEmpty) None else Some(hi.toLong),
                  nf == "1"))
              // bytes-domain shape (r16): `B,hexlo,hexhi,nullflag`
              case Array("B", lo, hi, nf) =>
                Some(n -> ColEnv(None, None, nf == "1",
                  if (lo.isEmpty) None else Some(lo),
                  if (hi.isEmpty) None else Some(hi)))
              case _ => None
            }
            case _ => None
          }
        }.toMap).filter(_.nonEmpty)
      else None
    val isDel = parts(1).startsWith(DeletesDirName + "/")
    val seq =
      if (parts.length >= 5 && parts(4).nonEmpty) parts(4).toLong
      else if (isDel) Long.MaxValue
      else 0L
    val rows =
      if (parts.length >= 6 && parts(5).nonEmpty) Some(parts(5).toLong)
      else None
    Entry(parts(1), parts(0).toLong,
      if (parts.length >= 3 && parts(2).nonEmpty)
        Some(parts(2).split(",").toSeq)
      else None,
      envs, seq, rows)
  }

  // ── the three file kinds ─────────────────────────────────────────

  /** A full checkpoint `_MANIFEST`: header, then one line per entry. */
  def renderManifest(m: Manifest): String = {
    val sb = new StringBuilder
    renderHeader(sb, FormatTag, m, Nil)
    sb.append(renderPart(m.entries)).toString
  }

  def writeManifest(fs: FileSystem, vdir: Path, m: Manifest): Unit =
    writeExclusive(fs, new Path(vdir, ManifestName), renderManifest(m), "manifest")

  def parseManifest(text: String, p: Path): Manifest = {
    val (hdr, _, body) = parse(text, FormatTag, 3, "manifest", p)
    hdr.copy(entries = body.map(parseEntry).toSeq)
  }

  /** A `_MANIFEST_DELTA` against base version `baseV`: the full header
    * (O(columns) — it keeps each version's logical schema
    * self-contained), then `-rel` and `+entry` lines.
    */
  def renderDelta(hdr: Manifest, baseV: Long, removed: Seq[String],
                  added: Seq[Entry]): String = {
    val sb = new StringBuilder
    renderHeader(sb, DeltaTag, hdr, Seq(s"#base=$baseV"))
    removed.foreach(r => sb.append('-').append(r).append('\n'))
    added.foreach(e => sb.append('+').append(renderEntry(e)).append('\n'))
    sb.toString
  }

  def parseDelta(text: String, p: Path): ParsedDelta = {
    val (hdr, headers, body) = parse(text, DeltaTag, 4, "manifest delta", p)
    val baseV = values(headers, "#base=").headOption.map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"manifest delta $p carries no #base pointer"))
    val (removed, added) = body.partition(_.startsWith("-"))
    ParsedDelta(hdr, baseV, removed.map(_.stripPrefix("-")).toSet,
      added.map(l => parseEntry(l.stripPrefix("+"))).toSeq)
  }

  /** A `_MANIFEST_LIST`: header, then one `P` line per part. */
  def renderList(hdr: Manifest, refs: Seq[PartRef]): String = {
    val sb = new StringBuilder
    renderHeader(sb, ListTag, hdr, Nil)
    refs.foreach(r => sb.append("P\t").append(r.name).append('\t')
      .append(r.count).append('\t').append(r.len).append('\t')
      .append(r.firstRel).append('\n'))
    sb.toString
  }

  def parseList(text: String, p: Path): (Manifest, Vector[PartRef]) = {
    val (hdr, _, body) = parse(text, ListTag, 3, "manifest list", p)
    (hdr, body.filter(_.startsWith("P\t")).map { l =>
      val Array(_, name, cnt, len, firstRel) = l.split("\t", 5)
      PartRef(name, cnt.toInt, len.toLong, firstRel)
    }.toVector)
  }

  /** Entry lines, one per member: a list part, or a `_MANIFEST` body. */
  def renderPart(entries: Seq[Entry]): String = {
    val sb = new StringBuilder
    entries.foreach(e => sb.append(renderEntry(e)).append('\n'))
    sb.toString
  }

  def parsePart(text: String): Array[Entry] =
    text.split("\n", -1).filter(_.nonEmpty).map(parseEntry)

  // ── file io ──────────────────────────────────────────────────────

  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** The `#uuid=` commit-identity header of a manifest/delta/list file,
    * None for pre-r14 files (or a header beyond the probe window — the
    * EXTRACTION is the identity on both the cache-fill and the
    * cache-hit side, so any losiness cancels). One bounded read
    * (≤64 KiB: the header sits right after the DDL line).
    */
  def readCommitUuid(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      val buf = new Array[Byte](65536)
      val n = try in.readNBytes(buf, 0, buf.length) finally in.close()
      new String(buf, 0, math.max(n, 0), UTF_8)
        .linesIterator.collectFirst {
          case l if l.startsWith("#uuid=") => l.substring("#uuid=".length)
        }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Create-exclusive that is ATOMIC on every backing store we run
    * on. `FileSystem.create(path, overwrite = false)` is check-then-
    * act on the LOCAL filesystem (RawLocalFileSystem does an exists()
    * probe before opening — two racing creators can both succeed,
    * HADOOP-9361), which silently defeats a lock built on it; local
    * paths therefore go through `File.createNewFile()` (POSIX
    * O_CREAT|O_EXCL — the kernel arbitrates). HDFS's create IS atomic
    * at the namenode; strongly-consistent object stores honor
    * if-none-match semantics through their connectors.
    */
  def atomicCreate(fs: FileSystem, p: Path): Boolean =
    if (fs.getScheme == "file") {
      val f = new java.io.File(p.toUri.getPath)
      val parent = f.getParentFile
      if (parent != null) { parent.mkdirs(); () }
      try f.createNewFile() catch { case scala.util.control.NonFatal(_) => false }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }

  /** Create `p` EXCLUSIVELY ([[atomicCreate]]), then fill it in place.
    * Two writers racing to the same name (a defeated commit lock) fail
    * LOUDLY here instead of interleaving writes so the marker winner
    * commits the loser's bytes. Crash leftovers never collide — an
    * uncommitted stray `_v_n` makes the next commit compute n+1. Local
    * paths write through nio: Hadoop's RawLocalFS create() can fork a
    * chmod per file (~8 ms of process spawn).
    */
  def writeExclusive(fs: FileSystem, p: Path, text: String, what: String): Unit = {
    if (!atomicCreate(fs, p))
      throw new java.io.IOException(
        s"$what already exists at $p — a concurrent writer defeated the " +
          "commit lock; this commit did NOT land, re-plan and retry")
    val bytes = text.getBytes(UTF_8)
    if (fs.getScheme == "file")
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath), bytes)
    else {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }
    ()
  }

  /** Install `name` in a LIVE committed version dir (vacuum chain
    * promotion): temp file, then rename — a torn direct write would
    * shadow the dir's still-valid delta for concurrent readers. Loses
    * gracefully when a concurrent promoter already renamed; the
    * content is identical by construction.
    */
  def promote(fs: FileSystem, vdir: Path, name: String, text: String): Unit = {
    val dst = new Path(vdir, name)
    if (fs.exists(dst)) return
    val tmp = new Path(vdir, s"._promote_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    val renamed = try fs.rename(tmp, dst)
    catch { case scala.util.control.NonFatal(_) => false }
    if (!renamed)
      try fs.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => () }
  }
}
