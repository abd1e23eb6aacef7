package graft

import graft.operators.Snapshot
import graft.operators.Snapshot.{ColEnv, Entry, Manifest}
import org.apache.hadoop.fs.Path

/** Golden bytes of the snapshot metadata format: one fixed manifest,
  * committed as a `_MANIFEST`, a `_MANIFEST_DELTA` and a one-part
  * `_MANIFEST_LIST`, compared with literal text (the random `#uuid`,
  * the commit instant and the part file name masked). The manifest
  * covers every header kind, long / bytes-domain / all-null
  * envelopes, DV `cols`, `seq`, `rows`, and names the line format
  * drops because they carry its separators. Round-trips run through
  * the real files: a cold resolution parses what was rendered, and
  * re-committing the parsed manifest renders the same bytes again.
  */
class ManifestFormatSpec extends SparkSpec {

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ddl = "id BIGINT,txt STRING,p INT"

  private val fixed = Manifest(ddl, Seq("p"),
    Seq(
      Entry("p=2/f-b.parquet", 200, envs = Some(Map(
        "id" -> ColEnv(None, None, hasNulls = true),
        "txt" -> ColEnv(None, None, hasNulls = false, Some("ff"), None)))),
      Entry("_deletes/dv-a.parquet", 40, cols = Some(Seq("id")), seq = 2,
        rows = Some(1)),
      Entry("p=1/f-a.parquet", 100, envs = Some(Map(
        "id" -> ColEnv(Some(-5), Some(9), hasNulls = false),
        "txt" -> ColEnv(None, None, hasNulls = false, Some("6162"), Some("7a")),
        "we;ird" -> ColEnv(Some(1), Some(2), hasNulls = false))),
        rows = Some(7)),
      Entry("_deletes/dv-b.parquet", 30, cols = Some(Seq("a,b")), seq = 2)),
    aliases = Seq("old_id" -> "id", "bad:name" -> "txt"),
    dropped = Seq("gone"),
    note = Some("golden note"))

  private val added = Entry("p=3/f-c.parquet", 300,
    envs = Some(Map("id" -> ColEnv(Some(10), Some(20), hasNulls = false))),
    rows = Some(3))

  private val header = Seq(
    "id BIGINT,txt STRING,p INT",
    "p",
    "#uuid=*")
  private val headerTail = Seq(
    "#commit_ts=*",
    "#alias=old_id:id",
    "#dropped=gone")
  private val entryLines = Seq(
    "40\t_deletes/dv-a.parquet\tid\t\t2\t1",
    "30\t_deletes/dv-b.parquet\t\t\t2",
    "100\tp=1/f-a.parquet\t\tid=-5,9,0;txt=B,6162,7a,0\t1\t7",
    "200\tp=2/f-b.parquet\t\tid=,,1;txt=B,ff,,0\t1")

  private val goldenManifest = (Seq("graft-snapshot-v1") ++ header ++
    headerTail ++ Seq("#note=golden note") ++ entryLines).mkString("", "\n", "\n")
  private val goldenDelta = (Seq("graft-snapshot-delta-v1") ++ header ++
    Seq("#base=1") ++ headerTail ++ Seq(
      "#note=delta note",
      "-p=2/f-b.parquet",
      "+300\tp=3/f-c.parquet\t\tid=10,20,0\t2\t3")).mkString("", "\n", "\n")
  private val goldenPart = entryLines.mkString("", "\n", "\n")
  private val goldenList = (Seq("graft-snapshot-list-v1") ++ header ++
    headerTail ++ Seq("#note=golden note",
      s"P\t*\t4\t${goldenPart.getBytes("UTF-8").length}\t_deletes/dv-a.parquet"))
    .mkString("", "\n", "\n")

  /** What a cold read of `fixed` as committed at v1 must return: fresh
    * entries stamped with seq 1, separator-bearing names dropped.
    */
  private val parsedV1 = Manifest(ddl, Seq("p"),
    Seq(
      Entry("_deletes/dv-a.parquet", 40, cols = Some(Seq("id")), seq = 2,
        rows = Some(1)),
      Entry("_deletes/dv-b.parquet", 30, seq = 2),
      Entry("p=1/f-a.parquet", 100, envs = Some(Map(
        "id" -> ColEnv(Some(-5), Some(9), hasNulls = false),
        "txt" -> ColEnv(None, None, hasNulls = false, Some("6162"), Some("7a")))),
        seq = 1, rows = Some(7)),
      Entry("p=2/f-b.parquet", 200, envs = Some(Map(
        "id" -> ColEnv(None, None, hasNulls = true),
        "txt" -> ColEnv(None, None, hasNulls = false, Some("ff"), None))),
        seq = 1)),
    aliases = Seq("old_id" -> "id"),
    dropped = Seq("gone"),
    note = Some("golden note"))

  private def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def masked(text: String): String =
    text.split("\n", -1).map {
      case l if l.startsWith("#uuid=") => "#uuid=*"
      case l if l.startsWith("#commit_ts=") => "#commit_ts=*"
      case l if l.startsWith("P\t") =>
        val f = l.split("\t", -1); f(1) = "*"; f.mkString("\t")
      case l => l
    }.mkString("\n")

  private def vdir(root: Path, v: Long) = new Path(root, f"_v_$v%020d")

  private def coldAt(root: Path, v: Long): Manifest = {
    Snapshot.clearResolvedCache()
    val m = Snapshot.manifestAt(fs, vdir(root, v)).get
    assert(m.commitTsMillis.isDefined, "every commit records its instant")
    m.copy(commitTsMillis = None)
  }

  /** Commit `m` blind as v1 and the fixed delta as v2; returns the
    * (v1 `_MANIFEST`, v2 `_MANIFEST_DELTA`) texts.
    */
  private def commitPair(root: Path, m: Manifest): (String, String) = {
    assert(Snapshot.commitVersion(fs, root, m, keepVersions = 10) == 1L)
    assert(Snapshot.commitRebase(fs, root, 1L, Set("p=2/f-b.parquet"),
      Seq(added), ddl, Seq("p"), keepVersions = 10,
      note = Some("delta note")) == 2L)
    (read(new Path(vdir(root, 1), "_MANIFEST")),
      read(new Path(vdir(root, 2), "_MANIFEST_DELTA")))
  }

  test("golden _MANIFEST and _MANIFEST_DELTA bytes; parse and render round-trip") {
    val root = new Path(tempDir("mfmt_text"), "t")
    val (full, delta) = commitPair(root, fixed)
    assert(masked(full) == goldenManifest)
    assert(masked(delta) == goldenDelta)
    // parse ∘ render: the cold resolution is the normalized manifest
    assert(coldAt(root, 1) == parsedV1)
    assert(coldAt(root, 2) == parsedV1.copy(
      entries = parsedV1.entries.filterNot(_.rel == "p=2/f-b.parquet") :+
        added.copy(seq = 2),
      note = Some("delta note")))
    // render ∘ parse: committing the parsed manifest renders the same bytes
    val again = new Path(tempDir("mfmt_text2"), "t")
    val (full2, delta2) = commitPair(again, parsedV1)
    assert(masked(full2) == goldenManifest)
    assert(masked(delta2) == goldenDelta)
  }

  test("golden one-part _MANIFEST_LIST bytes; parse and render round-trip") {
    val saved = Snapshot.ListCheckpointMin
    Snapshot.ListCheckpointMin = 1
    try {
      def listAt(root: Path): (String, String) = {
        val text = read(new Path(vdir(root, 1), "_MANIFEST_LIST"))
        val part = text.split("\n").find(_.startsWith("P\t")).get.split("\t")(1)
        (text, read(new Path(new Path(root, "_manifest_parts"), part)))
      }
      val root = new Path(tempDir("mfmt_list"), "t")
      assert(Snapshot.commitVersion(fs, root, fixed, keepVersions = 10) == 1L)
      val (list, part) = listAt(root)
      assert(masked(list) == goldenList)
      assert(part == goldenPart)
      assert(coldAt(root, 1) == parsedV1)
      val again = new Path(tempDir("mfmt_list2"), "t")
      assert(Snapshot.commitVersion(fs, again, parsedV1, keepVersions = 10) == 1L)
      val (list2, part2) = listAt(again)
      assert(masked(list2) == goldenList)
      assert(part2 == goldenPart)
    } finally Snapshot.ListCheckpointMin = saved
  }
}
