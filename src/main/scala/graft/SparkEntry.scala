package graft

import graft.engine.{Planner, Runner}
import graft.operators.WriteOps
import graft.spec._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry routes through the engine (spec → Planner/WriteOps), so
  * the oracle checks exercise the declarative surface, not ad-hoc
  * DataFrame code. Column names are aliased identically in the Spark
  * plan and the oracle SQL (driver hash-compares by sorted column name).
  */
object SparkEntry {

  /** Shared scratch root for queries that materialize a table layout
    * (snapshot/DV/index gate rows): one per-process temp root, removed
    * by a JVM shutdown hook, so repeated bench/verify invocations
    * (warmup + timed run) never accumulate leaked snapshot layouts.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles()
        if (kids != null) kids.foreach(rm)
        p.delete(); ()
      }
      rm(r.toFile)
    }))
    r
  }
  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  private def ds(dir: String, name: String) = DatasetRef("parquet", dir, name)
  private def src(dir: String, name: String, query: (String, String)*) =
    SourceSpec(ds(dir, name), query.toSeq)
  private def read(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Resolver.readParquet(s, s"$dir/$name.parquet")

  /** Exact row count of a plain parquet file/dir from its footers —
    * driver-side metadata, zero Spark jobs (r18, guide §5: the bench
    * fixtures paid a full count JOB per seeded table just to size
    * `maxRecordsPerFile`). Footer record counts are exact for
    * committed parquet, so every derived value (`maxRecordsPerFile`,
    * law comparisons against the source total) is bit-identical to
    * what `df.count()` returned. Fixture sizing only — engine query
    * paths keep their own metadata plane ([[graft.engine.Runner.count]]).
    */
  private def pathRows(s: SparkSession, path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
      else Seq(p)
    files.map { f =>
      val r = graft.operators.Footers.open(conf, f)
      try r.getRecordCount finally r.close()
    }.sum
  }
  private def rowsOf(s: SparkSession, dir: String, name: String): Long =
    pathRows(s, s"$dir/$name.parquet")

  /** Byte-identical clone of a committed snapshot-layout table —
    * FIXTURE seeding only (r19, verdict #4): the q_delete_dv_pred twin
    * law compares LOGICAL tables, so seeding the second table by file
    * copy of the first's committed layout proves the same law at half
    * the seed cost. Valid because the layout is rel-path-addressed
    * (manifest entries, markers, pool files — nothing records the
    * root), so a recursive copy IS a committed table.
    */
  private def cloneSnapshot(s: SparkSession, srcPath: String,
                            dstPath: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = s.sparkContext.hadoopConfiguration
    val src = new Path(srcPath)
    val dst = new Path(dstPath)
    val fs = src.getFileSystem(conf)
    require(fs.exists(src), s"cloneSnapshot: missing source $srcPath")
    if (fs.exists(dst)) fs.delete(dst, true)
    require(FileUtil.copy(fs, src, fs, dst, false, conf),
      s"cloneSnapshot: copy $srcPath -> $dstPath failed")
  }

  /** Exact max of a required int64 column from parquet footer
    * statistics — driver-side, zero jobs (footer min/max is exact for
    * long columns; same value `agg(max(col))` computed with a full
    * scan job). Used for the SF-independent range bounds the covered
    * count/aggregate gates derive from the key domain. Loud when any
    * row group lacks the statistic — silence would change the bound.
    */
  private def colMaxLong(s: SparkSession, path: String, column: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val r = graft.operators.Footers.open(conf,
      new org.apache.hadoop.fs.Path(path))
    try {
      val maxes = r.getFooter.getBlocks.asScala.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map { c =>
            val st = c.getStatistics
            require(st != null && st.hasNonNullValue,
              s"no footer max statistic for $column in $path")
            st.genericGetMax match {
              case l: java.lang.Long => l.longValue
              case i: java.lang.Integer => i.longValue
              case other => throw new IllegalArgumentException(
                s"$column footer stat is ${other.getClass.getName}, not long")
            }
          }
      }
      require(maxes.nonEmpty, s"no row groups with $column in $path")
      maxes.max
    } finally r.close()
  }

  /** Fixed merge list for `q_bpe_encode` (a LITERAL parameter, not a
    * trained artifact, so the DuckDB oracle can replay the identical
    * replace chain; training itself is law-checked in ExtSpec).
    */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r", "an" -> "d")

  /** Fixed merge list for `q_bpe_bytes` (byte-level family) — LITERAL
    * for the same oracle-replay reason as [[BpeMerges]]; training is
    * law-checked in ByteBpeSpec. `Ġ` is the mapped space byte (0x20 →
    * U+0120 in the GPT-2 byte alphabet): these merges build the
    * space-prefixed word tokens byte-level vocabularies are made of.
    */
  private val ByteBpeSpace: String =
    graft.functions.TextExprs.ByteAlphabet.byteToChar(32).toString
  private val ByteBpeMerges: Seq[(String, String)] = Seq(
    ByteBpeSpace -> "t", (ByteBpeSpace + "t") -> "a",
    (ByteBpeSpace + "ta") -> "b", "l" -> "e",
    (ByteBpeSpace + "tab") -> "le", ByteBpeSpace -> "s",
    "e" -> "y", (ByteBpeSpace + "s") -> "c")

  /** Fixed unigram-LM piece costs (integer micro-nats) for the
    * oracle-replayable Viterbi twin: every word character ([a-z0-9_]
    * after the shared tokenizer) has an explicit cost so the unknown
    * fallback never fires, plus common English bigrams/trigrams cheap
    * enough to win over their character spellings. Mirrored verbatim
    * in the `q_unigram_segment_exact` oracle's VALUES list.
    */
  /** Zipf-ish target shares for the mixture-solver gate row —
    * normalized once here; the oracle's VALUES list is generated from
    * the same map at full double precision (single source of truth).
    */
  private val MixShares: Map[String, Double] = {
    val raw = (0 until 20).map(i => s"src$i" -> 1.0 / (1 + i)).toMap
    raw // MixPlanner.plan normalizes internally
  }

  private val UnigramFixedCosts: Map[String, Long] =
    (("abcdefghijklmnopqrstuvwxyz0123456789_".map(c =>
      c.toString -> 1500000L)) ++ Seq(
      "th" -> 2000000L, "he" -> 2000000L, "in" -> 2000000L,
      "er" -> 2000000L, "an" -> 2000000L, "re" -> 2000000L,
      "on" -> 2000000L, "at" -> 2000000L, "en" -> 2000000L,
      "es" -> 2000000L, "the" -> 2500000L, "ing" -> 2800000L)).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Planner.plan(spark, JobSpec(
      src("/root/testdata/sf0.001", "lineitem",
        "l_quantity__gte" -> "30", "_sort" -> "-l_extendedprice,l_orderkey,l_linenumber",
        "_limit" -> "100"),
      merger = Some(MergerSpec(ds("/root/testdata/sf0.001", "orders"),
        query = Seq("o_orderkey" -> "#l_orderkey#")))))

  /** One entry per implemented operator from SURVEY.md §2. ListMap:
    * iteration order == declaration order, so bench/verify runs are
    * reproducible across rounds (a HashMap reshuffles execution order
    * whenever an entry is added, which moves cold-cache costs between
    * queries and muddies round-over-round comparisons).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(

    // ── F1 equality filter ────────────────────────────────────────────
    "q_filter_eq" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "customer", "c_mktsegment" -> "BUILDING", "_sort" -> "c_custkey")))),

    // ── F2 operator suffixes gte/lt/in ────────────────────────────────
    "q_filter_ops" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "lineitem",
        "l_quantity__gte" -> "30", "l_discount__lt" -> "0.03",
        "l_returnflag__in" -> "A,N",
        "_fields" -> "l_orderkey,l_linenumber,l_quantity,l_discount,l_returnflag",
        "_sort" -> "l_orderkey,l_linenumber")))),

    // ── F3/F4 sort + limit (top-N) ────────────────────────────────────
    "q_sort_limit" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders", "_sort" -> "-o_totalprice,o_orderkey", "_limit" -> "10")))),

    // ── F5 projection with exclusion ──────────────────────────────────
    "q_fields_excl" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders", "_fields" -> "-o_orderpriority,-o_orderstatus",
        "_sort" -> "o_orderkey")))),

    // ── F6/S12 count with _limit cap (min rule, base.py:486-490) ──────
    "q_count" -> ((s, dir) => {
      import s.implicits._
      Seq(Runner.count(s, src(dir, "lineitem", "l_returnflag" -> "R"))).toDF("cnt")
    }),
    "q_count_capped" -> ((s, dir) => {
      import s.implicits._
      Seq(Runner.count(s, src(dir, "lineitem",
        "l_returnflag" -> "R", "_limit" -> "100"))).toDF("cnt")
    }),

    // ── [EXT] §2.10 r17: PREDICATE-COVERED metadata count — a range
    // `_count` on a sorted snapshot table sums the manifest's recorded
    // row counts for envelope-interior files and scans ONLY the
    // boundary files (the Iceberg planner's count shape); in-query
    // law: ≤2 boundary members, the rest decided driver-side ─────────
    "q_count_range" -> ((s, dir) => {
      import s.implicits._
      val li = read(s, dir, "lineitem")
      val nLi = rowsOf(s, dir, "lineitem") // footer metadata, no job
      val scratch = scratchDir("graft_cntrange")
      val p = s"$scratch/li.parquet"
      WriteOps.atomicOverwrite(s, li, p, indexBy = Seq("l_orderkey"),
        maxRecordsPerFile = math.max(500, nLi / 24),
        commitMode = "snapshot", rowsHint = Some(nLi))
      // SF-independent range: [100, 60% of the key domain] — interior
      // files exist at every SF (the oracle replays the same bound);
      // footer max stats are exact for int64, same value the agg read
      val hi = colMaxLong(s, s"$dir/lineitem.parquet", "l_orderkey") * 6 / 10
      val range = SourceSpec(DatasetRef("parquet", scratch, "li"),
        query = Seq("l_orderkey__gte" -> "100", "l_orderkey__lte" -> hi.toString))
      val n = Runner.count(s, range)
      // the split `--dry --count` reports: the one the count planned
      val (cov, bnd, tot, _) =
        Runner.countPlan(s, range).getOrElse((-1, -1, -1, 0L))
      require(tot > 0, "the range count must take the metadata count plan")
      require(cov > 0 && bnd <= 2,
        s"a sorted-layout range count must decide interior files from " +
          s"the manifest and scan only the straddling ones " +
          s"(covered $cov, boundary $bnd of $tot)")
      Seq(n).toDF("cnt")
    }),

    // ── [EXT] §2.10 r17: METADATA-ONLY aggregates — `_agg min/max/
    // count` on a tombstone-free snapshot answers from the manifest
    // envelopes (long AND timestamp domains here) as a LOCAL one-row
    // relation, zero Spark jobs; in-query law: the optimized plan IS
    // a LocalRelation (no scan node at all) ──────────────────────────
    "q_agg_metadata" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val scratch = scratchDir("graft_aggmeta")
      val p = s"$scratch/ord.parquet"
      graft.operators.Snapshot.overwrite(s, orders, p,
        indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(200, nOrd / 24),
        statsCols = Seq("o_orderdate"), rowsHint = Some(nOrd))
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "ord"),
        query = Seq("_agg" -> ("min:o_orderkey,max:o_orderkey," +
          "min:o_orderdate,max:o_orderdate,count"))))
      require(frame.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "the metadata aggregate must plan as a LOCAL relation — " +
          "no scan node, zero jobs")
      frame
    }),

    // ── [EXT] §2.10 r18: PER-GROUP metadata aggregates — `_group` by
    // a PARTITION column answers "rows per year" from partition point
    // values + recorded rows/envelopes driver-side (the Iceberg
    // `partitions` metadata-table shape, verdict #2), no scan at all;
    // in-query law: every leaf of the optimized plan is a LOCAL
    // relation (the only node above it is the `_sort`) ───────────────
    "q_group_metadata" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      val scratch = scratchDir("graft_gmeta")
      val p = s"$scratch/ord.parquet"
      WriteOps.atomicOverwrite(s, orders, p, partitionBy = Seq("o_year"),
        indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(200, rowsOf(s, dir, "orders") / 48),
        commitMode = "snapshot", statsCols = Seq("o_orderdate"))
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "ord"),
        query = Seq("_group" -> "o_year",
          "_agg" -> "count,min:o_orderdate,max:o_orderdate",
          "_sort" -> "o_year")))
      require(frame.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "the grouped metadata aggregate must read no files — every " +
          "leaf a LOCAL relation")
      frame
    }),

    // ── [EXT] §2.10 r18: PREDICATE-COVERED metadata aggregates —
    // `_agg min/max/count` under a key range folds covered members'
    // recorded envelopes driver-side and scans ONLY the straddling
    // files, merging in the envelope domain (covers ∘ metadataPlan,
    // verdict #3); in-query law: ≤2 boundary members, the rest
    // decided from the manifest ──────────────────────────────────────
    "q_agg_range" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val nLi = rowsOf(s, dir, "lineitem") // footer metadata, no job
      val scratch = scratchDir("graft_aggrange")
      val p = s"$scratch/li.parquet"
      WriteOps.atomicOverwrite(s, li, p, indexBy = Seq("l_orderkey"),
        maxRecordsPerFile = math.max(500, nLi / 24),
        commitMode = "snapshot", statsCols = Seq("l_shipdate"),
        rowsHint = Some(nLi))
      // the same SF-independent range as q_count_range (the oracle
      // replays the bound); footer max stats are exact for int64
      val hi = colMaxLong(s, s"$dir/lineitem.parquet", "l_orderkey") * 6 / 10
      graft.operators.Snapshot.lastMetadataPlan = (-1, -1, -1)
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "li"),
        query = Seq("l_orderkey__gte" -> "100",
          "l_orderkey__lte" -> hi.toString,
          "_agg" -> "min:l_shipdate,max:l_shipdate,count")))
      val (cov, bnd, tot) = graft.operators.Snapshot.lastMetadataPlan
      require(tot > 0, "the range aggregate must take the covered plan")
      require(cov > 0 && bnd <= 2,
        s"a sorted-layout range aggregate must fold interior files " +
          s"from the manifest and scan only the straddling ones " +
          s"(covered $cov, boundary $bnd of $tot)")
      frame
    }),

    // ── J1/J2 merger: left-outer correlated lookup ────────────────────
    "q_merge_left" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders", "_sort" -> "o_orderkey"),
      merger = Some(MergerSpec(ds(dir, "customer"),
        query = Seq("c_custkey" -> "#o_custkey#")))))),

    // ── J9 named merge rule: sum a shared column on match ─────────────
    "q_merge_rule" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders", "_sort" -> "o_orderkey"),
      merger = Some(MergerSpec(ds(dir, "customer"),
        query = Seq("c_custkey" -> "#o_custkey#"),
        postRead = Seq(TransformStage("rename", Seq("c_acctbal", "o_totalprice"))),
        mergeRule = Some(TransformStage("sum", Seq("o_totalprice")))))))),

    // ── J3+J5 require_match + match_one (first order per customer) ────
    "q_merge_inner" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "customer", "_sort" -> "c_custkey"),
      merger = Some(MergerSpec(ds(dir, "orders"),
        query = Seq("o_custkey" -> "#c_custkey#"),
        requireMatch = true))))),

    // ── J4 require_no_match (anti-join: orders without lineitems) ─────
    "q_merge_anti" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders", "_sort" -> "o_orderkey"),
      merger = Some(MergerSpec(ds(dir, "lineitem"),
        query = Seq("l_orderkey" -> "#o_orderkey#"),
        requireNoMatch = true))))),

    // ── J6 unwind (1:N expansion) + literal merger-side filter ────────
    "q_merge_unwind" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders", "o_orderstatus" -> "F",
        "_sort" -> "o_orderkey"),
      merger = Some(MergerSpec(ds(dir, "lineitem"),
        query = Seq("l_orderkey" -> "#o_orderkey#", "l_quantity__gte" -> "45"),
        unwind = true))))
      .orderBy(col("o_orderkey").asc, col("l_linenumber").asc_nulls_first)),

    // ── J8+F7 merge_as nesting + flatten ──────────────────────────────
    "q_merge_as_flat" -> ((s, dir) => {
      val merged = Planner.plan(s, JobSpec(
        src(dir, "orders", "_sort" -> "o_orderkey"),
        merger = Some(MergerSpec(ds(dir, "customer"),
          query = Seq("c_custkey" -> "#o_custkey#"),
          mergeAs = Some("cust")))))
      graft.functions.StructUtils.flatten(merged).orderBy("o_orderkey")
    }),

    // ── W4 upsert ─────────────────────────────────────────────────────
    "q_write_upsert" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      WriteOps.upsert(orders, batch, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // ── W6 insert (skip existing keys) ────────────────────────────────
    "q_write_insert" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      WriteOps.insert(orders, batch, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // ── W3+W9+F10 update restricted by tq, per-field overwrite ────────
    "q_write_update" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val batch = orders.filter(col("o_orderkey") < 2000)
        .withColumn("o_orderpriority", lit("9-UPDATED"))
      WriteOps.update(orders, batch, Seq("o_orderkey"),
        tq = Seq("o_orderstatus" -> "O"),
        overwrite = Seq("o_orderpriority")).orderBy("o_orderkey")
    }),

    // ── W5 delete ─────────────────────────────────────────────────────
    "q_write_delete" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val batch = orders.filter(col("o_orderstatus") === "F" && col("o_orderkey") < 5000)
      WriteOps.delete(orders, batch, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // ── [EXT r10] DELETION-VECTOR delete (merge-on-read): the same
    // keyed delete as q_write_delete but committed as pk TOMBSTONES
    // into a snapshot layout — the in-query requires prove ZERO data
    // files were written or removed (O(batch) bytes, one manifest),
    // yet the read excludes the rows and v1 time-travels intact. The
    // oracle replays the logical delete. ──────────────────────────────
    "q_delete_dv" -> ((s, dir) => {
      val scratch = scratchDir("graft_dv")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", keepVersions = 3, rowsHint = Some(nOrd))
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles = graft.operators.Snapshot
        .listDataFilesRec(fsys, graft.operators.Snapshot.dataDir(hp))
        .map(_.getPath.toString).toSet
      val before = dataFiles
      val keys = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") < 5000)
        .select("o_orderkey")
      graft.operators.Snapshot.deleteByKeys(s, p, keys, keepVersions = 3)
      require(dataFiles == before,
        "DV delete must not write or remove any data file")
      require(graft.sources.Resolver.readParquet(s, p, Some(1L)).count() ==
        nOrd, "v1 must time-travel intact through the DV commit")
      graft.sources.Resolver.readParquet(s, p).orderBy("o_orderkey")
    }),

    // ── [EXT r12] PREDICATE deletion vector (Iceberg equality-delete
    // analog, generalized): the same logical delete as q_delete_dv but
    // committed as the PREDICATE ITSELF — the GDPR/retention shape
    // needs no scan to materialize matching pks, writes O(predicate
    // string) bytes, and reads drop matching rows via a pushed filter
    // instead of an anti-join. In-query requires prove ZERO data files
    // were touched, v1 time-travels intact, AND the law: predicate-DV
    // ≡ keys-DV on the materialized key set (a twin table deletes the
    // same rows by key; both reads must agree exactly). ──────────────
    "q_delete_dv_pred" -> ((s, dir) => {
      val scratch = scratchDir("graft_dvp")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val mrpf = math.max(500, nOrd / 24)
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = mrpf, commitMode = "snapshot", keepVersions = 3,
        rowsHint = Some(nOrd))
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles = graft.operators.Snapshot
        .listDataFilesRec(fsys, graft.operators.Snapshot.dataDir(hp))
        .map(_.getPath.toString).toSet
      val before = dataFiles
      // LAW twin seeded by byte-identical clone of the PRISTINE v1
      // layout (r19, verdict #4): the law compares the two tables'
      // LOGICAL content after independent DV commits — a second full
      // sorted seed write proved nothing the copy does not
      val twin = s"$scratch/orders_k.parquet"
      cloneSnapshot(s, p, twin)
      val pred = "o_orderstatus = 'F' AND o_orderkey < 5000"
      graft.operators.Snapshot.deleteByPredicate(s, p, pred, keepVersions = 3)
      require(dataFiles == before,
        "predicate-DV delete must not write or remove any data file")
      require(graft.sources.Resolver.readParquet(s, p, Some(1L)).count() ==
        nOrd, "v1 must time-travel intact through the DV commit")
      // LAW: predicate-DV ≡ keys-DV on the materialized key set
      graft.operators.Snapshot.deleteByKeys(s, twin,
        orders.filter(expr(pred)).select("o_orderkey"), keepVersions = 3)
      val byPred = graft.sources.Resolver.readParquet(s, p)
      val byKeys = graft.sources.Resolver.readParquet(s, twin)
      // symmetric difference in ONE job (the q_dedup_cdc_index law
      // shape, r18) — two separate isEmpty actions each re-scanned
      // both tables
      require(byPred.exceptAll(byKeys)
        .unionAll(byKeys.exceptAll(byPred)).isEmpty,
        "predicate-DV and keys-DV must serve identical logical tables")
      byPred.orderBy("o_orderkey")
    }),

    // ── [EXT r11] incremental upsert THROUGH active deletion vectors:
    // the pruned merge anti-joins the tombstone set on its touched-file
    // reads and commits only the SURVIVING tombstones (batch-re-asserted
    // keys drop), so a GDPR-delete stream and incremental upserts
    // compose at O(touched files) + O(deletes) cost instead of a
    // full-table rewrite. In-query requires prove the strict-subset
    // rewrite and the retained tombstones; the oracle replays
    // delete-then-upsert on the logical table. ────────────────────────
    "q_write_upsert_dv" -> ((s, dir) => {
      val scratch = scratchDir("graft_updv")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", keepVersions = 3, rowsHint = Some(nOrd))
      val keys = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") < 5000)
        .select("o_orderkey")
      graft.operators.Snapshot.deleteByKeys(s, p, keys, keepVersions = 3)
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val stats = graft.operators.PrunedMerge.merge(
        s, graft.sources.Resolver.readParquet(s, p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey"), commitMode = "snapshot"), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"DV-composed merge must rewrite a strict file subset, got $stats")
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, vdir) = graft.operators.Snapshot.resolveVersion(fsys, hp, None)
      require(graft.operators.Snapshot.manifestAt(fsys, vdir).get
        .deleteEntries.nonEmpty,
        "tombstones the batch did not re-assert must survive the merge")
      graft.sources.Resolver.readParquet(s, p).orderBy("o_orderkey")
    }),

    // ── [EXT r12-late] incremental upsert THROUGH a live PREDICATE
    // deletion vector: the q_write_upsert_dv shape, with the delete
    // committed as the predicate itself. The pruned merge now COMPOSES
    // (r12-late): touched reads fold the predicate as a pushed filter
    // per sequence class, the base predicate commits unchanged (the
    // rewritten files' new seq exempts them — batch write wins), and
    // untouched files keep reading through it. In-query requires prove
    // the strict-subset rewrite and the retained predicate; same
    // oracle as q_write_upsert_dv (the two delete routes must serve
    // the same logical table). ────────────────────────────────────────
    "q_write_upsert_dv_pred" -> ((s, dir) => {
      val scratch = scratchDir("graft_updvp")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", keepVersions = 3, rowsHint = Some(nOrd))
      graft.operators.Snapshot.deleteByPredicate(s, p,
        "o_orderstatus = 'F' AND o_orderkey < 5000", keepVersions = 3)
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val stats = graft.operators.PrunedMerge.merge(
        s, graft.sources.Resolver.readParquet(s, p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey"), commitMode = "snapshot"), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"predicate-composed merge must rewrite a strict file subset, got $stats")
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val (_, vdir) = graft.operators.Snapshot.resolveVersion(fsys, hp, None)
      require(graft.operators.Snapshot.manifestAt(fsys, vdir).get
        .deleteEntries.nonEmpty,
        "the base predicate must survive the merge (seq order composes)")
      graft.sources.Resolver.readParquet(s, p).orderBy("o_orderkey")
    }),

    // ── [EXT r12] APPEND-SHAPED upsert (the Hudi merge-on-read
    // deltacommit analog, expressed with commit sequence numbers): the
    // same delete-then-upsert as q_write_upsert_dv, but committed as
    // (batch file + batch-key tombstone) at ONE new seq — zero data
    // files read, rewritten, or removed; O(batch) bytes at any table
    // size, reads pay the anti-join until compaction folds the debt.
    // In-query requires prove strict membership preservation (every
    // pre-commit manifest entry survives) and that the only additions
    // are one data file + one tombstone at the new commit's seq. Same
    // oracle as q_write_upsert_dv: both routes must serve the same
    // logical table. ──────────────────────────────────────────────────
    "q_write_upsert_append" -> ((s, dir) => {
      val scratch = scratchDir("graft_upap")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", keepVersions = 3, rowsHint = Some(nOrd))
      graft.operators.Snapshot.deleteByKeys(s, p, orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") < 5000)
        .select("o_orderkey"), keepVersions = 3)
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val m0 = graft.operators.Snapshot.manifestAt(fsys,
        graft.operators.Snapshot.resolveVersion(fsys, hp, None)._2).get
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val (v, nKeys) = graft.operators.Snapshot.upsertAppend(s, p, batch,
        Seq("o_orderkey"), indexBy = Seq("o_orderkey"), keepVersions = 3)
      require(nKeys == batch.count(), "every batch key must be asserted")
      val m1 = graft.operators.Snapshot.manifestAt(fsys,
        graft.operators.Snapshot.resolveVersion(fsys, hp, None)._2).get
      require(m0.entries.forall(m1.entries.contains),
        "append-shaped upsert must not touch any existing member")
      val added = m1.entries.filterNot(m0.entries.contains)
      require(added.count(!_.rel.startsWith("_deletes/")) == 1 &&
        added.count(_.rel.startsWith("_deletes/")) == 1 &&
        added.forall(_.seq == v),
        s"additions must be one batch file + one tombstone at seq $v, " +
          s"got ${added.map(e => (e.rel, e.seq))}")
      graft.sources.Resolver.readParquet(s, p).orderBy("o_orderkey")
    }),

    // ── W2 index (full record replace by pk) ──────────────────────────
    "q_write_index" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_orderpriority", lit(null).cast("string"))
      WriteOps.index(orders, batch, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // ── [EXT] file-level pruned MERGE: the same upsert as
    // q_write_upsert, but executed THROUGH the footer-envelope pruned
    // writer against a sorted-layout copy of `orders` — only files
    // whose pk range intersects the batch are rewritten; the require
    // proves the pruned path actually ran and actually pruned. Output
    // must be ≡ q_write_upsert (same oracle SQL).
    "q_write_upsert_pruned" -> ((s, dir) => {
      val scratch = scratchDir("graft_pm")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24), rowsHint = Some(nOrd))
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val stats = graft.operators.PrunedMerge.merge(
        s, s.read.parquet(p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey")), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"pruned merge must rewrite a strict subset of files, got $stats")
      s.read.parquet(p).orderBy("o_orderkey")
    }),

    // ── [EXT r9] the same keyed upsert against a PARTITIONED sorted
    // target: hive-dir point envelopes compose with footer envelopes,
    // so only pk-intersecting files INSIDE partitions rewrite (the
    // in-query require proves a strict file subset, the oracle proves
    // the rows) ───────────────────────────────────────────────────────
    "q_write_upsert_part_pruned" -> ((s, dir) => {
      val scratch = scratchDir("graft_pmp")
      val orders = read(s, dir, "orders")
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, partitionBy = Seq("o_orderstatus"),
        indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, rowsOf(s, dir, "orders") / 24))
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val stats = graft.operators.PrunedMerge.merge(
        s, s.read.parquet(p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey"), partitionBy = Seq("o_orderstatus")), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"partitioned pruned merge must rewrite a strict file subset, got $stats")
      s.read.parquet(p).orderBy("o_orderkey")
    }),

    // ── [EXT r9] snapshot time travel, driver-visible: the upsert
    // commits an INCREMENTAL manifest version (in-query requires prove
    // a strict-subset rewrite AND cross-version file sharing); reading
    // `_version=1` afterwards must return the PRE-upsert table
    // bit-for-bit, while the latest read sees the merge. The oracle
    // replays both logical states from the source table.
    "q_time_travel" -> ((s, dir) => {
      val scratch = scratchDir("graft_tt")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", rowsHint = Some(nOrd))
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val stats = graft.operators.PrunedMerge.merge(
        s, graft.sources.Resolver.readParquet(s, p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey"), commitMode = "snapshot"), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"snapshot pruned merge must rewrite a strict subset, got $stats")
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def rels(v: Long) = {
        val (_, vd) = graft.operators.Snapshot.resolveVersion(
          fs, new org.apache.hadoop.fs.Path(p), Some(v))
        graft.operators.Snapshot.manifestAt(fs, vd).get.entries.map(_.rel).toSet
      }
      require(rels(1).intersect(rels(2)).nonEmpty,
        "incremental commit must share untouched files across versions")
      val v1 = graft.sources.Resolver.readParquet(s, p, Some(1L))
        .withColumn("snap", lit("v1"))
      val v2 = graft.sources.Resolver.readParquet(s, p, Some(2L))
        .withColumn("snap", lit("v2"))
      v1.unionAll(v2).select("snap", "o_orderkey", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    }),

    // ── [EXT r9] CDC changelog between two snapshot versions: full
    // row images classified insert / delete / update_preimage /
    // update_postimage (the Delta CDF row contract) from ONE
    // full-outer pk join. v2 is a deterministic transform of orders —
    // the oracle enumerates the expected change rows per class.
    "q_changelog" -> ((s, dir) => {
      val scratch = scratchDir("graft_cdc")
      val orders = read(s, dir, "orders")
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot")
      val v2 = orders
        .filter(!(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)) // deletes
        .withColumn("o_totalprice", // updates
          when(col("o_orderkey") < 1000, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionAll(orders.filter(col("o_orderkey") < 100) // inserts
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      WriteOps.atomicOverwrite(s, v2, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot")
      graft.operators.Snapshot.changelog(s, p, 1L, 2L, Seq("o_orderkey"))
        .select("o_orderkey", "o_totalprice", "_change_type", "_commit_version")
        .orderBy("o_orderkey", "_change_type")
    }),

    // ── [EXT r12] CDC across a COLUMN RENAME (field-mapping schema
    // evolution, the Delta column-mapping analog): v2 is q_changelog's
    // transform, v3 renames o_totalprice→o_price METADATA-ONLY. The
    // changelog must travel the rename — pre-rename steps align to the
    // current name via the manifest alias map, the pure-rename step
    // emits ZERO change rows, time travel keeps each version's own
    // names, and zero data files are touched (in-query requires). ─────
    "q_changelog_rename" -> ((s, dir) => {
      val scratch = scratchDir("graft_ren")
      val orders = read(s, dir, "orders")
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot", keepVersions = 5)
      val v2 = orders
        .filter(!(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000))
        .withColumn("o_totalprice",
          when(col("o_orderkey") < 1000, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionAll(orders.filter(col("o_orderkey") < 100)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      WriteOps.atomicOverwrite(s, v2, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot", keepVersions = 5)
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles = graft.operators.Snapshot
        .listDataFilesRec(fsys, graft.operators.Snapshot.dataDir(hp))
        .map(_.getPath.toString).toSet
      val before = dataFiles
      graft.operators.Snapshot.renameColumn(s, p, "o_totalprice", "o_price",
        keepVersions = 5)
      require(dataFiles == before, "rename must touch zero data files")
      require(graft.operators.Snapshot.changelog(s, p, 2L, 3L,
        Seq("o_orderkey")).isEmpty,
        "a pure metadata rename must emit zero change rows")
      require(graft.sources.Resolver.readParquet(s, p, Some(1L))
        .columns.contains("o_totalprice"),
        "time travel must keep each version's own names")
      require(graft.sources.Resolver.readParquet(s, p)
        .columns.contains("o_price"), "the head must serve the new name")
      graft.operators.Snapshot.changelogSince(s, p, 1L, Seq("o_orderkey"))
        .select("o_orderkey", "o_price", "_change_type", "_commit_version")
        .orderBy("o_orderkey", "_change_type")
    }),

    // ── [EXT r12] COLUMN DROP as metadata (completes the rename's
    // evolution family): drop o_orderpriority metadata-only — zero
    // data files touched, time travel keeps the pre-drop schema, the
    // pure-drop changelog step emits zero rows, and post-drop pruned
    // upserts write the narrowed schema while retained files carry the
    // extra physical column harmlessly. Re-adding the name refuses
    // while those files exist (resurrection fence, in-query require).
    // Oracle: the logical table after drop + upsert. ──────────────────
    "q_drop_column" -> ((s, dir) => {
      val scratch = scratchDir("graft_drop")
      val orders = read(s, dir, "orders")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", keepVersions = 4, rowsHint = Some(nOrd))
      val hp = new org.apache.hadoop.fs.Path(p)
      val fsys = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles = graft.operators.Snapshot
        .listDataFilesRec(fsys, graft.operators.Snapshot.dataDir(hp))
        .map(_.getPath.toString).toSet
      val before = dataFiles
      graft.operators.Snapshot.dropColumn(s, p, "o_orderpriority",
        keepVersions = 4)
      require(dataFiles == before, "drop must touch zero data files")
      require(graft.sources.Resolver.readParquet(s, p, Some(1L))
        .columns.contains("o_orderpriority"),
        "time travel must keep the pre-drop schema")
      require(graft.operators.Snapshot.changelog(s, p, 1L, 2L,
        Seq("o_orderkey")).isEmpty,
        "a pure metadata drop must emit zero change rows")
      val batch = orders.filter(col("o_orderkey") < 1000)
        .drop("o_orderpriority")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val stats = graft.operators.PrunedMerge.merge(
        s, graft.sources.Resolver.readParquet(s, p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey"), commitMode = "snapshot",
          keepVersions = 4), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"post-drop merge must still prune files, got $stats")
      require(scala.util.Try(graft.operators.Snapshot.renameColumn(
        s, p, "o_orderstatus", "o_orderpriority")).isFailure,
        "re-adding a dropped name must refuse while retained files carry it")
      graft.sources.Resolver.readParquet(s, p).orderBy("o_orderkey")
    }),

    // ── [EXT r12] STREAMING change-data-feed consumer: the q_changelog
    // fixture consumed through CdfStream — an AvailableNow micro-batch
    // driver checkpointed on `_commit_version` (offsets = commit
    // versions, at-least-once, every row carries its version as the
    // idempotence key). The query drains, RESTARTS (fresh run, durable
    // cursor), commits a PREDICATE-DV delete, drains again; in-query
    // requires prove the resume consumed only the new commit, a third
    // drain is empty, and the union of increments equals the batch
    // changelogSince — the CDC producer/consumer loop closed. ─────────
    "q_cdf_stream" -> ((s, dir) => {
      val scratch = scratchDir("graft_cdfs")
      val orders = read(s, dir, "orders")
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot", keepVersions = 5)
      val v2 = orders
        .filter(!(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000))
        .withColumn("o_totalprice",
          when(col("o_orderkey") < 1000, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .unionAll(orders.filter(col("o_orderkey") < 100)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      WriteOps.atomicOverwrite(s, v2, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot", keepVersions = 5)
      val incs = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.DataFrame]
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def drain(): Int = graft.streaming.CdfStream.runAvailableNow(
        s, p, Seq("o_orderkey"), s"$scratch/ckpt",
        startingVersion = Some(1L)) { (inc, from, to) =>
        incs += inc.select("o_orderkey", "o_totalprice", "_change_type",
          "_commit_version").localCheckpoint(true)
        spans += ((from, to))
      }
      require(drain() == 1 && spans == Seq((1L, 2L)),
        s"first drain must consume exactly v2, got $spans")
      graft.operators.Snapshot.deleteByPredicate(s, p,
        "o_orderkey >= 2000 AND o_orderkey < 3000", keepVersions = 5)
      require(drain() == 1 && spans.last == ((2L, 3L)),
        "the restarted stream must RESUME from its cursor (v2), not re-emit")
      require(drain() == 0, "a drained stream must run zero batches")
      val union = incs.reduce(_ unionAll _)
      require(union.count() == graft.operators.Snapshot
        .changelogSince(s, p, 1L, Seq("o_orderkey")).count(),
        "streamed increments must union to the batch changelog")
      union.orderBy("o_orderkey", "_change_type", "_commit_version")
    }),

    // ── [EXT r10] ADD-COLUMN widening upsert through the PRUNED
    // merge: the batch carries a new column; only the touched files
    // are rewritten (and alone carry the column physically), the
    // manifest commits the EVOLVED schema, and every untouched member
    // serves the new column as NULLs — ADD COLUMN priced per change,
    // not per table. In-query requires prove the strict-subset
    // rewrite; the oracle replays the widened logical table. ──────────
    "q_write_upsert_evolve" -> ((s, dir) => {
      val scratch = scratchDir("graft_evo")
      val orders = read(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", rowsHint = Some(nOrd))
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_flag", col("o_orderkey") % 7)
      val stats = graft.operators.PrunedMerge.merge(
        s, graft.sources.Resolver.readParquet(s, p), batch,
        TargetSpec(DatasetRef("parquet", scratch, "orders_t"),
          op = WriteOp.Upsert, pk = Seq("o_orderkey"),
          indexBy = Seq("o_orderkey"), commitMode = "snapshot"), p)
      require(stats.exists(st => st.filesRewritten > 0 &&
        st.filesRewritten < st.filesTotal),
        s"widening pruned upsert must rewrite a strict subset, got $stats")
      graft.sources.Resolver.readParquet(s, p).orderBy("o_orderkey")
    }),

    // ── [EXT r14] TYPE-WIDENING evolution (int→long) as a
    // metadata-only commit: retained narrow files upcast losslessly on
    // read, a same-table append then holds values only the wide type
    // can carry, time travel serves each version's OWN type, and the
    // pure-widen changelog step emits zero change rows. In-query
    // requires prove the metadata-only + per-version-type laws; the
    // oracle replays the final logical table. ─────────────────────────
    "q_retype_widen" -> ((s, dir) => {
      val scratch = scratchDir("graft_widen")
      val orders = read(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .withColumn("o_qty", (col("o_orderkey") % 100).cast("int"))
      val nOrd = rowsOf(s, dir, "orders") // footer metadata, no job
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(500, nOrd / 24),
        commitMode = "snapshot", keepVersions = 5,
        rowsHint = Some(nOrd))                                   // v1
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      def pool() = graft.operators.Snapshot
        .listDataFilesRec(fs, graft.operators.Snapshot.dataDir(root))
        .map(_.getPath.toString).toSet
      val pool1 = pool()
      val v2 = graft.operators.Snapshot.widenColumn(s, p, "o_qty",
        org.apache.spark.sql.types.LongType, keepVersions = 5)   // v2
      require(pool() == pool1, "the widen must be METADATA-ONLY")
      require(graft.sources.Resolver.readParquet(s, p, Some(1L))
        .schema("o_qty").dataType ==
          org.apache.spark.sql.types.IntegerType,
        "time travel must serve v1 under its own (narrow) type")
      require(graft.operators.Snapshot.changelog(s, p, 1L, v2,
        Seq("o_orderkey")).isEmpty,
        "a pure type widen is not a data change")
      // values only the WIDE type can hold, via O(batch) append-upsert
      val batch = orders.filter(col("o_orderkey") < 1000)
        .withColumn("o_qty", col("o_orderkey") + 10000000000L)
      graft.operators.Snapshot.upsertAppend(s, p, batch, Seq("o_orderkey"),
        indexBy = Seq("o_orderkey"), keepVersions = 5)           // v3
      val out = graft.sources.Resolver.readParquet(s, p)
      require(out.schema("o_qty").dataType ==
        org.apache.spark.sql.types.LongType, "head serves the wide type")
      require(graft.operators.Snapshot.changelogSince(s, p, 1L,
        Seq("o_orderkey")).schema("o_qty").dataType ==
          org.apache.spark.sql.types.LongType,
        "the open-ended changelog aligns early steps to the wide type")
      require(graft.operators.Snapshot.fsck(s, p).isEmpty,
        "the widened layout must audit clean")
      out.orderBy("o_orderkey")
    }),

    // ── [EXT r10] CDC across SCHEMA EVOLUTION: v2 is an ADD-COLUMN
    // widening of v1 (plus a price update on a key range). The
    // changelog null-pads the from-side to the evolved shape, so a row
    // whose new column gained a value classifies as an update with a
    // NULL preimage — the rows a v1 reader under the evolved schema
    // would see. Also proves time travel across the evolution: the
    // `_version=1` read must carry the ORIGINAL 2-column schema.
    "q_changelog_evolve" -> ((s, dir) => {
      val scratch = scratchDir("graft_cdcev")
      val orders = read(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val p = s"$scratch/orders_t.parquet"
      WriteOps.atomicOverwrite(s, orders, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot")
      val v2 = orders
        .withColumn("o_totalprice",
          when(col("o_orderkey") < 1000, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .withColumn("o_flag", when(col("o_orderkey") < 2000, col("o_orderkey") % 7))
      WriteOps.atomicOverwrite(s, v2, p, indexBy = Seq("o_orderkey"),
        commitMode = "snapshot")
      val v1r = graft.sources.Resolver.readParquet(s, p, Some(1L))
      require(v1r.columns.toSeq == Seq("o_orderkey", "o_totalprice"),
        s"time travel across evolution must keep v1's schema, got ${v1r.columns.toSeq}")
      require(v1r.count() == rowsOf(s, dir, "orders"),
        "time travel across evolution must return the full v1 table")
      graft.operators.Snapshot.changelog(s, p, 1L, 2L, Seq("o_orderkey"))
        .orderBy("o_orderkey", "_change_type")
    }),

    // ── [EXT r9] incremental materialized rollup: three disjoint
    // batches summarized INDEPENDENTLY to mergeable partial states,
    // merged, finished — must equal the direct GROUP BY over the whole
    // table (the maintenance law, oracled). At scale each batch costs
    // one scan + a state-sized hash merge, never a fact-table re-scan.
    "q_rollup_incr" -> ((s, dir) => {
      import graft.ext.RollupOps
      val li = read(s, dir, "lineitem")
      val keys = Seq("l_returnflag", "l_linestatus")
      val aggs = RollupOps.parse(Seq(
        "count", "sum:l_quantity", "min:l_quantity",
        "max:l_extendedprice", "avg:l_discount"))
      val states = (0 until 3).map(i =>
        RollupOps.summarize(li.filter(col("l_orderkey") % 3 === i), keys, aggs))
      RollupOps.finish(RollupOps.merge(states, keys), keys, aggs)
        .orderBy(keys.map(col): _*)
    }),

    // ── J11/O4 self-update fixpoint, driver-visible: chunked
    // processing of a scratch copy of `orders` to convergence. Each
    // iteration reads the _contid-unmarked rows capped at ~40% of the
    // table, uppercases o_orderpriority, and upserts back — the cap is
    // sized so the pending counts (0.4n, 0.4n, 0.2n, 0) never repeat
    // twice-then-again, exercising ≥ 3 REAL loop iterations of the
    // engine's one iterative control-flow feature before the
    // count-unchanged-twice termination rule (etl.py:331-334) fires.
    // The converged table is closed-form: every row marked + transformed.
    "q_fixpoint" -> ((s, dir) => {
      val scratch = scratchDir("graft_fixpoint")
      // deterministic 1/10 subset (mirrored in the oracle) — the loop
      // mechanics are iteration-count-shaped, not data-shaped, so the
      // fixpoint witness doesn't need the full table's write cost
      read(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
        .coalesce(4).write.parquet(s"$scratch/orders_fp.parquet")
      val ref = ds(scratch, "orders_fp")
      // footer metadata of the just-written subset — no count job
      val n = pathRows(s, s"$scratch/orders_fp.parquet")
      val cap = math.ceil(n * 0.4).toLong
      val job = JobSpec(
        SourceSpec(ref, Seq("_limit" -> cap.toString),
          postRead = Seq(TransformStage("set_expr",
            Seq("o_orderpriority", "lower(o_orderpriority)")))),
        target = Some(TargetSpec(ref, op = WriteOp.Upsert, pk = Seq("o_orderkey"))),
        contid = Some("fixpoint-1"))
      val res = Runner.runLoop(s, job)
      require(res.iterations >= 3,
        s"fixpoint should take >= 3 chunked iterations, took ${res.iterations}")
      s.read.parquet(s"$scratch/orders_fp.parquet")
        .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
          (col("_contid") === "fixpoint-1").as("processed"))
        .orderBy("o_orderkey")
    }),

    // ── §2.5 transformer chain ────────────────────────────────────────
    "q_transform_chain" -> ((s, dir) => Planner.plan(s, JobSpec(
      SourceSpec(ds(dir, "customer"),
        query = Seq("_sort" -> "c_custkey"),
        postRead = Seq(
          TransformStage("upper", Seq("c_name")),
          TransformStage("set_expr", Seq("bal_band",
            "CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END"))))))),

    // ── [EXT] §2.6 aggregation via the _group/_agg DSL ────────────────
    "q_group_dsl" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders",
        "_group" -> "o_orderstatus", "_agg" -> "count:*,max:o_totalprice",
        "_sort" -> "o_orderstatus")))),

    // ── [EXT] §2.6 percentile aggregates via the _agg DSL ─────────────
    "q_group_pctl" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "lineitem",
        "_group" -> "l_returnflag",
        "_agg" -> "p50:l_extendedprice,p95:l_extendedprice,count:*",
        "_sort" -> "l_returnflag")))
      .withColumn("p50_l_extendedprice", round(col("p50_l_extendedprice"), 4))
      .withColumn("p95_l_extendedprice", round(col("p95_l_extendedprice"), 4))),

    // ── [EXT] pinned QueryFuzzSpec shapes: three generated DSL specs
    // from the 120-case seeded fuzz corpus, promoted to DuckDB-oracled
    // driver queries so the cross-ENGINE leg covers the fuzz grammar
    // too (the in-suite fuzz compares against Spark SQL) ──────────────
    "q_fuzz_scan" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders",
        "o_orderkey__between" -> "500,4500",
        "o_orderpriority__in" -> "1-URGENT,5-LOW",
        "o_orderstatus__ne" -> "P",
        "_sort" -> "-o_totalprice,o_orderkey",
        "_limit" -> "100",
        "_fields" -> "o_orderkey,o_orderpriority,o_totalprice")))),
    "q_fuzz_agg" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders",
        "o_orderdate__gte" -> "1994-01-01",
        "_group" -> "o_orderstatus,o_orderpriority",
        "_agg" -> "count:*,sum:o_totalprice,min:o_orderkey,max:o_orderkey,countd:o_custkey",
        "_sort" -> "o_orderstatus,o_orderpriority")))
      .withColumn("sum_o_totalprice", round(col("sum_o_totalprice"), 2))),
    "q_fuzz_proj_excl" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "orders",
        "o_orderpriority__startswith" -> "1-",
        "o_totalprice__lte" -> "150000.0",
        "_fields" -> "-o_custkey,-o_orderdate",
        "_sort" -> "o_orderkey")))),

    // ── [EXT] §2.6 approx percentiles — the documented scale default
    // (GK sketch, bounded memory; rank-error law checked in diffcheck) ─
    "q_group_pctl_approx" -> ((s, dir) => Planner.plan(s, JobSpec(
      src(dir, "lineitem",
        "_group" -> "l_returnflag",
        "_agg" -> "approx_p50:l_extendedprice,approx_p95:l_extendedprice,count:*",
        "_sort" -> "l_returnflag")))),

    // ── [EXT] §2.6 TPC-H Q1-style pricing summary ─────────────────────
    "q1_agg" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ── [EXT] window function: top-3 orders per customer ──────────────
    "q_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      read(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // ── [EXT] exact dedup on documents (first doc per text) ───────────
    "q_dedup_exact" -> ((s, dir) => {
      val w = Window.partitionBy("text").orderBy(col("doc_id").asc)
      read(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 corpus-level exact line dedup (CCNet/RefinedWeb
    // paragraph pass): first occurrence of each line wins globally.
    // Lines derived deterministically (filler words become '\n') so
    // the synthetic one-line docs exercise the cross-doc dedup ────────
    "q_line_dedup" -> ((s, dir) =>
      graft.ext.TextDedup.dedupLines(
        read(s, dir, "documents").withColumn("text",
          regexp_replace(col("text"), " (the|a|table|query|value) ", "\n")),
        "text", "doc_id")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 corpus paragraph dedup: normalized-key twin of the
    // line pass; paragraph breaks manufactured from connective words,
    // plus case noise (upper on doc_id%4=0) the normalized key must
    // see through ─────────────────────────────────────────────────────
    "q_para_dedup" -> ((s, dir) =>
      graft.ext.TextDedup.dedupParagraphs(
        read(s, dir, "documents")
          .withColumn("text",
            regexp_replace(col("text"), " (of|and|to|in) ", "\n\n"))
          .withColumn("text",
            when(col("doc_id") % 4 === 0, upper(col("text")))
              .otherwise(col("text"))),
        "text", "doc_id")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 BM25 sparse retrieval: query mixes the corpus's
    // one rare term (dup, df≈5%) with common terms, so idf spread is
    // real; top-25 by score ─────────────────────────────────────────
    "q_bm25" -> ((s, dir) =>
      graft.ext.TextAnalysis.bm25TopK(read(s, dir, "documents"),
        "fast hash join dup", topK = 25)),

    // ── [EXT] §2.10 persisted BM25 inverted index: postings/dfreq/
    // stats written once, search reads |q| term-pruned inverted lists
    // — identical math/ties to q_bm25, so it shares that oracle ───────
    "q_bm25_persisted" -> ((s, dir) => {
      val path = scratchDir("graft_bm25")
      graft.ext.Retrieval.writeBm25Index(read(s, dir, "documents"), path)
      graft.ext.Retrieval.searchBm25Index(s, path, "fast hash join dup",
        topK = 25)
    }),

    // ── [EXT r10] mixture-allocation water-fill: per-source token
    // budget under target shares + a 2× upsampling cap. Zipf-ish
    // shares make the head sources SATURATE and redistribute — the
    // closed-form T* (sorted saturation points + prefix sums, no
    // iteration) is replayed by the oracle with window functions. ─────
    "q_mix_solve" -> ((s, dir) =>
      graft.ext.MixPlanner.plan(read(s, dir, "documents"),
        MixShares, budgetFrac = 0.5, maxRepeat = 2.0)
        .orderBy("source")),

    // ── [EXT r10] hard-negative mining (DPR recipe): per training
    // pair, the top-5 BM25 docs for the query excluding the positive —
    // batch shape: ONE corpus pass for all queries, per-query top-k
    // window. Oracle replays the full multi-query scoring. ────────────
    "q_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val pairs = Seq((0L, "fast hash join", 3L),
        (1L, "slow scan filter", 7L),
        (2L, "customer batch row", 11L)).toDF("q_id", "query", "pos_id")
      graft.ext.Retrieval.hardNegatives(read(s, dir, "documents"), pairs, 5)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 hybrid retrieval: dense brute-cosine top-50 for
    // query vec 0 fused with sparse BM25 top-50 by reciprocal rank ────
    "q_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = read(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val dense = graft.ext.Similarity.bruteTopK(q, e, 50)
        .select(col("vec_id").as("id"), col("rank"))
      val sparse = graft.ext.TextAnalysis.bm25TopK(
          read(s, dir, "documents"), "fast hash join dup", topK = 50)
        // rank over the already-limited 50 rows — not a corpus sort
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank"))
      graft.ext.Retrieval.rrfFuse(Seq(dense, sparse), topK = 25)
    }),

    // ── [EXT] §2.10 C4-style bad-word filter (word-level exact match,
    // so substring false positives are impossible) ────────────────────
    "q_blocklist" -> ((s, dir) =>
      graft.ext.TextAnalysis.blocklistFilter(read(s, dir, "documents"),
        Seq("casino", "dup", "fast", "hash"))
        .select("doc_id", "n_blocked", "n_blocked_types", "blocked")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 sentence segmentation: the corpus texts carry no
    // punctuation, so boundaries are injected deterministically (the
    // oracle replays the same construction) ───────────────────────────
    "q_sentences" -> ((s, dir) => {
      val aug = concat(substring(col("text"), 1, 50),
        lit(". First tail! Again? 9 begins. "),
        substring(col("text"), 51, 40))
      graft.ext.TextAnalysis.sentences(
        read(s, dir, "documents").withColumn("text", aug))
        .orderBy("doc_id", "sent_idx")
    }),

    // ── [EXT] §2.10 trainable char-3-gram langid: naive Bayes trained
    // on the corpus's own lang labels, scored over the same corpus ────
    "q_langid_nb" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ext.LangId.trainAndScore(docs, docs).orderBy("doc_id")
    }),

    // ── [EXT] §2.10 winnowing fingerprint overlap pairs (MOSS) ────────
    "q_winnow" -> ((s, dir) =>
      graft.ext.TextDedup.winnowPairs(read(s, dir, "documents"),
        "doc_id", "text", k = 12, w = 12, minShared = 3, maxDf = 30)
        .orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 exact n-gram Jaccard near-dup pairs ───────────────
    "q_dedup_jaccard" -> ((s, dir) =>
      graft.ext.TextDedup.jaccardPairs(read(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 near-SUBSET pairs: max containment ≥ 0.8 —
    // catches excerpt/boilerplate copies Jaccard under-scores ─────────
    "q_dedup_containment" -> ((s, dir) =>
      graft.ext.TextDedup.containmentPairs(read(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 MinHash+LSH near-dup pairs (exact-verified) ───────
    "q_dedup_minhash" -> ((s, dir) =>
      graft.ext.TextDedup.minhashPairs(read(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 incremental dedup: batch (doc_id >= 400) vs the
    // persisted signature index of the first 400 docs + earlier
    // in-batch docs; old-vs-old pairs never re-mined ──────────────────
    "q_dedup_incr" -> ((s, dir) => {
      import graft.ext.TextDedup
      val docs = read(s, dir, "documents")
      val oldSh = TextDedup.shingleTable(docs.filter(col("doc_id") < 400),
        "doc_id", "text", 3)
      TextDedup.incrementMatches(docs.filter(col("doc_id") >= 400),
        oldSh, TextDedup.bucketTable(oldSh), "doc_id", "text",
        n = 3, threshold = 0.8)
        .orderBy("id")
    }),

    // ── [EXT r12] CDC-MAINTAINED signature index: the incremental
    // dedup index kept in sync with a MUTATING corpus from only its
    // change rows (CdfStream.cdfToSignatureIndex) — deletes land as DV
    // tombstones, revisions/inserts as append-shaped upserts, so index
    // maintenance is O(changes) with zero index files rewritten. The
    // corpus here mutates through all three lakehouse write routes
    // (DV delete < 50, revision 50..99 to a fixed marker, copies of
    // 100..149 appended under offset ids); in-query requires prove the
    // maintained index ≡ a bulk rebuild of the CURRENT corpus (both
    // tables, both directions). Output: a new batch (copies of
    // 150..199) flagged against the MAINTAINED index; the oracle
    // replays the mutations logically and mines exact Jaccard (same
    // threshold-recall caveat as q_dedup_incr). ───────────────────────
    "q_dedup_cdc_index" -> ((s, dir) => {
      import graft.ext.TextDedup
      val scratch = scratchDir("graft_cdcidx")
      // r17 (verdict #1): ZERO conf twiddling here — the maintenance
      // entry points (atomicOverwrite, deleteByKeys, upsertAppend,
      // cdfToSignatureIndex) engage the metadata-scale execution
      // profile THEMSELVES behind [[MaintProfile]]'s plan-size gate,
      // so a plain API caller gets the same ~32-37-job ledger this
      // gate measures (MaintProfileSpec proves the parity)
      // fixed 400-doc window: the gate proves the MAINTENANCE LAW and
      // the mutation classes, identically at every SF (index SCALE is
      // priced in SCALEBENCH3_r08.json's 6M-doc signature-index phase;
      // an unbounded window made this the board's slowest query for no
      // extra coverage)
      val docs = read(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 400)
      val p = s"$scratch/docs.parquet"
      // maxRecordsPerFile is a CONSTANT at the 400-doc gate window:
      // max(100, n/16) = 100 for every n ≤ 1600 — the count() job the
      // expression used to pay bought nothing (r15 job audit)
      WriteOps.atomicOverwrite(s, docs, p, indexBy = Seq("doc_id"),
        maxRecordsPerFile = 100,
        commitMode = "snapshot", keepVersions = 6)
      val idx = s"$scratch/idx"
      def drain() = graft.streaming.CdfStream.cdfToSignatureIndex(
        s, p, "doc_id", "text", idx, s"$scratch/ckpt",
        n = 3, k = 128, bands = 16, startingVersion = Some(1L),
        keepVersions = 6)
      drain() // bootstrap from v1
      graft.operators.Snapshot.deleteByKeys(s, p,
        docs.filter(col("doc_id") < 50).select("doc_id"), keepVersions = 6)
      graft.operators.Snapshot.upsertAppend(s, p,
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
          .withColumn("text", lit(
            "the archived revision was replaced by this fixed marker sentence"))
          .unionByName(docs
            .filter(col("doc_id") >= 100 && col("doc_id") < 150)
            .withColumn("doc_id", col("doc_id") + 1000000L)),
        Seq("doc_id"), indexBy = Seq("doc_id"), keepVersions = 6)
      require(drain() > 0, "the index must consume the two commits")
      // the query-side LAW CHECKS and the search are themselves a
      // metadata-scale workload (KB frames, fixed-job-overhead
      // dominated) — run them under the engine's PUBLIC profile API
      // (the productized form of the r16 hand-scoping; no conf.set)
      graft.operators.MaintProfile.scoped(s) {
      val cur = graft.sources.Resolver.readParquet(s, p)
      val freshSh = TextDedup.shingleTable(cur, "doc_id", "text", 3)
      val mSh = graft.sources.Resolver.readParquet(s, s"$idx/shingles.parquet")
      // the core law in-query (CdfStreamSpec proves the bucket-table
      // twin and the replay/restart cases); symmetric difference in
      // ONE job — the gate is fixed-job-overhead-dominated
      require(mSh.exceptAll(freshSh).unionAll(freshSh.exceptAll(mSh)).isEmpty,
        "maintained shingles must equal the bulk rebuild")
      val mBk = graft.sources.Resolver.readParquet(s, s"$idx/buckets.parquet")
      val batch = docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      // materialize the search INSIDE the profile scope (its ~8 tiny
      // exchange jobs collapse to 2); the returned frame replays the
      // ≤50 cached rows
      TextDedup.incrementMatches(batch, mSh, mBk, "doc_id", "text",
        n = 3, threshold = 0.8, k = 128, bands = 16).orderBy("id")
        .localCheckpoint(true)
      }
    }),

    // ── [EXT] §2.10 Bloom-gated incremental EXACT dedup: batch
    // (doc_id >= 400) probes a persisted membership filter of the
    // first 400 docs' texts; positives exact-confirm, so the result
    // equals the plain anti-join exactly ──────────────────────────────
    "q_dedup_bloom" -> ((s, dir) => {
      import graft.ext.BloomDedup
      val docs = read(s, dir, "documents")
      val seen = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400)
      val path = scratchDir("graft_bloom")
        .toString + "/seen.bloom"
      BloomDedup.writeFilter(s, BloomDedup.train(seen, "text", 100000L), path)
      BloomDedup.dedupAgainst(batch, seen,
        BloomDedup.readFilter(s, path), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 end-to-end corpus dedup (pairs → components) ─────
    "q_dedup_corpus" -> ((s, dir) =>
      graft.ext.TextDedup.dedupCorpus(read(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.8).orderBy("doc_id")),

    // ── [EXT] §2.10 corpus dedup keeping the BEST copy per cluster
    // (here: longest by n_chars, ties → smallest id) ───────────────────
    "q_dedup_keep_best" -> ((s, dir) =>
      graft.ext.TextDedup.dedupCorpusKeepBest(read(s, dir, "documents"),
        "doc_id", "text", scoreCol = "n_chars", n = 3, threshold = 0.8)
        .orderBy("doc_id")),

    // ── [EXT] §2.10 int8 embedding quantization (codes serialized for
    // the array-blind verifier; scale rounded for float portability) ──
    "q_embed_quant" -> ((s, dir) =>
      graft.ext.Similarity.quantizeEmbeddings(read(s, dir, "embeddings"),
        "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .orderBy("vec_id")),

    // ── [EXT] §2.10 ANN over the int8-quantized corpus: scales cancel
    // in cosine, so search runs on the 4×-smaller code table ──────────
    "q_ann_quant" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val coded = graft.ext.Similarity.quantizeEmbeddings(e, "vec_id", "embedding")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.Similarity.bruteTopKQuantized(q, coded, 5).orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 chunk→doc mean pooling: 50 synthetic "documents"
    // of ~40 chunk embeddings each; means rounded for float
    // portability, vector serialized for the array-blind verifier ─────
    "q_embed_pool" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
        .withColumn("doc_id", col("vec_id") % 50)
      // %.6f on both engines: bare double→string is scientific for
      // small values in Spark but decimal in DuckDB
      graft.ext.Similarity.meanPool(e, "doc_id", "embedding")
        .select(col("doc_id"),
          array_join(transform(col("embedding"),
            x => format_string("%.6f", x.cast("double"))), ",").as("pooled"))
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 benchmark decontamination: drop corpus docs that
    // share 5-gram shingles with the (broadcast) benchmark set ────────
    "q_decontaminate" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ext.TextDedup.decontaminate(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 SimHash near-dup pairs (hash-based; rows-only) ────
    "q_dedup_simhash" -> ((s, dir) =>
      graft.ext.TextDedup.simhashPairs(read(s, dir, "documents"),
        "doc_id", "text", maxDist = 3).orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 SimHash, driver-oracled: md5-portable per-token
    // hash makes the fingerprint reproducible in DuckDB, so the blocked
    // pair-mine is checked against a brute-force SQL twin (pigeonhole
    // blocking is provably exact — same law as q_dedup_simhash) ───────
    "q_dedup_simhash_port" -> ((s, dir) =>
      graft.ext.TextDedup.simhashPairsPortable(read(s, dir, "documents"),
        "doc_id", "text", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 Unicode NFC normalization: the synthetic docs are
    // ASCII (identity), so a decomposed `cafe`+U+0301 marker is
    // appended (mirrored in the oracle) to prove real composition ─────
    "q_normalize" -> ((s, dir) => {
      val aug = concat(col("text"), lit(" café"))
      val norm = graft.functions.TextExprs.nfcNormalize(aug)
      read(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), norm.as("norm_text"),
          (norm =!= aug).as("changed"))
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 URL curation: host parse → registered domain →
    // blocklist → salted per-domain cap. URLs are manufactured
    // deterministically from (source, doc_id) — the test corpus has no
    // url column — with subdomain/ccTLD variety so the registered-
    // domain CASE and the subdomain-blind blocklist both bite ─────────
    "q_url_curate" -> ((s, dir) => {
      import graft.ext.UrlOps
      val url = concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www."))
          .when(col("doc_id") % 7 === 0, lit("cdn.media."))
          .otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 5 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/doc/"), col("doc_id").cast("string"))
      val parts = UrlOps.withUrlParts(
        read(s, dir, "documents").withColumn("url", url), "url")
      UrlOps.capPerDomain(
        UrlOps.filterBlockedDomains(parts, "domain",
          Seq("src3.com", "src7.co.uk")),
        "domain", "doc_id", cap = 10)
        .select("doc_id", "host", "domain").orderBy("doc_id")
    }),

    // ── [EXT] §2.10 text analysis: counts/ratios/langid/quality ───────
    "q_text_stats" -> ((s, dir) =>
      graft.ext.TextAnalysis.analyzeWithQuality(read(s, dir, "documents"))
        .select("doc_id", "ws_tokens", "bpe_tokens", "punct_ratio",
          "avg_word_len", "stopword_ratio", "lang_id", "quality")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 Unicode script-mix ratios: corpus is all-ASCII, so
    // multi-script suffixes are injected deterministically by doc_id%5
    // to exercise every script class both sides ───────────────────────
    "q_script_ratio" -> ((s, dir) =>
      graft.ext.TextAnalysis.scriptRatios(
        read(s, dir, "documents").withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" привет мир 42"))
              .when(col("doc_id") % 5 === 1, lit(" 你好，世界"))
              .when(col("doc_id") % 5 === 2, lit(" สวัสดีครับ"))
              .when(col("doc_id") % 5 === 3, lit(" مرحبا بالعالم"))
              .otherwise(lit("")))))
        .orderBy("doc_id")),

    // ── [EXT] §2.10 Gopher repetition filters: dup-line/dup-ngram ─────
    "q_repetition" -> ((s, dir) =>
      graft.ext.TextAnalysis.repetitionStats(read(s, dir, "documents"))
        .select("doc_id", "dup_line_frac", "dup_3gram_frac")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 Gopher char-fraction repetition: most common
    // 2-gram per doc + fraction of characters it covers ───────────────
    "q_top_ngram" -> ((s, dir) =>
      graft.ext.TextAnalysis.topNgramCoverage(read(s, dir, "documents"),
        "doc_id", "text", n = 2).orderBy("doc_id")),

    // ── [EXT] §2.10 token-entropy diversity signal ────────────────────
    "q_entropy" -> ((s, dir) =>
      graft.ext.TextAnalysis.tokenEntropy(read(s, dir, "documents"))
        .orderBy("doc_id")),

    // ── [EXT] §2.10 Gopher quality filter: rule verdict per doc.
    // minWords=10 (not the paper's 50) so the synthetic ~25-word docs
    // exercise the whole rule chain instead of all failing rule 1 ─────
    "q_quality_filter" -> ((s, dir) =>
      graft.ext.TextAnalysis.gopherFilter(read(s, dir, "documents"),
        minWords = 10)
        .select("doc_id", "gopher_keep", "gopher_reason")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 linear quality classifier: exported (token, weight)
    // model scored over the corpus; dyadic weights keep sums exact ────
    "q_quality_score" -> ((s, dir) => {
      import s.implicits._
      val model = Seq(("data", 0.5), ("fast", 0.25), ("slow", -0.5),
        ("row", 0.125), ("scan", -0.25), ("spark", 0.75))
        .toDF("token", "weight")
      graft.ext.TextAnalysis.linearScore(read(s, dir, "documents"), model,
        bias = -0.125, threshold = 0.5)
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 C4 line-level cleaning. The synthetic docs have no
    // newlines, so the query first derives lines deterministically
    // (every " the "/" a " becomes ".\n") — both engines replay the
    // same rewrite, and the punct/min-words/reassembly rules all fire ─
    "q_c4_clean" -> ((s, dir) =>
      graft.ext.TextAnalysis.c4Clean(
        read(s, dir, "documents").withColumn("text",
          regexp_replace(col("text"), " (the|a) ", ".\n")),
        minWordsPerLine = 3, minLinesPerDoc = 2)
        .select("doc_id", "text", "n_lines", "n_dropped")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 corpus vocabulary: token count + doc frequency ────
    "q_vocab_topk" -> ((s, dir) =>
      graft.ext.TextAnalysis.vocabulary(read(s, dir, "documents"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)),

    // ── [EXT] §2.10 vocabulary with HLL++ doc frequency — the scale
    // default (fixed sketch per token vs a distinct-set buffer); error
    // vs the exact twin is diffchecked, so rows-only here ─────────────
    "q_vocab_approx" -> ((s, dir) =>
      graft.ext.TextAnalysis.vocabulary(read(s, dir, "documents"),
        approxDocs = true)
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)),

    // ── [EXT] §2.10 TF-IDF: (doc, token) agg → vocab-join → smoothed
    // idf; tf≥2 keeps the contract row set discriminating but compact ─
    "q_tfidf" -> ((s, dir) =>
      graft.ext.TextAnalysis.tfidf(read(s, dir, "documents"),
        "doc_id", "text", minDocFreq = 2)
        .filter(col("tf") >= 2)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "token")),

    // ── [EXT] §2.10 DSIR data selection (Xie et al. '23): hashed
    // unigram+bigram importance weights vs the src0 target slice ──────
    "q_dsir_score" -> ((s, dir) =>
      graft.ext.Dsir.scoreWithin(read(s, dir, "documents"),
        col("source") === "src0", "doc_id", "text", hexDigits = 2)
        .select(col("doc_id"), col("n_feats"), round(col("logw"), 4).as("logw"))
        .orderBy("doc_id")),
    "q_dsir_select" -> ((s, dir) =>
      graft.ext.Dsir.resampleWithin(read(s, dir, "documents"),
        col("source") === "src0", k = 100, "doc_id", "text", hexDigits = 2)
        .select(col("doc_id"), round(col("logw"), 4).as("logw"),
          round(col("key"), 4).as("key"))
        .orderBy("doc_id")),

    // ── [EXT] §2.10 vocab encode: ids 1..V by corpus frequency
    // (ties token-asc), 0 = OOV; one row per (doc, pos) ───────────────
    "q_encode" -> ((s, dir) =>
      graft.ext.TextAnalysis.encodeTokens(read(s, dir, "documents"),
        "doc_id", "text", vocabSize = 25)
        .orderBy("doc_id", "pos")),

    // ── [EXT] §2.10 corpus split sizes (md5 method → exact oracle) ────
    "q_split_sizes" -> ((s, dir) =>
      graft.functions.Transformers.apply(read(s, dir, "documents"),
        graft.spec.TransformStage.parseChain(
          "hash_split:doc_id;split;md5;train:0.9;val:0.05;test:0.05"))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")),

    // ── [EXT] §2.10 leakage-safe splits: assignment keyed by the
    // near-dup cluster representative (portable-simhash pairs →
    // components), so near-duplicates never straddle train/eval; the
    // oracle rebuilds the clusters with a recursive CTE ───────────────
    "q_split_leakfree" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val pairs = graft.ext.TextDedup.simhashPairsPortable(docs, "doc_id", "text", 3)
      graft.ext.CorpusOps.splitByGroup(docs, "doc_id",
        graft.ext.TextDedup.components(pairs),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 doc fingerprints (md5 digests → exact oracle; the
    // xxhash64 twins are law-checked in Verify's diffcheck) ───────────
    "q_fingerprint" -> ((s, dir) =>
      read(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextAnalysis.contentDigest(col("text")).as("content_fp"),
        graft.ext.TextAnalysis.minShingleDigest(col("text")).as("minshingle_fp"))
        .orderBy("doc_id")),

    // ── [EXT] §2.10 brute-force cosine top-k (ANN baseline) ───────────
    "q_ann_topk" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.Similarity.bruteTopK(q, e, 5).orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 embedding near-dup pairs (exact cosine) ───────────
    "q_embed_pairs" -> ((s, dir) =>
      graft.ext.Similarity.cosinePairs(read(s, dir, "embeddings"), 0.35)
        .orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 semantic decontamination: corpus rows whose max
    // cosine vs the (broadcast) benchmark set clears the threshold —
    // the embedding twin of q_decontaminate's n-gram check ────────────
    "q_decontaminate_embed" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      graft.ext.Similarity.semanticContaminated(
        e.filter(col("vec_id") >= 20),
        e.filter(col("vec_id") < 20), 0.4)
        .orderBy("id")
    }),

    // ── [EXT] §2.10 embedding-cosine near-dup DEDUP (SemDeDup shape):
    // exact pairs → connected components → cluster label + keep flag.
    // Exact pair step here (oracle baseline); lshPairs is the 100 TB
    // path via cosineClusters(exact = false) ──────────────────────────
    "q_dedup_embed" -> ((s, dir) =>
      graft.ext.Similarity.cosineClusters(read(s, dir, "embeddings"), 0.4)
        .select("vec_id", "cluster", "keep")
        .orderBy("vec_id")),

    // ── [EXT r10] cluster-based curation, oracle-replayable paths:
    // FIXED one-hot centroids make the assignment pure math DuckDB can
    // replay (cosine to e_j = x_j/‖x‖, argmax with first-wins ties).
    // `q_cluster_sample` = per-cluster prototype sampling (Sorscher et
    // al. '22: the nPer rows nearest their centroid); one window over
    // the cluster key. ─────────────────────────────────────────────────
    "q_cluster_sample" -> ((s, dir) => {
      val cents = graft.ext.Clustering.literalCentroids(s,
        (0 until 4).map(j => (0 until 64).map(i => if (i == j) 1.0f else 0.0f)))
      val a = graft.ext.Clustering.assignWith(read(s, dir, "embeddings"), cents)
      graft.ext.Clustering.clusterSample(a, nPer = 5, mode = "prototype")
        .select("centroid_id", "vec_id", "centroid_sim")
        .orderBy("centroid_id", "vec_id")
    }),

    // ── [EXT r10] SemDeDup (Abbas et al. '23) with the paper's actual
    // scale mechanism: pairwise cosine WITHIN clusters only (blocking
    // cost Σ cᵢ², never corpus²), components over the blocked pairs,
    // keep = the copy FARTHEST from its centroid (diversity-preserving
    // — the paper's choice). Fixed centroids here so DuckDB replays
    // assignment + blocked pairs + recursive-CTE components + the
    // argmin-representative end-to-end; trained k-means is the
    // `q_cluster_kmeans` diffcheck row. ─────────────────────────────────
    "q_cluster_semdedup" -> ((s, dir) => {
      val cents = graft.ext.Clustering.literalCentroids(s,
        (0 until 4).map(j => (0 until 64).map(i => if (i == j) 1.0f else 0.0f)))
      val a = graft.ext.Clustering.assignWith(read(s, dir, "embeddings"), cents)
      graft.ext.Clustering.semDedup(a, tau = 0.4, keep = "far")
        .select("vec_id", "centroid_id", "group", "keep")
        .orderBy("vec_id")
    }),

    // ── [EXT r10] first-class k-means corpus clustering (trained —
    // Lloyd over deterministic hash-picked seeds, k×d driver state,
    // pure-map assignment): the per-cluster profile that drives
    // curation decisions. Iterative training has no SQL oracle → the
    // diffcheck enforces refit bit-identity, assignment ≡ brute
    // argmax, and size conservation. ──────────────────────────────────
    "q_cluster_kmeans" -> ((s, dir) => {
      val (assigned, _) = graft.ext.Clustering.kmeansAssign(
        s, read(s, dir, "embeddings"), k = 10, iters = 3)
      graft.ext.Clustering.clusterProfile(assigned).orderBy("centroid_id")
    }),

    // ── [EXT] §2.10 hyperplane-LSH neighbor pairs (recall vs the
    // oracle-checked brute pairs is asserted in Verify's diffcheck).
    // 64 planes / 16 bands of 4 bits: at this moderate threshold (0.35
    // ⇒ ~69° angle) the 16-plane near-dup sketch recalls <0.5; the
    // wider band-OR sketch holds recall ≥0.9 at the boundary. ─────────
    "q_embed_lsh" -> ((s, dir) =>
      graft.ext.Similarity.lshPairs(read(s, dir, "embeddings"), 0.35,
        maxHamming = 15, planes = 64)
        .orderBy("id_a", "id_b")),

    // ── [EXT r9] distributed PCA over the embedding column: one
    // corpus pass accumulates the d×d Gram (partition-ordered, so the
    // fit is bit-deterministic), driver-side eigensolve, fused
    // per-row projection. No SQL oracle can eigensolve — correctness
    // is the diffcheck law set (orthonormality, descending
    // eigenvalues, Pythagoras err = totalVar − Σλ, projected variance
    // ≡ eigenvalue) plus PcaSpec. Output rounded to the gate's float
    // tolerance so the rows-only dump is stable run-over-run. ─────────
    "q_embed_pca" -> ((s, dir) => {
      import graft.ext.Pca
      val emb = read(s, dir, "embeddings")
      val m = Pca.fit(emb, "embedding", 16)
      Pca.transform(emb, "embedding", m, "p")
        .select(col("vec_id"),
          round(element_at(col("p"), 1), 4).as("p0"),
          round(element_at(col("p"), 2), 4).as("p1"),
          round(aggregate(transform(col("p"), x => x * x),
            lit(0.0d), (a, x) => a + x), 4).as("p_norm2"))
        .orderBy("vec_id")
    }),

    // ── [EXT] §2.10 hyperplane-LSH exactness witness, driver-visible:
    // maxHamming = planes−1 makes the pigeonhole blocking pass every
    // pair (64 one-bit chunks; hamming ≤ 63 ⇒ some chunk agrees), so
    // the exact-verify output ≡ brute cosinePairs — shares
    // q_embed_pairs' oracle shape. Scoped to a 500-vector slice: the
    // witness costs Θ(chunks·n²/2) candidates by construction (the
    // point is proving the machinery, not running it at corpus scale —
    // production blocking uses width-4 chunks, q_embed_lsh) ───────────
    "q_embed_lsh_exact" -> ((s, dir) =>
      graft.ext.Similarity.lshPairs(
        read(s, dir, "embeddings").filter(col("vec_id") < 500), 0.35,
        maxHamming = 63, planes = 64)
        .orderBy("id_a", "id_b")),

    // ── [EXT] §2.10 LSH-bucketed approximate top-k (recall@k vs the
    // exact brute top-k is asserted in Verify's diffcheck) ────────────
    "q_ann_lsh_topk" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.Similarity.lshTopK(q, e, 5, maxHamming = 15, planes = 64)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 LSH top-k exactness witness: same full-width
    // blocking argument as q_embed_lsh_exact ⇒ ≡ brute top-k; shares
    // q_ann_topk's oracle SQL ─────────────────────────────────────────
    "q_ann_lsh_exact" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.Similarity.lshTopK(q, e, 5, maxHamming = 63, planes = 64)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.9 event-time tumbling window agg ─────────────────────
    "q_window_tumbling" -> ((s, dir) =>
      graft.ext.EventWindows.tumbling(read(s, dir, "events"), "10 minutes")
        .orderBy("window_start", "event_type")),

    // ── [EXT] §2.9 sliding windows ────────────────────────────────────
    "q_window_sliding" -> ((s, dir) =>
      graft.ext.EventWindows.sliding(read(s, dir, "events"), "10 minutes", "5 minutes")
        .orderBy("window_start")),

    // ── [EXT] §2.9 session windows per user ───────────────────────────
    "q_window_session" -> ((s, dir) =>
      graft.ext.EventWindows.sessions(read(s, dir, "events"), "30 minutes")
        .orderBy("user_id", "session_start")),

    // ── [EXT] §2.10 IVF approximate top-k (diffcheck: exactness at
    // nprobe=nlist + recall@5 bound; nprobe=8 because these synthetic
    // embeddings cluster weakly — recall tracks the probed fraction) ──
    "q_ann_ivf" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val centroids = graft.ext.IvfIndex.train(s, e, k = 16, iters = 2)
      val index = graft.ext.IvfIndex.assign(e, centroids)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.IvfIndex.search(q, index, centroids, k = 5, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 IVF exactness witness, driver-visible: probing all
    // nlist lists must reproduce the brute top-k bit-for-bit, so this
    // row shares q_ann_topk's brute oracle SQL (the sbt-test law checks
    // the same identity; this surfaces it in CORRECTNESS_r{N}) ─────────
    "q_ann_ivf_exact" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val centroids = graft.ext.IvfIndex.train(s, e, k = 16, iters = 2)
      val index = graft.ext.IvfIndex.assign(e, centroids)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.IvfIndex.search(q, index, centroids, k = 5, nprobe = 16)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 persisted-index serving: train IVF once, write the
    // index (centroids + hive-partitioned inverted lists), reload from
    // disk, search with nprobe=nlist — exact, so it shares the brute
    // oracle SQL; the round-trip law in VectorExprsSpec pins persisted
    // ≡ in-memory at partial nprobe too ────────────────────────────────
    "q_ann_persisted" -> ((s, dir) => {
      val e = read(s, dir, "embeddings")
      val centroids = graft.ext.IvfIndex.train(s, e, k = 16, iters = 2)
      val path = scratchDir("graft_ann_ivf")
      graft.ext.IvfIndex.writeIndex(e, centroids, path)
      val (index, cents) = graft.ext.IvfIndex.readIndex(s, path)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.ext.IvfIndex.search(q, index, cents, k = 5, nprobe = 16)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] as-of join: latest purchase at or before each event ─────
    "q_asof" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value").as("pvalue"))
      graft.ext.AsOfJoin.backward(
        ev.select("event_id", "user_id", "ts", "event_type", "value"),
        purchases, Seq("user_id"), "ts", "pts", "p_")
        .orderBy("event_id")
    }),

    // ── [EXT] §2.10 PQ-compressed ANN: 16-byte codes + ADC shortlist
    // + exact refine (recall law in diffcheck vs the oracled brute) ────
    "q_ann_pq" -> ((s, dir) => {
      import graft.ext.PqIndex
      val e = read(s, dir, "embeddings")
      // bench-sized params (m=8, one Lloyd pass) — the diffcheck
      // separately proves recall at the m=16/iters=2 quality point
      val books = PqIndex.train(s, e, m = 8, ksub = 16, iters = 1)
      val coded = PqIndex.encode(e, books).select("vec_id", "codes")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      PqIndex.searchRefined(q, coded, e, books, k = 5, shortlist = 4)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] §2.10 PQ exactness witness, driver-visible: a refine
    // pool covering the whole corpus (shortlist·k ≥ rows at sf0.1's
    // 2000) makes the exact re-rank ≡ brute, so this row shares
    // q_ann_topk's brute oracle SQL ────────────────────────────────────
    "q_ann_pq_refined_exact" -> ((s, dir) => {
      import graft.ext.PqIndex
      val e = read(s, dir, "embeddings")
      val books = PqIndex.train(s, e, m = 8, ksub = 16, iters = 1)
      val coded = PqIndex.encode(e, books).select("vec_id", "codes")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      PqIndex.searchRefined(q, coded, e, books, k = 5, shortlist = 400)
        .orderBy("q_id", "rank")
    }),

    // ── [EXT] forward as-of: next purchase at-or-after each event ─────
    "q_asof_fwd" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value").as("pvalue"))
      graft.ext.AsOfJoin.forward(
        ev.select("event_id", "user_id", "ts", "event_type", "value"),
        purchases, Seq("user_id"), "ts", "pts", "p_")
        .orderBy("event_id")
    }),

    // ── [EXT] §2.10 bucketed range join: every event inside ±60 s of
    // each error (incident-context extraction). Intervals are a
    // filtered handful → broadcast: no shuffle of the points side ─────
    "q_range_join" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          (col("ts") - expr("INTERVAL 60 SECONDS")).as("lo"),
          (col("ts") + expr("INTERVAL 60 SECONDS")).as("hi"))
      graft.ext.RangeJoin.rangeJoin(
        ev.select("event_id", "ts", "event_type", "user_id"),
        incidents, "ts", "lo", "hi", bucketWidth = 120.0,
        broadcastIntervals = true)
        .select("err_id", "event_id", "ts", "event_type", "user_id")
        .orderBy("err_id", "event_id")
    }),

    // ── [EXT] capstone: training-corpus prep pipeline ─────────────────
    // langId=='en' → quality ≥ 0.7 → near-dup removal → token counts
    "q_corpus_prep" -> ((s, dir) => {
      import graft.ext.{TextAnalysis, TextDedup}
      val docs = read(s, dir, "documents")
      // checkpoint the scored+filtered frame ONCE: it feeds the shingle
      // pipeline AND the final keep-side anti-join — without a
      // materialization point the single-pass text-stats expression
      // re-evaluates per branch. localCheckpoint (not persist) keeps
      // the returned plan LAZY: the runner's noop write computes only
      // the anti-join from the checkpointed blocks instead of a second
      // full materialization of an eagerly-checkpointed result (blocks
      // release with the RDD on GC; nothing stays pinned per call)
      val scored = TextAnalysis.analyzeWithQuality(docs)
        .filter(col("lang_id") === "en" && col("quality") >= 0.7)
        .localCheckpoint(true)
      val deduped = TextDedup.dedupCorpus(scored, "doc_id", "text", 3, 0.8)
      deduped
        .select("doc_id", "lang_id", "quality", "bpe_tokens", "n_chars")
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 multimodal plumbing: decode + meta (meta is
    // oracle-checkable; the feature vectors are law-checked in Verify's
    // diffcheck — text payloads aren't decodable images, so the
    // deterministic fallback meta passes through unchanged) ───────────
    "q_media_features" -> ((s, dir) => {
      val media = graft.ext.Multimodal.asMedia(
        read(s, dir, "documents"), "doc_id", "text", kind = "image")
      graft.ext.Multimodal.extractFeatures(s, media)
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }),

    // ── [EXT] §2.10 token chunking with overlap (embedding prep) ──────
    "q_chunk" -> ((s, dir) =>
      graft.ext.CorpusOps.chunkTokens(read(s, dir, "documents"),
        "doc_id", "text", chunkSize = 30, overlap = 10)
        .orderBy("doc_id", "chunk_id")),

    // ── [EXT] §2.10 sequence packing: concat-and-split at 64 tokens
    // via the distributed prefix-sum (no single-partition window) ─────
    "q_pack" -> ((s, dir) =>
      graft.ext.CorpusOps.packSequences(read(s, dir, "documents"),
        "doc_id", "text", seqLen = 64)
        .orderBy("seq_id", "doc_id")),

    // ── [EXT] §2.10 packed-sequence attention boundaries: per-sequence
    // aligned span arrays for the block-diagonal mask. The driver's
    // pandas-based verifier can't sort array cells, so the arrays are
    // serialized to deterministic comma-joined strings for the gate;
    // packAttentionSpans itself still returns the typed arrays ────────
    "q_pack_spans" -> ((s, dir) =>
      graft.ext.CorpusOps.packAttentionSpans(read(s, dir, "documents"),
        "doc_id", "text", seqLen = 64)
        .select(col("seq_id"),
          array_join(col("doc_ids"), ",").as("doc_ids"),
          array_join(col("seq_starts").cast("array<string>"), ",").as("seq_starts"),
          array_join(col("span_toks").cast("array<string>"), ",").as("span_toks"),
          col("n_docs"), col("n_toks"))
        .orderBy("seq_id")),

    // ── [EXT] §2.10 weighted mixture sampling: src0 ×2.5 (oversample),
    // src1 ×0.25 (downsample), src3 dropped, everything else ×1 ───────
    "q_mix_sample" -> ((s, dir) =>
      graft.ext.CorpusOps.mixtureSample(read(s, dir, "documents"),
        "doc_id", "source", Map("src0" -> 2.5, "src1" -> 0.25, "src3" -> 0.0))
        .select("doc_id", "source", "copy")
        .orderBy("doc_id", "copy")),

    // ── [EXT] §2.10 temperature resampling: alpha=0.5 source
    // re-balance (multiplier = p^α-normalized share / natural share,
    // md5-coin fractional copies) ─────────────────────────────────────
    // (the synthetic corpus is source-uniform, where alpha is a no-op —
    // the filter manufactures a 25-vs-5 docs/source skew so both the
    // upsample and downsample coin paths actually run)
    "q_mix_temperature" -> ((s, dir) =>
      graft.ext.CorpusOps.temperatureSample(
        read(s, dir, "documents").filter(
          col("source").isin("src0", "src1", "src2", "src3", "src4") ||
            col("doc_id") % 5 === 0),
        "doc_id", "source", alpha = 0.5)
        .select("doc_id", "source", "copy")
        .orderBy("doc_id", "copy")),

    // ── [EXT] §2.10 deterministic training-order shuffle ──────────────
    "q_shuffle" -> ((s, dir) =>
      graft.ext.CorpusOps.shuffleRank(read(s, dir, "documents"), "doc_id")
        .select("doc_id", "shuffle_rank").orderBy("doc_id")),

    // ── [EXT] §2.10 training shards: epoch-shuffle → pack at 64 →
    // round-robin onto 8 shards; the whole row set is DuckDB-replayed ─
    "q_shards" -> ((s, dir) =>
      graft.ext.CorpusOps.trainingShards(read(s, dir, "documents"),
        "doc_id", "text", seqLen = 64, numShards = 8)
        .orderBy("seq_id", "doc_id")),

    // ── [EXT] §2.10 PII scan. The synthetic docs carry no PII, so the
    // scan runs over a deterministic augmentation (mirrored verbatim in
    // the oracle SQL) that plants email/url/ip/phone tokens on varying
    // subsets of docs — the operator itself sees only the text column ──
    "q_pii" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val idS = col("doc_id").cast("string")
      val email = when(col("doc_id") % 2 === 0, concat(lit(" contact user"),
        idS, lit("@"), col("source"), lit(".org"))).otherwise(lit(""))
      val url = when(col("doc_id") % 3 === 0, concat(lit(" see https://"),
        col("source"), lit(".example.com/d"), idS)).otherwise(lit(""))
      val ip = when(col("doc_id") % 5 === 0, concat(lit(" host 10.1."),
        (col("doc_id") % 200).cast("string"), lit(".7"))).otherwise(lit(""))
      val phone = when(col("doc_id") % 7 === 0, concat(lit(" call +1 415 555 0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"))).otherwise(lit(""))
      graft.ext.CorpusOps.piiStats(
        docs.withColumn("text", concat(col("text"), email, url, ip, phone)))
        .select("doc_id", "n_emails", "n_urls", "n_ips", "n_phones", "has_pii")
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 PII redaction: the same augmented corpus as q_pii
    // with every email/URL/IP/phone match replaced by its token — the
    // fixed chain order is the contract the oracle replays ────────────
    "q_pii_redact" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val idS = col("doc_id").cast("string")
      val email = when(col("doc_id") % 2 === 0, concat(lit(" contact user"),
        idS, lit("@"), col("source"), lit(".org"))).otherwise(lit(""))
      val url = when(col("doc_id") % 3 === 0, concat(lit(" see https://"),
        col("source"), lit(".example.com/d"), idS)).otherwise(lit(""))
      val ip = when(col("doc_id") % 5 === 0, concat(lit(" host 10.1."),
        (col("doc_id") % 200).cast("string"), lit(".7"))).otherwise(lit(""))
      val phone = when(col("doc_id") % 7 === 0, concat(lit(" call +1 415 555 0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"))).otherwise(lit(""))
      graft.ext.CorpusOps.piiRedact(
        docs.withColumn("text", concat(col("text"), email, url, ip, phone)))
        .select(col("doc_id"), col("text").as("red_text"))
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 URL canonicalization: synthetic messy URLs
    // (mixed case, default/explicit ports, tracking params, unsorted
    // params, trailing slashes, fragments) → canonical dedup keys ─────
    "q_url_canon" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val idS = col("doc_id").cast("string")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
        lit("WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":8080")),
        lit("/Docs/"), idS,
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit("?utm_source=feed&b=2&a="), idS, lit("&fbclid=x")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit("")))
      docs.select(col("doc_id"), url.as("url"))
        .withColumn("canon_url", graft.ext.UrlOps.canonicalize(col("url")))
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 unigram-LM quality scoring (CCNet-style): the
    // corpus scored against its own add-0.5-smoothed LM, vocab pruned
    // at minCount=2 (rare tokens fall into the shared OOV bucket) ─────
    "q_lm_score" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ext.TextAnalysis.lmScore(docs, docs, "doc_id", "text",
        addK = 0.5, minCount = 2L)
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 one-row corpus health report ──────────────────────
    "q_report" -> ((s, dir) =>
      graft.ext.TextAnalysis.corpusReport(read(s, dir, "documents"))),

    // ── [EXT] §2.10 bigram LM perplexity (CCNet shape, one order up
    // from q_lm_score's unigram), self-trained on the corpus ──────────
    "q_lm2_score" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ext.TextAnalysis.lmScore2(docs, docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 CCNet head/middle/tail perplexity buckets:
    // exact tertile cut points over the rounded LM cross-entropy,
    // broadcast back — no global sort, no window ──────────────────────
    "q_ppl_buckets" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ext.TextAnalysis.perplexityBuckets(docs, docs, "doc_id", "text",
        addK = 0.5, minCount = 2L)
        .orderBy("doc_id")
    }),

    // ── [EXT] §2.10 BPE training statistics: the corpus-weighted
    // adjacent-symbol pair counts the first merge chooses from ────────
    "q_bpe_pairs" -> ((s, dir) => {
      val types = graft.ext.Bpe.wordCounts(read(s, dir, "documents"))
        .select(graft.ext.Bpe.symbolize(col("word")).as("sym"), col("cnt"))
      graft.ext.Bpe.pairCounts(types)
        .orderBy(desc("cnt"), asc("lhs"), asc("rhs")).limit(30)
    }),

    // ── [EXT] §2.10 BPE segmentation with a fixed merge list: the
    // induced corpus token vocabulary (merge chain = pure projection,
    // the oracle replays the identical replace chain) ─────────────────
    "q_bpe_encode" -> ((s, dir) =>
      graft.ext.Bpe.encode(read(s, dir, "documents"), "text", BpeMerges)
        .orderBy(desc("cnt"), asc("token")).limit(40)),

    // BYTE-LEVEL BPE (r13 — GPT-2/cl100k family): pretokens keep their
    // leading space, symbols are UTF-8 bytes through the byte↔char
    // bijection, so ANY input round-trips with zero OOV. The in-query
    // law column proves decode(concat(encode(x))) == x on EVERY doc
    // (the oracle asserts the same count as a literal 0 — a single
    // mismatched row breaks the hash match).
    "q_bpe_bytes" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val bad = docs.agg(sum(when(graft.ext.ByteBpe.roundTrips(
        col("text"), ByteBpeMerges), 0L).otherwise(1L)).as("bad"))
      graft.ext.ByteBpe.encode(docs, "text", ByteBpeMerges)
        .orderBy(desc("cnt"), asc("token")).limit(60)
        .crossJoin(broadcast(bad))  // one-row law column on every row
    }),

    // ── [EXT r10] Unigram-LM (SentencePiece) tokenizer family ─────────
    // Exact twin: Viterbi segmentation under FIXED integer micro-nat
    // costs over the ≤12-char word types — the DuckDB oracle
    // enumerates EVERY segmentation per word with a recursive CTE and
    // picks (min cost, lexicographically smallest token join), which
    // must match the engine's DP bit-for-bit. The integer costs are
    // what make the cross-engine tie-break sound.
    "q_unigram_segment_exact" -> ((s, dir) =>
      graft.ext.UnigramLm.segmentTypes(read(s, dir, "documents"), "text",
        UnigramFixedCosts, maxWordLen = 12).orderBy("word")),

    // Trained pieces: distributed EM over the word-type table (one
    // corpus read; E-step = broadcast-pieces forward–backward with
    // fixed-point counts → bit-deterministic). Iterative training has
    // no SQL oracle — the diffcheck enforces refit bit-identity,
    // Σp = 1, single-char coverage, and the vocab-size contract.
    "q_unigram_pieces" -> ((s, dir) => {
      import s.implicits._
      val m = graft.ext.UnigramLm.train(read(s, dir, "documents"),
        vocabSize = 300, emIters = 2)
      m.pieces.toSeq.map { case (p, pr) => (p, math.rint(pr * 1e8) / 1e8) }
        .sortBy { case (p, pr) => (-pr, p) }.take(30)
        .toDF("piece", "prob")
    }),

    // Trained encode: the corpus token-frequency table the trained
    // tokenizer induces (one type-table pass, Viterbi per word TYPE).
    // Diffchecked: Viterbi ≤ char-segmentation cost, round-trip
    // concat, refit-encode determinism.
    "q_unigram_encode" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val m = graft.ext.UnigramLm.train(docs, vocabSize = 300, emIters = 2)
      graft.ext.UnigramLm.encode(docs, "text", m)
        .orderBy(desc("cnt"), asc("token")).limit(40)
    }),

    // ── [EXT] §2.10 per-domain curation stats (FineWeb-style: decide
    // per-domain weights/caps from counts, dup rate, size) — composes
    // the URL ops with corpus aggregates; one domain-keyed hash-agg ───
    "q_domain_stats" -> ((s, dir) => {
      import graft.ext.UrlOps
      val url = concat(lit("https://"),
        when(col("doc_id") % 3 === 0, lit("www."))
          .when(col("doc_id") % 7 === 0, lit("cdn.media."))
          .otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 5 === 0, lit(".co.uk")).otherwise(lit(".com")),
        lit("/doc/"), col("doc_id").cast("string"))
      UrlOps.withUrlParts(
        read(s, dir, "documents").withColumn("url", url), "url")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_uniq"),
          round(avg(length(col("text"))), 2).as("mean_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("n_uniq").cast("double") / col("n_docs"), 4))
        .orderBy("domain")
    }),

    // ── [EXT] §2.10 exact duplicate-substring spans (ACL'22
    // ExactSubstr as a distributed 10-gram inverted index) ────────────
    "q_dup_spans" -> ((s, dir) =>
      graft.ext.TextDedup.dupSpans(read(s, dir, "documents"),
        "doc_id", "text", n = 10, minOccur = 2L)
        .orderBy("doc_id", "span_start")),

    // ── [EXT] §2.10 ExactSubstr dedup: cut every duplicated 10-gram
    // span out of the corpus text (all copies — Lee et al. semantics) ─
    "q_dedup_substr" -> ((s, dir) =>
      graft.ext.TextDedup.removeDupSpans(read(s, dir, "documents"),
        "doc_id", "text", n = 10, minOccur = 2L)
        .orderBy("doc_id")),

    // ── [EXT] §2.10 deterministic exact-k sample: the 100 smallest
    // md5(seed:id) — planned as TakeOrderedAndProject (no global sort) ─
    "q_sample_topk" -> ((s, dir) =>
      graft.ext.Sampling.sampleK(read(s, dir, "documents"), "doc_id", 100)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 exact per-stratum sample: 20 docs per source ──────
    "q_sample_stratum" -> ((s, dir) =>
      graft.ext.Sampling.samplePerStratum(read(s, dir, "documents"),
        "source", "doc_id", 20)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 token-budget cut: keep docs in epoch order until
    // 50k tokens (distributed prefix-sum, ≤1 doc overshoot) ───────────
    "q_token_budget" -> ((s, dir) =>
      graft.ext.CorpusOps.takeTokenBudget(read(s, dir, "documents"),
        "doc_id", "text", budget = 50000L)
        .select("doc_id", "tok_offset", "n_toks")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 equi-width histogram: pure-projection bucketing
    // off a broadcast min/max row, hash-agg on ≤ bins keys ────────────
    "q_histogram" -> ((s, dir) =>
      graft.ext.Profile.histogram(read(s, dir, "lineitem"),
        "l_extendedprice", 16)
        .orderBy("bucket")),

    // ── [EXT] §2.9 trailing 1-hour rolling count/sum per user (RANGE
    // frame on floor-second epoch; same-second peers included) ────────
    "q_rolling" -> ((s, dir) =>
      graft.ext.EventWindows.rolling(read(s, dir, "events"), 3600L)
        .orderBy("event_id")),

    // ── [EXT] §2.9 ordered conversion funnel view→click→purchase:
    // per-user step timestamps, strictly increasing; one Exchange on
    // user_id reused by every stage ───────────────────────────────────
    "q_funnel" -> ((s, dir) =>
      graft.ext.EventWindows.funnel(read(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // ── [EXT] §2.10 cross-source paragraph overlap (contamination
    // between corpus components); testdata sources share nothing, so
    // boilerplate banners keyed on doc_id mod 4/6 are injected
    // deterministically on both sides — residue classes give the pair
    // matrix real structure to count ──────────────────────────────────
    "q_source_overlap" -> ((s, dir) =>
      graft.ext.TextAnalysis.sourceOverlap(
        read(s, dir, "documents").withColumn("text",
          concat(col("text"),
            lit("\n\nSubscribe to the newsletter v"),
            (col("doc_id") % 4).cast("string"),
            lit("\n\nFollow the project w"),
            (col("doc_id") % 6).cast("string"))))
        .orderBy("src_a", "src_b")),

    // ── [EXT] §2.10 weighted sample without replacement (Efraimidis–
    // Spirtakis): k=25 docs ∝ n_chars, md5-derived uniforms, planned
    // as TakeOrderedAndProject ────────────────────────────────────────
    "q_weighted_sample" -> ((s, dir) =>
      graft.ext.Sampling.weightedSampleK(read(s, dir, "documents"),
        "n_chars", "doc_id", k = 25)
        .select("doc_id", "n_chars", "source")
        .orderBy("doc_id")),

    // ── [EXT] §2.10 Z-order (Morton) clustering key: exact integer
    // bucket + bit-interleave over (l_partkey, l_suppkey); bounds come
    // from a broadcast one-row aggregate, no eager driver action ──────
    "q_zorder" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val b = li.agg(
        min(col("l_partkey")).cast("long").as("__mn1__"),
        max(col("l_partkey")).cast("long").as("__mx1__"),
        min(col("l_suppkey")).cast("long").as("__mn2__"),
        max(col("l_suppkey")).cast("long").as("__mx2__"))
      val zed = li.crossJoin(broadcast(b))
        .withColumn("zval", graft.operators.ZOrder.zvalue(
          Seq(col("l_partkey"), col("l_suppkey")),
          Seq(col("__mn1__"), col("__mn2__")),
          Seq(col("__mx1__"), col("__mx2__")), bits = 8))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("zval"))
      // in-query law (r15): a Z-ORDERED snapshot layout gives every
      // file a tight MULTI-column envelope, and a 2-D box query
      // through `format("graft")` prunes the member set from the
      // manifest alone — the read-side twin of the write-side
      // envelope trust
      val scratch = scratchDir("graft_zread")
      val zp = s"$scratch/li_z.parquet"
      // zed is a 1:1 projection of lineitem — footer rows, no count job
      val nLi = rowsOf(s, dir, "lineitem")
      graft.operators.Snapshot.overwrite(s, zed, zp,
        indexBy = Seq("zval"),
        maxRecordsPerFile = math.max(250L, nLi / 24),
        statsCols = Seq("l_partkey", "l_suppkey"), rowsHint = Some(nLi))
      val t = s.read.format("graft").load(zp)
      // SF-independent 10%×20% box inside the key domains (a fixed box
      // is empty at sf0.001, where l_suppkey only spans 1..10)
      val r0 = b.first()
      val (mn1, mx1, mn2, mx2) =
        (r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3))
      val (p1, p2) = (mn1 + (mx1 - mn1) / 5, mn1 + (mx1 - mn1) * 3 / 10)
      val (s1, s2) = (mn2 + (mx2 - mn2) / 5, mn2 + (mx2 - mn2) * 2 / 5)
      val boxT = t.filter(col("l_partkey").between(p1, p2) &&
        col("l_suppkey").between(s1, s2))
      val boxDirect = zed.filter(col("l_partkey").between(p1, p2) &&
        col("l_suppkey").between(s1, s2))
      // r16 (ADVICE): reset the diagnostic BEFORE the counted scan and
      // require it moved — a stale (kept, total) from an earlier query
      // can no longer validate this law
      graft.operators.Snapshot.lastSkipPlan = (-1, -1)
      val nBox = boxDirect.count() // one job, compared twice below
      require(boxT.count() == nBox && nBox > 0,
        "the pruned interop read must equal the direct filter")
      val (kept, total) = graft.operators.Snapshot.lastSkipPlan
      require(total != -1,
        "the box read must have exercised the envelope planner")
      require(total >= 16 && kept < total,
        s"the 2-D box must prune the z-ordered member set " +
          s"(kept $kept of $total)")
      zed.orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
        .limit(50)
    }),

    // ── [EXT] §2.10 r17: STRING z-order — a hex-digest key clusters
    // through its byte-prefix dimension (ZOrder.bytePrefixDim, the
    // BytesBounds truncation discipline as a Morton dim), so the
    // layout carries tight bmin/bmax AND min/max envelopes per file
    // and a 2-D string×long box prunes the member set from the
    // manifest alone — the URL/md5-keyed LLM-corpus layout the r16
    // envelopes could read but not cluster ─────────────────────────
    "q_zorder_str" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("k", md5(col("doc_id").cast("string").cast("binary")))
        .select(col("doc_id"), col("k"), col("n_chars"))
        .withColumn("__kp__", graft.operators.ZOrder.bytePrefixDim(col("k")))
      val b = docs.agg(
        min(col("__kp__")).as("__mn1__"), max(col("__kp__")).as("__mx1__"),
        min(col("doc_id")).cast("long").as("__mn2__"),
        max(col("doc_id")).cast("long").as("__mx2__"))
      val zed = docs.crossJoin(broadcast(b))
        .withColumn("zval", graft.operators.ZOrder.zvalue(
          Seq(col("__kp__"), col("doc_id")),
          Seq(col("__mn1__"), col("__mn2__")),
          Seq(col("__mx1__"), col("__mx2__")), bits = 8))
        .select(col("doc_id"), col("k"), col("n_chars"), col("zval"))
      val scratch = scratchDir("graft_zstr")
      val p = s"$scratch/docs_z.parquet"
      graft.operators.Snapshot.overwrite(s, zed, p,
        indexBy = Seq("zval"), maxRecordsPerFile = 20,
        statsCols = Seq("k", "doc_id"),
        // zed is a 1:1 projection of documents — footer rows, no job;
        // the hint parallelizes the deliberately fragmented 250-file
        // layout (one task wrote them serially: 2.7 s at sf0.1)
        rowsHint = Some(rowsOf(s, dir, "documents")))
      // in-query law (the q_zorder shape with one STRING dim): a
      // hex-key range × doc_id range box through the query DSL plans
      // a strict subset of the z-ordered members from the manifest's
      // byte-bound + long envelopes, and reads exactly those files
      val full = graft.sources.Resolver.readParquet(s, p)
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "docs_z"),
        query = Seq("k__gte" -> "2", "k__lt" -> "8",
          "doc_id__between" -> "100,199")))
      val boxDirect = zed.filter(col("k") >= "2" && col("k") < "8" &&
        col("doc_id").between(100, 199))
      val nBox = boxDirect.count() // one job, compared twice below
      require(frame.count() == nBox && nBox > 0,
        "the pruned box read must equal the direct filter")
      require(full.inputFiles.length >= 16 &&
        frame.inputFiles.length < full.inputFiles.length / 2,
        s"the string×long box must prune the z-ordered member set " +
          s"(${frame.inputFiles.length} of ${full.inputFiles.length})")
      zed.orderBy(col("zval"), col("doc_id")).limit(50)
    }),

    // ── [EXT] §2.10 read-time manifest-envelope FILE SKIPPING (r15):
    // a DSL range read of a sorted snapshot table plans only the
    // members whose recorded key envelopes intersect the range —
    // zero file I/O in the planner; the exact filters above keep the
    // result oracle-identical ───────────────────────────────────────
    "q_read_skip" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val nLi = rowsOf(s, dir, "lineitem") // footer metadata, no job
      val scratch = scratchDir("graft_rskip")
      val p = s"$scratch/li.parquet"
      WriteOps.atomicOverwrite(s, li, p, indexBy = Seq("l_orderkey"),
        maxRecordsPerFile = math.max(500, nLi / 24),
        commitMode = "snapshot", rowsHint = Some(nLi))
      val full = graft.sources.Resolver.readParquet(s, p)
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "li"),
        query = Seq("l_orderkey__gte" -> "100", "l_orderkey__lte" -> "500",
          "l_linenumber__lte" -> "3")))
      // law: the DSL range planned a strict subset of the members,
      // and the planned files are exactly the scan's input files
      require(frame.inputFiles.length < full.inputFiles.length,
        s"envelope skipping must prune the sorted member set " +
          s"(${frame.inputFiles.length} of ${full.inputFiles.length})")
      frame.select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ── [EXT] §2.10 r15 twin: hive partition values prune as POINT
    // envelopes from the manifest rel paths (no dir listing), composed
    // with a data-column envelope conjunct ───────────────────────────
    "q_read_skip_part" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      val scratch = scratchDir("graft_rskipp")
      val p = s"$scratch/ord.parquet"
      WriteOps.atomicOverwrite(s, orders, p, partitionBy = Seq("o_year"),
        indexBy = Seq("o_orderkey"),
        maxRecordsPerFile = math.max(200, rowsOf(s, dir, "orders") / 48),
        commitMode = "snapshot")
      val full = graft.sources.Resolver.readParquet(s, p)
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "ord"),
        query = Seq("o_year" -> "1995", "o_orderkey__lt" -> "2000")))
      require(frame.inputFiles.nonEmpty &&
        frame.inputFiles.forall(_.contains("o_year=1995")),
        "partition conjunct must exclude every other partition's members")
      require(frame.inputFiles.length < full.inputFiles.length,
        "the composed conjuncts must prune within the partition too")
      frame.select("o_year", "o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // ── [EXT] §2.10 r16 twin: STRING-keyed read-time file skipping —
    // truncated byte-bound envelopes (Iceberg truncate-16 analog) let
    // a hex-digest key range plan O(matching files) from the manifest
    // alone; the common LLM-corpus shape (URL / md5 doc keys) ────────
    "q_read_skip_str" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .withColumn("k", md5(col("doc_id").cast("string").cast("binary")))
      val nDocs = rowsOf(s, dir, "documents") // footer metadata, no job
      val scratch = scratchDir("graft_rskips")
      val p = s"$scratch/docs.parquet"
      WriteOps.atomicOverwrite(s, docs, p, indexBy = Seq("k"),
        maxRecordsPerFile = math.max(20, nDocs / 24),
        commitMode = "snapshot", rowsHint = Some(nDocs))
      val full = graft.sources.Resolver.readParquet(s, p)
      val frame = graft.engine.Planner.sourceFrame(s, SourceSpec(
        DatasetRef("parquet", scratch, "docs"),
        query = Seq("k__gte" -> "2", "k__lt" -> "4")))
      // law: the hex-key range planned a strict subset of the members
      // from the manifest's BYTE envelopes, and those are exactly the
      // scan's input files
      require(frame.inputFiles.nonEmpty &&
        frame.inputFiles.length < full.inputFiles.length / 2,
        s"string-key envelope skipping must prune the sorted member " +
          s"set (${frame.inputFiles.length} of ${full.inputFiles.length})")
      frame.select("doc_id", "k", "lang", "n_chars").orderBy("k")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_filter_eq" ->
      "SELECT * FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey",
    "q_filter_ops" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount < 0.03 AND l_returnflag IN ('A','N')
         ORDER BY l_orderkey, l_linenumber""",
    "q_sort_limit" ->
      "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q_fields_excl" ->
      "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders ORDER BY o_orderkey",
    "q_count" ->
      "SELECT count(*) AS cnt FROM lineitem WHERE l_returnflag = 'R'",
    "q_count_capped" ->
      "SELECT least(100, count(*)) AS cnt FROM lineitem WHERE l_returnflag = 'R'",
    // r17 predicate-covered metadata count: the value is the plain
    // range count (the boundary-only-scan law is an in-query require)
    "q_count_range" ->
      """SELECT count(*) AS cnt FROM lineitem
         WHERE l_orderkey >= 100
           AND l_orderkey <= (SELECT max(l_orderkey) * 6 // 10 FROM lineitem)""",
    // r17 metadata aggregates: the values are the plain aggregates
    // (the zero-scan LocalRelation law is an in-query require)
    "q_agg_metadata" ->
      """SELECT min(o_orderkey) AS min_o_orderkey,
                max(o_orderkey) AS max_o_orderkey,
                min(o_orderdate) AS min_o_orderdate,
                max(o_orderdate) AS max_o_orderdate,
                count(*) AS count_all
         FROM orders""",
    // r18 per-group metadata aggregates: the values are the plain
    // GROUP BY (the no-scan LocalRelation-leaves law is an in-query
    // require)
    "q_group_metadata" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                count(*) AS count_all,
                min(o_orderdate) AS min_o_orderdate,
                max(o_orderdate) AS max_o_orderdate
         FROM orders GROUP BY 1 ORDER BY 1""",
    // r18 predicate-covered metadata aggregates: the values are the
    // plain filtered aggregates (the ≤2-boundary law is an in-query
    // require)
    "q_agg_range" ->
      """SELECT min(l_shipdate) AS min_l_shipdate,
                max(l_shipdate) AS max_l_shipdate,
                count(*) AS count_all
         FROM lineitem
         WHERE l_orderkey >= 100
           AND l_orderkey <= (SELECT max(l_orderkey) * 6 // 10 FROM lineitem)""",
    "q_merge_left" ->
      """SELECT o.*, c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey""",
    "q_merge_rule" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
                CASE WHEN c.c_acctbal IS NOT NULL AND o.o_totalprice IS NOT NULL
                     THEN o.o_totalprice + c.c_acctbal
                     ELSE coalesce(o.o_totalprice, c.c_acctbal) END AS o_totalprice,
                o.o_orderdate, o.o_orderpriority,
                c.c_custkey, c.c_name, c.c_nationkey, c.c_mktsegment
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey""",
    "q_merge_inner" ->
      """SELECT c.*, o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
                o.o_orderdate, o.o_orderpriority
         FROM customer c
         JOIN (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderkey) AS rn FROM orders) o
           ON c.c_custkey = o.o_custkey AND o.rn = 1
         ORDER BY c.c_custkey""",
    "q_merge_anti" ->
      """SELECT * FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
         ORDER BY o_orderkey""",
    "q_merge_unwind" ->
      """SELECT o.*, l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
                l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
                l.l_returnflag, l.l_linestatus, l.l_shipdate
         FROM orders o
         LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 45) l
           ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderstatus = 'F'
         ORDER BY o.o_orderkey, l.l_linenumber NULLS FIRST""",
    "q_merge_as_flat" ->
      """SELECT o.*, c.c_custkey AS cust_c_custkey, c.c_name AS cust_c_name,
                c.c_nationkey AS cust_c_nationkey, c.c_acctbal AS cust_c_acctbal,
                c.c_mktsegment AS cust_c_mktsegment
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         ORDER BY o.o_orderkey""",
    "q_write_upsert" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    // identical result contract to q_write_upsert — the pruned writer
    // is an execution strategy, not a semantics change
    "q_write_upsert_pruned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    "q_write_upsert_part_pruned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    // both retained snapshot generations replayed from the source:
    // v1 = the table as written, v2 = after the keyed upsert
    "q_time_travel" ->
      """SELECT snap, o_orderkey, o_totalprice FROM (
           SELECT 'v1' AS snap, o_orderkey, o_totalprice FROM orders
           UNION ALL
           SELECT 'v2', o_orderkey,
                  CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2 ELSE o_totalprice END
           FROM orders)
         ORDER BY snap, o_orderkey""",
    // the incremental-maintenance law's ground truth: the DIRECT
    // grouped aggregate over the whole fact table
    "q_rollup_incr" ->
      """SELECT l_returnflag, l_linestatus,
                count(*) AS n,
                sum(l_quantity) AS sum_l_quantity,
                min(l_quantity) AS min_l_quantity,
                max(l_extendedprice) AS max_l_extendedprice,
                avg(l_discount) AS avg_l_discount
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    // the expected CDC rows per class: keys < 1000 changed price
    // (pre+post image), [1000, 2000) deleted, < 100 re-inserted
    // under offset keys
    // q_changelog's rows under the POST-RENAME name (the rename step
    // itself contributes nothing — proven by an in-query require)
    "q_changelog_rename" ->
      """SELECT o_orderkey, o_price, _change_type,
                CAST(2 AS BIGINT) AS _commit_version FROM (
           SELECT o_orderkey, o_totalprice AS o_price,
                  'update_preimage' AS _change_type
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2, 'update_postimage'
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT o_orderkey, o_totalprice, 'delete'
           FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
           UNION ALL
           SELECT o_orderkey + 10000000, o_totalprice, 'insert'
           FROM orders WHERE o_orderkey < 100)
         ORDER BY o_orderkey, _change_type""",
    // the logical table after the metadata drop + post-drop upsert;
    // physical claims (zero data files, travel, resurrection fence)
    // are in-query requires
    "q_drop_column" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice,
                o_orderdate
         FROM orders ORDER BY o_orderkey""",
    // the streamed CDF is q_changelog's v2 rows plus the v3
    // predicate-DV deletes ([2000,3000) at their v2 image)
    "q_cdf_stream" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_type,
                  CAST(2 AS BIGINT) AS _commit_version
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2, 'update_postimage',
                  CAST(2 AS BIGINT)
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT o_orderkey, o_totalprice, 'delete', CAST(2 AS BIGINT)
           FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
           UNION ALL
           SELECT o_orderkey + 10000000, o_totalprice, 'insert',
                  CAST(2 AS BIGINT)
           FROM orders WHERE o_orderkey < 100
           UNION ALL
           SELECT o_orderkey, o_totalprice, 'delete', CAST(3 AS BIGINT)
           FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 3000)
         ORDER BY o_orderkey, _change_type, _commit_version""",
    "q_changelog" ->
      """SELECT o_orderkey, o_totalprice, _change_type,
                CAST(2 AS BIGINT) AS _commit_version FROM (
           SELECT o_orderkey, o_totalprice, 'update_preimage' AS _change_type
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2, 'update_postimage'
           FROM orders WHERE o_orderkey < 1000
           UNION ALL
           SELECT o_orderkey, o_totalprice, 'delete'
           FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
           UNION ALL
           SELECT o_orderkey + 10000000, o_totalprice, 'insert'
           FROM orders WHERE o_orderkey < 100)
         ORDER BY o_orderkey, _change_type""",
    // the exhaustive Viterbi twin: every segmentation of every ≤12-char
    // word type enumerated by recursive CTE; best = (min integer cost,
    // lexicographically smallest '|'-join) — the engine DP's contract.
    // The VALUES list is generated from the same UnigramFixedCosts map
    // the engine uses (single source of truth).
    "q_unigram_segment_exact" -> {
      val values = UnigramFixedCosts.toSeq.sortBy(_._1)
        .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
      s"""WITH RECURSIVE tok AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\W+'),
                                     x -> x <> '')) AS w
           FROM documents),
         t AS (SELECT w AS word, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
         words AS (SELECT word, cnt FROM t WHERE length(word) <= 12),
         pieces(piece, cost) AS (VALUES $values),
         seg AS (
           SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, '' AS toks
           FROM words
           UNION ALL
           SELECT s.word, s.pos + length(p.piece), s.cost + p.cost,
                  CASE WHEN s.toks = '' THEN p.piece
                       ELSE s.toks || '|' || p.piece END
           FROM seg s JOIN pieces p
             ON substr(s.word, s.pos + 1, length(p.piece)) = p.piece
           WHERE s.pos < length(s.word)),
         done AS (SELECT word, cost, toks FROM seg WHERE pos = length(word)),
         best AS (SELECT word, min(cost) AS cost FROM done GROUP BY 1),
         pick AS (SELECT d.word, b.cost, min(d.toks) AS toks
                  FROM done d JOIN best b
                    ON d.word = b.word AND d.cost = b.cost
                  GROUP BY d.word, b.cost)
         SELECT w.word, p.toks, p.cost, w.cnt
         FROM words w JOIN pick p ON w.word = p.word
         ORDER BY w.word"""
    },
    // widening upsert: touched keys (< 1000) carry the doubled price
    // and the new column's value; every other row serves NULL o_flag
    "q_write_upsert_evolve" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN o_orderkey < 1000 THEN o_orderkey % 7
                     ELSE NULL END AS o_flag
         FROM orders ORDER BY o_orderkey""",
    // type widening: the final table is the seed (o_qty = key % 100,
    // upcast int→long) with keys < 1000 replaced by the append batch
    // whose o_qty only fits the WIDE type — the physical
    // narrow/wide-file mix and per-version types are in-query laws
    "q_retype_widen" ->
      """SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey < 1000 THEN o_orderkey + 10000000000
                     ELSE o_orderkey % 100 END AS o_qty
         FROM orders ORDER BY o_orderkey""",
    // widening CDC: v1-side o_flag is the NULL pad; only keys < 2000
    // change (price doubled < 1000, flag gained < 2000) — the rest are
    // unchanged under NULL-safe struct equality and emit nothing
    "q_changelog_evolve" ->
      """SELECT o_orderkey, o_totalprice, o_flag, _change_type,
                CAST(2 AS BIGINT) AS _commit_version FROM (
           SELECT o_orderkey, o_totalprice, CAST(NULL AS BIGINT) AS o_flag,
                  'update_preimage' AS _change_type
           FROM orders WHERE o_orderkey < 2000
           UNION ALL
           SELECT o_orderkey,
                  CASE WHEN o_orderkey < 1000 THEN o_totalprice * 2 ELSE o_totalprice END,
                  o_orderkey % 7, 'update_postimage'
           FROM orders WHERE o_orderkey < 2000)
         ORDER BY o_orderkey, _change_type""",
    "q_write_insert" ->
      """SELECT * FROM (
           SELECT * FROM orders
           UNION ALL
           SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
                  o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey < 1000)
         ORDER BY o_orderkey""",
    "q_write_update" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                CASE WHEN o_orderkey < 2000 AND o_orderstatus = 'O'
                     THEN '9-UPDATED' ELSE o_orderpriority END AS o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    "q_write_delete" ->
      """SELECT * FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_orderkey < 5000)
         ORDER BY o_orderkey""",
    // the DV (tombstone) delete serves the same logical table as the
    // rewrite delete — the physical difference is proven by in-query
    // requires (no data file touched, v1 intact)
    "q_delete_dv" ->
      """SELECT * FROM orders
         WHERE o_orderkey NOT IN (
           SELECT o_orderkey FROM orders
           WHERE o_orderstatus = 'F' AND o_orderkey < 5000)
         ORDER BY o_orderkey""",
    // the predicate tombstone deletes rows where the predicate is TRUE
    // (NULL keeps the row — SQL DELETE semantics), so the oracle is the
    // direct complement filter; physical claims (zero data files, the
    // pred≡keys law) are in-query requires
    "q_delete_dv_pred" ->
      """SELECT * FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_orderkey < 5000)
         ORDER BY o_orderkey""",
    // delete-then-upsert replayed logically: keys < 1000 carry the
    // doubled price (re-asserted even where tombstoned); other
    // tombstoned keys stay deleted
    "q_write_upsert_dv" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey < 1000
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderkey >= 1000
           AND NOT (o_orderstatus = 'F' AND o_orderkey < 5000)
         ORDER BY o_orderkey""",
    // the predicate-composed merge serves the SAME logical table as
    // the keys-DV route — the physical difference (strict subset,
    // retained predicate) is proven by in-query requires
    "q_write_upsert_dv_pred" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey < 1000
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderkey >= 1000
           AND NOT (o_orderstatus = 'F' AND o_orderkey < 5000)
         ORDER BY o_orderkey""",
    // the append-shaped route serves the SAME logical table as the
    // rewriting DV-composed merge — the physical difference (zero data
    // files touched, one batch file + one tombstone at one seq) is
    // proven by in-query requires
    "q_write_upsert_append" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey < 1000
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderkey >= 1000
           AND NOT (o_orderstatus = 'F' AND o_orderkey < 5000)
         ORDER BY o_orderkey""",
    "q_write_index" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                CASE WHEN o_orderkey < 1000 THEN NULL ELSE o_orderpriority END AS o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    // fixpoint convergence is closed-form: EVERY row ends processed
    // with the per-iteration transform applied exactly once
    "q_fixpoint" ->
      """SELECT o_orderkey, lower(o_orderpriority) AS pri, TRUE AS processed
         FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""",
    "q_transform_chain" ->
      """SELECT c_custkey, upper(c_name) AS c_name, c_nationkey, c_acctbal, c_mktsegment,
                CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_band
         FROM customer ORDER BY c_custkey""",
    "q_group_dsl" ->
      """SELECT o_orderstatus, count(*) AS count_all, max(o_totalprice) AS max_o_totalprice
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_group_pctl" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.50), 4) AS p50_l_extendedprice,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_l_extendedprice,
                count(*) AS count_all
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_fuzz_scan" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM (
           SELECT * FROM orders
           WHERE o_orderkey BETWEEN 500 AND 4500
             AND o_orderpriority IN ('1-URGENT', '5-LOW')
             AND o_orderstatus <> 'P'
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 100)""",
    "q_fuzz_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS count_all,
                round(sum(o_totalprice), 2) AS sum_o_totalprice,
                min(o_orderkey) AS min_o_orderkey,
                max(o_orderkey) AS max_o_orderkey,
                count(DISTINCT o_custkey) AS countd_o_custkey
         FROM orders WHERE o_orderdate >= DATE '1994-01-01'
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_fuzz_proj_excl" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE o_orderpriority LIKE '1-%' AND o_totalprice <= 150000.0
         ORDER BY o_orderkey""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
                round(avg(l_quantity), 4) AS avg_qty,
                count(*) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_window_topn" ->
      """SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_dedup_exact" ->
      """SELECT doc_id, text, lang, source, n_chars FROM (
           SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",
    "q_dedup_bloom" ->                 // batch firsts minus already-seen texts
      """WITH seen AS (
           SELECT DISTINCT lower(trim(text)) AS k
           FROM documents WHERE doc_id < 400),
         firsts AS (
           SELECT *, row_number() OVER (PARTITION BY lower(trim(text))
                                        ORDER BY doc_id) AS rn
           FROM documents WHERE doc_id >= 400)
         SELECT doc_id, text, lang, source, n_chars FROM firsts
         WHERE rn = 1
           AND lower(trim(text)) NOT IN (SELECT k FROM seen)
         ORDER BY doc_id""",
    "q_url_curate" ->                  // host → registered domain → blocklist → cap 10/domain
      """WITH u AS (
           SELECT doc_id,
                  'https://' ||
                  CASE WHEN doc_id % 3 = 0 THEN 'www.'
                       WHEN doc_id % 7 = 0 THEN 'cdn.media.'
                       ELSE '' END ||
                  source ||
                  CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END ||
                  '/doc/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         h AS (
           SELECT doc_id,
                  lower(regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                    1)) AS host
           FROM u),
         d AS (
           SELECT doc_id, host, string_split(host, '.') AS p FROM h),
         r AS (
           SELECT doc_id, host,
                  CASE WHEN len(p) <= 2 THEN host
                       WHEN p[-2] || '.' || p[-1] IN
                            ('co.uk','ac.uk','gov.uk','org.uk','co.jp',
                             'ne.jp','or.jp','com.au','net.au','org.au',
                             'com.br','com.cn','com.tw','co.in','co.kr',
                             'com.mx','co.za','com.sg','com.ar')
                         THEN p[-3] || '.' || p[-2] || '.' || p[-1]
                       ELSE p[-2] || '.' || p[-1] END AS domain
           FROM d),
         f AS (
           SELECT * FROM r WHERE domain NOT IN ('src3.com','src7.co.uk')),
         c AS (
           SELECT *, row_number() OVER (PARTITION BY domain
                                        ORDER BY doc_id) AS rn
           FROM f)
         SELECT doc_id, host, domain FROM c WHERE rn <= 10 ORDER BY doc_id""",
    "q_line_dedup" ->                  // first (doc_id, pos) wins per line
      """WITH src AS (
           SELECT doc_id,
                  regexp_replace(text, ' (the|a|table|query|value) ',
                                 chr(10), 'g') AS t
           FROM documents),
         e0 AS (
           SELECT doc_id,
                  unnest([{'p': i, 'l': string_split(t, chr(10))[i+1]}
                          FOR i IN range(len(string_split(t, chr(10))))]) AS u
           FROM src),
         e AS (
           SELECT doc_id, u.p AS pos, u.l AS line FROM e0
           WHERE trim(u.l) <> ''),
         k AS (
           SELECT doc_id, pos, line,
                  row_number() OVER (PARTITION BY line
                                     ORDER BY doc_id, pos) AS rn
           FROM e),
         g AS (
           SELECT doc_id,
                  list(line ORDER BY pos) FILTER (WHERE rn = 1) AS keptl,
                  count(*)::BIGINT AS tot
           FROM k GROUP BY doc_id)
         SELECT doc_id, array_to_string(keptl, chr(10)) AS text,
                len(keptl)::BIGINT AS n_lines,
                (tot - len(keptl))::BIGINT AS n_dropped
         FROM g WHERE len(keptl) > 0 ORDER BY doc_id""",
    "q_bm25" ->                        // top-25 by BM25(k1=1.2, b=0.75), Lucene idf
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS ts
           FROM documents),
         s AS (
           SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl
           FROM t),
         e AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM t),
         tf AS (
           SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
           FROM e WHERE tok IN ('fast', 'hash', 'join', 'dup')
           GROUP BY 1, 2, 3),
         dfr AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         c AS (
           SELECT tf.doc_id, tf.tok,
                  ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) *
                  (tf.tf * (1.2 + 1)) /
                  (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
                    AS contrib
           FROM tf, dfr, s WHERE tf.tok = dfr.tok),
         g AS (
           SELECT doc_id,
                  round(list_sum(list(contrib ORDER BY tok)), 4) AS score
           FROM c GROUP BY doc_id)
         SELECT doc_id, score FROM g ORDER BY score DESC, doc_id LIMIT 25""",
    // the water-fill replayed in closed form: saturation-point sort +
    // window prefix sums pick the level T*; rows at/below T* cap,
    // the rest take share × T*. VALUES shares generated from the same
    // normalized map the engine solves with.
    "q_mix_solve" -> {
      val wSum = MixShares.values.sum
      val values = MixShares.toSeq.sortBy(_._1)
        .map { case (s, w) => s"('$s', ${w / wSum})" }.mkString(", ")
      s"""WITH d AS (
           SELECT source,
                  list_filter(string_split_regex(lower(trim(text)), '\\W+'),
                              x -> x <> '') AS ts
           FROM documents),
         a AS (SELECT source, sum(len(ts))::BIGINT AS available
               FROM d GROUP BY 1),
         cfg(source, share) AS (VALUES $values),
         j AS (SELECT a.source, a.available,
                      coalesce(CAST(cfg.share AS DOUBLE),
                               CAST(0.0 AS DOUBLE)) AS share,
                      CAST(a.available AS DOUBLE) * CAST(2.0 AS DOUBLE) AS cap
               FROM a LEFT JOIN cfg USING (source)),
         tot AS (SELECT floor(0.5 * sum(available)) AS budget FROM j),
         pj AS (SELECT * FROM j WHERE share > 0),
         ct AS (SELECT sum(cap) AS cap_total FROM pj),
         o AS (SELECT pj.*, cap / share AS t FROM pj),
         r AS (SELECT o.*,
                 coalesce(sum(cap) OVER (ORDER BY t, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0,
                 sum(share) OVER (ORDER BY t, source
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wrem
               FROM o),
         r2 AS (SELECT r.*, tot.budget, ct.cap_total,
                       (tot.budget - r.c0) / r.wrem AS cand
                FROM r, tot, ct),
         tsel AS (SELECT cand AS tstar FROM r2 WHERE cand <= t
                  ORDER BY t, source LIMIT 1),
         fin AS (
           SELECT r2.source, r2.available, r2.share,
                  r2.cap AS cap_tokens,
                  CASE WHEN r2.budget >= r2.cap_total THEN r2.cap
                       ELSE least(r2.cap, r2.share * (SELECT tstar FROM tsel))
                  END AS alloc
           FROM r2
           UNION ALL
           SELECT source, available, share, cap AS cap_tokens,
                  CAST(0.0 AS DOUBLE) AS alloc
           FROM j WHERE share <= 0)
         SELECT source, available, round(share, 6) AS share, cap_tokens,
                round(alloc, 2) AS allocated,
                round(alloc / greatest(1, available), 6) AS rate
         FROM fin ORDER BY source"""
    },
    // multi-query BM25 with the same per-term math as q_bm25, grouped
    // per query; positives excluded; rank = per-query row_number on
    // (rounded score desc, doc_id)
    "q_hard_negatives" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS ts
           FROM documents),
         s AS (
           SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl
           FROM t),
         e AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM t),
         qt(q_id, tok) AS (VALUES
           (0, 'fast'), (0, 'hash'), (0, 'join'),
           (1, 'slow'), (1, 'scan'), (1, 'filter'),
           (2, 'customer'), (2, 'batch'), (2, 'row')),
         pos(q_id, pos_id) AS (VALUES (0, 3), (1, 7), (2, 11)),
         tf AS (
           SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
           FROM e WHERE tok IN (SELECT tok FROM qt)
           GROUP BY 1, 2, 3),
         dfr AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         c AS (
           SELECT tf.doc_id, tf.tok,
                  ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) *
                  (tf.tf * (1.2 + 1)) /
                  (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
                    AS contrib
           FROM tf, dfr, s WHERE tf.tok = dfr.tok),
         g AS (
           SELECT qt.q_id, c.doc_id,
                  round(list_sum(list(contrib ORDER BY c.tok)), 4) AS score
           FROM c JOIN qt ON c.tok = qt.tok GROUP BY 1, 2),
         r AS (
           SELECT g.q_id, g.doc_id, g.score,
                  row_number() OVER (PARTITION BY g.q_id
                    ORDER BY g.score DESC, g.doc_id) AS rank
           FROM g JOIN pos ON g.q_id = pos.q_id
           WHERE g.doc_id <> pos.pos_id)
         SELECT CAST(q_id AS BIGINT) AS q_id, doc_id AS neg_id, score, rank
         FROM r WHERE rank <= 5 ORDER BY q_id, rank""",
    // identical scoring math from the persisted index ⇒ shares the
    // from-scratch BM25 oracle verbatim
    "q_bm25_persisted" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS ts
           FROM documents),
         s AS (
           SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl
           FROM t),
         e AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM t),
         tf AS (
           SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
           FROM e WHERE tok IN ('fast', 'hash', 'join', 'dup')
           GROUP BY 1, 2, 3),
         dfr AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         c AS (
           SELECT tf.doc_id, tf.tok,
                  ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) *
                  (tf.tf * (1.2 + 1)) /
                  (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
                    AS contrib
           FROM tf, dfr, s WHERE tf.tok = dfr.tok),
         g AS (
           SELECT doc_id,
                  round(list_sum(list(contrib ORDER BY tok)), 4) AS score
           FROM c GROUP BY doc_id)
         SELECT doc_id, score FROM g ORDER BY score DESC, doc_id LIMIT 25""",
    "q_hybrid_rrf" ->                  // RRF c=60: dense top-50 + sparse top-50
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
         dense AS (
           SELECT vec_id AS id, rank FROM (
             SELECT e.vec_id,
                    row_number() OVER (
                      ORDER BY list_cosine_similarity(q.emb, e.emb) DESC,
                               e.vec_id) AS rank
             FROM d q JOIN d e ON q.vec_id = 0 AND q.vec_id <> e.vec_id)
           WHERE rank <= 50),
         t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS ts
           FROM documents),
         s AS (
           SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl
           FROM t),
         e AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM t),
         tf AS (
           SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
           FROM e WHERE tok IN ('fast', 'hash', 'join', 'dup')
           GROUP BY 1, 2, 3),
         dfr AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         c AS (
           SELECT tf.doc_id, tf.tok,
                  ln((s.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0) *
                  (tf.tf * (1.2 + 1)) /
                  (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
                    AS contrib
           FROM tf, dfr, s WHERE tf.tok = dfr.tok),
         g AS (
           SELECT doc_id,
                  round(list_sum(list(contrib ORDER BY tok)), 4) AS score
           FROM c GROUP BY doc_id),
         sparse AS (
           SELECT doc_id AS id,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           FROM (SELECT doc_id, score FROM g
                 ORDER BY score DESC, doc_id LIMIT 50)),
         fused AS (
           SELECT coalesce(dn.id, sp.id) AS id,
                  round(coalesce(1.0::DOUBLE / (60 + dn.rank), 0.0)
                      + coalesce(1.0::DOUBLE / (60 + sp.rank), 0.0), 6)
                    AS rrf_score,
                  ((CASE WHEN dn.id IS NULL THEN 0 ELSE 1 END)
                 + (CASE WHEN sp.id IS NULL THEN 0 ELSE 1 END))::BIGINT
                    AS n_lists
           FROM dense dn FULL OUTER JOIN sparse sp ON dn.id = sp.id)
         SELECT id, rrf_score, n_lists FROM fused
         ORDER BY rrf_score DESC, id LIMIT 25""",
    "q_blocklist" ->                   // word-level bad-word filter
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS ts
           FROM documents),
         b AS (
           SELECT doc_id,
                  list_filter(ts, x ->
                    list_contains(['casino', 'dup', 'fast', 'hash'], x)) AS bad
           FROM t)
         SELECT doc_id, len(bad)::BIGINT AS n_blocked,
                len(list_distinct(bad))::BIGINT AS n_blocked_types,
                len(bad) > 0 AS blocked
         FROM b ORDER BY doc_id""",
    // separator-injection sentence split (no lookaround — RE2-safe)
    "q_sentences" ->
      """WITH aug AS (
           SELECT doc_id,
                  substr(text, 1, 50) || '. First tail! Again? 9 begins. '
                    || substr(text, 51, 40) AS text
           FROM documents),
         m AS (
           SELECT doc_id,
                  regexp_replace(text, '([.!?])\s+([A-Z0-9])',
                                 '\1' || chr(1) || '\2', 'g') AS t
           FROM aug),
         l AS (
           SELECT doc_id,
                  list_filter([trim(x) FOR x IN string_split(t, chr(1))],
                              x -> x <> '') AS ls
           FROM m),
         e AS (
           SELECT doc_id,
                  unnest([{'i': i, 's': ls[i+1]} FOR i IN range(len(ls))]) AS u
           FROM l)
         SELECT doc_id, u.i AS sent_idx, u.s AS sentence
         FROM e ORDER BY doc_id, sent_idx""",
    // add-1 char-3-gram NB over the corpus's own labels; the logp sum
    // runs in exact fixed-point longs (floor(lp*1e12), associative and
    // identical in every IEEE engine) so the float totals are portable
    "q_langid_nb" ->
      """WITH nrm AS (
           SELECT doc_id, lang,
                  substr(trim(regexp_replace(lower(coalesce(text, '')),
                                             '\W+', ' ', 'g')), 1, 200) AS s
           FROM documents),
         trg AS (
           SELECT lang, unnest([substr(s, i+1, 3)
                                FOR i IN range(len(s) - 2)]) AS gram
           FROM nrm WHERE len(s) >= 3 AND lang IS NOT NULL),
         model AS (
           SELECT lang, gram, count(*)::DOUBLE AS cnt FROM trg GROUP BY 1, 2),
         tot AS (SELECT lang, sum(cnt) AS n FROM model GROUP BY 1),
         voc AS (SELECT count(DISTINCT gram)::DOUBLE AS v FROM model),
         lp AS (
           SELECT m.lang, m.gram,
                  CAST(floor(ln((m.cnt + 1.0) / (t.n + 1.0 * (voc.v + 1)))
                             * 1e12) AS BIGINT) AS lpf
           FROM model m, tot t, voc WHERE m.lang = t.lang),
         oov AS (
           SELECT t.lang, ln(1.0 / (t.n + 1.0 * (voc.v + 1))) AS oov
           FROM tot t, voc),
         dg AS (
           SELECT doc_id, unnest([substr(s, i+1, 3)
                                  FOR i IN range(len(s) - 2)]) AS gram
           FROM nrm WHERE len(s) >= 3),
         ng AS (
           SELECT n0.doc_id, coalesce(c0.c, 0)::DOUBLE AS ng
           FROM (SELECT DISTINCT doc_id FROM nrm) n0
           LEFT JOIN (SELECT doc_id, count(*) AS c FROM dg GROUP BY 1) c0
             ON n0.doc_id = c0.doc_id),
         mt AS (
           SELECT dg.doc_id, lp.lang,
                  sum(lp.lpf) AS sf,
                  count(*)::DOUBLE AS m
           FROM dg JOIN lp ON dg.gram = lp.gram GROUP BY 1, 2),
         fl AS (
           SELECT ng.doc_id, o.lang,
                  coalesce(mt.sf, 0) / 1e12
                    + (ng.ng - coalesce(mt.m, 0)) * o.oov AS logp
           FROM ng CROSS JOIN oov o
           LEFT JOIN mt ON mt.doc_id = ng.doc_id AND mt.lang = o.lang),
         rk AS (
           SELECT doc_id, lang, logp,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY logp DESC, lang) AS rn
           FROM fl)
         SELECT doc_id, lang AS pred_lang, round(logp, 4) AS logp
         FROM rk WHERE rn = 1 ORDER BY doc_id""",
    "q_winnow" ->                      // MOSS fingerprint overlap pairs (k=12, w=12, df<=30)
      """WITH n AS (
           SELECT doc_id, lower(regexp_replace(text, '\W+', '', 'g')) AS s
           FROM documents),
         h AS (
           SELECT doc_id,
                  [CAST('0x' || substr(md5(substr(s, i+1, 12)), 1, 15)
                        AS BIGINT)
                   FOR i IN range(len(s) - 12 + 1)] AS hs
           FROM n WHERE len(s) >= 23),
         f AS (
           SELECT doc_id,
                  list_distinct([list_min(hs[i+1:i+12])
                                 FOR i IN range(len(hs) - 12 + 1)]) AS fps
           FROM h),
         e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         r AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 30),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  count(*)::BIGINT AS n_shared
           FROM e a JOIN r USING (fp) JOIN e b USING (fp)
           WHERE a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, n_shared FROM p
         WHERE n_shared >= 3 ORDER BY id_a, id_b""",
    "q_para_dedup" ->                  // normalized-key paragraph pass, first (doc_id, pos) wins
      """WITH src AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0 THEN upper(t) ELSE t END AS t
           FROM (SELECT doc_id,
                        regexp_replace(text, ' (of|and|to|in) ',
                                       chr(10)||chr(10), 'g') AS t
                 FROM documents)),
         e0 AS (
           SELECT doc_id,
                  unnest([{'p': i,
                           'para': string_split(t, chr(10)||chr(10))[i+1]}
                          FOR i IN range(len(string_split(t,
                                                chr(10)||chr(10))))]) AS u
           FROM src),
         e AS (
           SELECT doc_id, u.p AS pos, u.para AS para,
                  lower(trim(regexp_replace(u.para, '\s+', ' ', 'g'))) AS k
           FROM e0 WHERE trim(u.para) <> ''),
         w AS (
           SELECT doc_id, pos, para,
                  row_number() OVER (PARTITION BY k
                                     ORDER BY doc_id, pos) AS rn
           FROM e),
         g AS (
           SELECT doc_id,
                  list(para ORDER BY pos) FILTER (WHERE rn = 1) AS keptp,
                  count(*)::BIGINT AS tot
           FROM w GROUP BY doc_id)
         SELECT doc_id,
                array_to_string(keptp, chr(10)||chr(10)) AS text,
                len(keptp)::BIGINT AS n_paras,
                (tot - len(keptp))::BIGINT AS n_dropped
         FROM g WHERE len(keptp) > 0 ORDER BY doc_id""",
    "q_dedup_jaccard" -> JaccardOracle,
    // decontamination: corpus docs (id ≥ 20) sharing any distinct
    // 5-gram with a benchmark doc (id < 20) are dropped
    "q_decontaminate" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN len(toks) >= 5
                    THEN [toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                          || ' ' || toks[i+4] || ' ' || toks[i+5]
                          FOR i IN range(len(toks) - 4)]
                    ELSE [] END) AS s
           FROM t),
         bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
         hits AS (
           SELECT doc_id FROM sh
           WHERE doc_id >= 20 AND s IN (SELECT s FROM bench)
           GROUP BY doc_id HAVING count(DISTINCT s) >= 1)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d
         WHERE d.doc_id >= 20 AND d.doc_id NOT IN (SELECT doc_id FROM hits)
         ORDER BY d.doc_id""",
    "q_dedup_minhash" -> JaccardOracle, // LSH recall ≈ 1 at j ≥ 0.8 ⇒ same result
    // containment twin of JaccardOracle: same shingle CTEs, the
    // denominator is min(|A|,|B|) instead of the union
    "q_dedup_containment" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN len(t) >= 3
                    THEN [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                          FOR i IN range(len(t) - 2)]
                    ELSE [] END) AS s
           FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(c * 1.0 / least(sa.n, sb.n), 4) AS containment
         FROM common
         JOIN sizes sa ON id_a = sa.doc_id
         JOIN sizes sb ON id_b = sb.doc_id
         WHERE c * 1.0 / least(sa.n, sb.n) >= 0.8
         ORDER BY id_a, id_b""",
    // brute-force 60-bit md5-portable SimHash: per-token hash =
    // first 15 md5 hex digits; per-bit ±1 votes, sign → bit — the
    // exact mirror of TextDedup.simhashPortable. Blocked Spark mine
    // ≡ this brute twin by the pigeonhole exactness law.
    "q_dedup_simhash_port" ->
      """WITH t AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv
           FROM t),
         v AS (
           SELECT doc_id, r.b AS b,
                  sum(CASE WHEN (hv >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h, range(60) r(b) GROUP BY doc_id, r.b),
         fp AS (
           SELECT doc_id,
                  sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS fp
           FROM v GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY id_a, id_b""",
    // NOTE recall assumption (same caveat as q_dedup_minhash): the
    // engine verifies only LSH-candidate pairs (k=128/16 bands ⇒ ~95%
    // band-collision odds at jaccard exactly 0.8) while this oracle
    // mines exact all-pairs Jaccard — a pair sitting right at the
    // threshold that misses all 16 bands would diff. Green at both
    // test scales; at the threshold the comparison is probabilistic
    // by design.
    "q_dedup_incr" ->                  // batch = doc_id >= 400 vs seen (old ∪ earlier batch)
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN len(t) >= 3
                    THEN [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                          FOR i IN range(len(t) - 2)]
                    ELSE [] END) AS s
           FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (
           SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
           FROM common
           JOIN sizes sa ON id_a = sa.doc_id
           JOIN sizes sb ON id_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8)
         SELECT id_b AS id, min(id_a) AS dup_of, arg_min(jaccard, id_a) AS jaccard
         FROM j WHERE id_b >= 400 GROUP BY id_b ORDER BY id""",
    // the mutations replayed logically (deleted < 50 gone, 50..99 at
    // the fixed marker, copies of 100..149 under +1e6 ids), then the
    // same exact-Jaccard mine as q_dedup_incr with the batch = copies
    // of 150..199 under +2e6 ids; physical claims (maintained index ≡
    // bulk rebuild, O(changes) maintenance) are in-query requires
    "q_dedup_cdc_index" ->
      """WITH cur AS (
           SELECT doc_id,
                  CASE WHEN doc_id >= 50 AND doc_id < 100
                       THEN 'the archived revision was replaced by this fixed marker sentence'
                       ELSE text END AS text
           FROM documents WHERE doc_id >= 50 AND doc_id < 400
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents
           WHERE doc_id >= 100 AND doc_id < 150),
         uni AS (
           SELECT * FROM cur
           UNION ALL
           SELECT doc_id + 2000000, text FROM documents
           WHERE doc_id >= 150 AND doc_id < 200),
         toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS t
           FROM uni),
         sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN len(t) >= 3
                    THEN [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                          FOR i IN range(len(t) - 2)]
                    ELSE [] END) AS s
           FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (
           SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
           FROM common
           JOIN sizes sa ON id_a = sa.doc_id
           JOIN sizes sb ON id_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8)
         SELECT id_b AS id, min(id_a) AS dup_of, arg_min(jaccard, id_a) AS jaccard
         FROM j WHERE id_b >= 2000000 GROUP BY id_b ORDER BY id""",
    "q_dedup_corpus" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                      x -> x <> '') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
             THEN [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   FOR i IN range(len(t) - 2)]
             ELSE [] END) AS s
           FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM common
           JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
         minl AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d LEFT JOIN minl ON d.doc_id = minl.id
         WHERE minl.id IS NULL OR minl.label = d.doc_id
         ORDER BY d.doc_id""",
    // keep-best dedup: q_dedup_corpus's closure + per-cluster argmax
    // (n_chars DESC, doc_id ASC) instead of min-id keeper
    "q_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                      x -> x <> '') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, unnest(CASE WHEN len(t) >= 3
             THEN [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                   FOR i IN range(len(t) - 2)]
             ELSE [] END) AS s
           FROM toks),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM common
           JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
         minl AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a),
         lab AS (
           SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars,
                  coalesce(minl.label, d.doc_id) AS label
           FROM documents d LEFT JOIN minl ON d.doc_id = minl.id),
         win AS (
           SELECT doc_id, row_number() OVER (PARTITION BY label
                    ORDER BY n_chars DESC, doc_id) AS rk
           FROM lab)
         SELECT l.doc_id, l.text, l.lang, l.source, l.n_chars
         FROM lab l JOIN win ON l.doc_id = win.doc_id AND win.rk = 1
         ORDER BY l.doc_id""",
    "q_text_stats" -> TextStatsOracle,
    // NFC composition: chr(769) = the combining acute the engine
    // appends as "́"
    "q_normalize" ->
      """SELECT doc_id,
                nfc_normalize(text || ' cafe' || chr(769)) AS norm_text,
                nfc_normalize(text || ' cafe' || chr(769))
                  <> (text || ' cafe' || chr(769)) AS changed
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    // Shannon entropy over per-token counts: H = ln(N) − Σc·ln(c)/N
    "q_entropy" ->
      """WITH t AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS tok
           FROM documents),
         c AS (SELECT doc_id, tok, count(*)::DOUBLE AS c FROM t GROUP BY 1, 2)
         SELECT doc_id,
                round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS token_entropy
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    // most frequent 2-gram per doc (ties → smallest gram); coverage =
    // cnt·len(gram) / len(tokens joined by spaces)
    "q_top_ngram" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, len(array_to_string(toks, ' ')) AS total,
                  unnest([toks[i+1] || ' ' || toks[i+2]
                          FOR i IN range(len(toks) - 1)]) AS gram
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT doc_id, total, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
         r AS (SELECT doc_id, gram, cnt, total,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY cnt DESC, gram) AS rk
               FROM c)
         SELECT doc_id, gram AS top_ngram,
                round(cnt * len(gram) * 1.0 / total, 4) AS coverage
         FROM r WHERE rk = 1 ORDER BY doc_id""",
    "q_quality_filter" ->
      """WITH t AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks,
                  list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
           FROM documents),
         r AS (
           SELECT doc_id,
             coalesce(len(toks), 0) AS n,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS wlen,
             CASE WHEN len(toks) > 0
                  THEN len(regexp_extract_all(text, '#|\.{3}|…')) * 1.0 / len(toks)
                  ELSE 0.0 END AS symr,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(toks)
                  ELSE 0.0 END AS alphar,
             coalesce(len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','of','to','in','is','on','for','with',
                'that','it','as','at','by','this','be','are','was'], x))), 0) AS stops,
             round(CASE WHEN len(ls) > 0
                   THEN 1.0 - len(list_distinct(ls)) * 1.0 / len(ls)
                   ELSE 0.0 END, 4) AS dupl,
             round(CASE WHEN len(toks) >= 3
                   THEN 1.0 - len(list_distinct(
                          [toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                           FOR i IN range(len(toks) - 2)])) * 1.0 / (len(toks) - 2)
                   ELSE 0.0 END, 4) AS dup3
           FROM t),
         f AS (
           SELECT doc_id,
             CASE WHEN n < 10 OR n > 100000 THEN 'n_words'
                  WHEN wlen < 3 OR wlen > 10 THEN 'word_len'
                  WHEN symr > 0.1 THEN 'symbol_ratio'
                  WHEN alphar < 0.8 THEN 'alpha_ratio'
                  WHEN stops < 2 THEN 'stopwords'
                  WHEN dupl > 0.3 THEN 'dup_lines'
                  WHEN dup3 > 0.5 THEN 'dup_3grams'
                  ELSE NULL END AS gopher_reason
           FROM r)
         SELECT doc_id, gopher_reason IS NULL AS gopher_keep, gopher_reason
         FROM f ORDER BY doc_id""",
    "q_quality_score" ->               // bias=-0.125, threshold=0.5
      """WITH w(token, weight) AS (VALUES
           ('data', 0.5), ('fast', 0.25), ('slow', -0.5),
           ('row', 0.125), ('scan', -0.25), ('spark', 0.75)),
         t AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)),
                    '\W+'), x -> x <> '')) AS token
           FROM documents),
         s AS (
           SELECT t.doc_id, count(*)::BIGINT AS n_toks,
                  sum(coalesce(w.weight, 0)) AS ws
           FROM t LEFT JOIN w USING (token) GROUP BY t.doc_id)
         SELECT d.doc_id, coalesce(s.n_toks, 0) AS n_toks,
                round(1/(1 + exp(-(-0.125 + coalesce(ws/n_toks, 0)))), 4)
                  AS score,
                round(1/(1 + exp(-(-0.125 + coalesce(ws/n_toks, 0)))), 4)
                  >= 0.5 AS quality_keep
         FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""",
    "q_c4_clean" ->                    // minWordsPerLine=3 minLinesPerDoc=2;
                                       // lines derived: " the "/" a " → ".\n"
      """WITH src AS (
           SELECT doc_id,
                  regexp_replace(text, ' (the|a) ', '.' || chr(10), 'g') AS t
           FROM documents),
         d AS (
           SELECT doc_id, t FROM src
           WHERE NOT contains(lower(t), 'lorem ipsum')
             AND NOT contains(t, '{')),
         k AS (
           SELECT doc_id,
                  len(string_split(t, chr(10)))::BIGINT AS n_all,
                  list_transform(
                    list_filter(string_split(t, chr(10)), x ->
                      regexp_matches(trim(x), '[.!?"]$')
                      AND len(list_filter(string_split_regex(trim(x), '\s+'),
                                          w -> w <> '')) >= 3
                      AND NOT contains(lower(trim(x)), 'javascript')),
                    x -> trim(x)) AS keptl
           FROM d)
         SELECT doc_id, array_to_string(keptl, chr(10)) AS text,
                len(keptl)::BIGINT AS n_lines,
                (n_all - len(keptl))::BIGINT AS n_dropped
         FROM k WHERE len(keptl) >= 2 ORDER BY doc_id""",
    "q_script_ratio" ->                // per-script codepoint fractions, ws stripped
      """WITH src AS (
           SELECT doc_id,
                  regexp_replace(
                    text || CASE doc_id % 5
                              WHEN 0 THEN ' привет мир 42'
                              WHEN 1 THEN ' 你好，世界'
                              WHEN 2 THEN ' สวัสดีครับ'
                              WHEN 3 THEN ' مرحبا بالعالم'
                              ELSE '' END,
                    '\s+', '', 'g') AS t
           FROM documents),
         c AS (
           SELECT doc_id, length(t) AS total,
             length(t) - length(regexp_replace(t, '[\p{Latin}]', '', 'g')) AS latin,
             length(t) - length(regexp_replace(t, '[\p{Han}]', '', 'g')) AS han,
             length(t) - length(regexp_replace(t, '[\p{Cyrillic}]', '', 'g')) AS cyr,
             length(t) - length(regexp_replace(t, '[\p{Arabic}]', '', 'g')) AS arab,
             length(t) - length(regexp_replace(t, '[\p{Thai}]', '', 'g')) AS thai,
             length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS digit
           FROM src)
         SELECT doc_id, total::BIGINT AS n_cp,
                CASE WHEN total = 0 THEN 0.0 ELSE round(latin / total, 4) END AS latin_ratio,
                CASE WHEN total = 0 THEN 0.0 ELSE round(han / total, 4) END AS han_ratio,
                CASE WHEN total = 0 THEN 0.0 ELSE round(cyr / total, 4) END AS cyrillic_ratio,
                CASE WHEN total = 0 THEN 0.0 ELSE round(arab / total, 4) END AS arabic_ratio,
                CASE WHEN total = 0 THEN 0.0 ELSE round(thai / total, 4) END AS thai_ratio,
                CASE WHEN total = 0 THEN 0.0 ELSE round(digit / total, 4) END AS digit_ratio,
                CASE WHEN total = 0 THEN 0.0
                     ELSE round((total - latin - han - cyr - arab - thai - digit)
                                / total, 4) END AS other_ratio
         FROM c ORDER BY doc_id""",
    "q_repetition" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, ls, toks,
                  CASE WHEN len(toks) >= 3
                    THEN list_distinct([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                                        FOR i IN range(len(toks) - 2)])
                    ELSE [] END AS shs
           FROM t)
         SELECT doc_id,
           round(CASE WHEN len(ls) > 0
                 THEN 1.0 - len(list_distinct(ls)) * 1.0 / len(ls)
                 ELSE 0.0 END, 4)::DOUBLE AS dup_line_frac,
           round(CASE WHEN len(toks) >= 3
                 THEN 1.0 - len(shs) * 1.0 / (len(toks) - 2)
                 ELSE 0.0 END, 4)::DOUBLE AS dup_3gram_frac
         FROM sh ORDER BY doc_id""",
    // md5 split: bucket = first 8 hex digits of md5(key) — hex string
    // order == numeric order, so thresholds are the 8-digit hex of
    // floor(cum_weight * 16^8): 0.9 → e6666666, 0.95 → f3333333.
    "q_dsir_score" ->                  // hexDigits=2 (256 buckets), λ=1
      """WITH t AS (
           SELECT doc_id, source,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         f AS (
           SELECT doc_id, source, unnest(list_concat(toks,
             list_transform(range(len(toks) - 1),
               i -> toks[(i + 1)::INT] || ' ' || toks[(i + 2)::INT]))) AS feat
           FROM t),
         b AS (SELECT doc_id, source, substr(md5(feat), 31, 2) AS bucket FROM f),
         tc AS (SELECT bucket, count(*)::DOUBLE AS c FROM b
                WHERE source = 'src0' GROUP BY bucket),
         rc AS (SELECT bucket, count(*)::DOUBLE AS c FROM b GROUP BY bucket),
         lr AS (SELECT rc.bucket,
                       ln((coalesce(tc.c, 0) + 1.0) /
                          ((SELECT sum(c) FROM tc) + 256.0)) -
                       ln((rc.c + 1.0) /
                          ((SELECT sum(c) FROM rc) + 256.0)) AS logr
                FROM rc LEFT JOIN tc USING (bucket))
         SELECT b.doc_id, count(*) AS n_feats, round(sum(lr.logr), 4) AS logw
         FROM b JOIN lr USING (bucket)
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "q_dsir_select" ->                 // k=100, T=1, seed 'graft'
      """WITH t AS (
           SELECT doc_id, source,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         f AS (
           SELECT doc_id, source, unnest(list_concat(toks,
             list_transform(range(len(toks) - 1),
               i -> toks[(i + 1)::INT] || ' ' || toks[(i + 2)::INT]))) AS feat
           FROM t),
         b AS (SELECT doc_id, source, substr(md5(feat), 31, 2) AS bucket FROM f),
         tc AS (SELECT bucket, count(*)::DOUBLE AS c FROM b
                WHERE source = 'src0' GROUP BY bucket),
         rc AS (SELECT bucket, count(*)::DOUBLE AS c FROM b GROUP BY bucket),
         lr AS (SELECT rc.bucket,
                       ln((coalesce(tc.c, 0) + 1.0) /
                          ((SELECT sum(c) FROM tc) + 256.0)) -
                       ln((rc.c + 1.0) /
                          ((SELECT sum(c) FROM rc) + 256.0)) AS logr
                FROM rc LEFT JOIN tc USING (bucket)),
         s AS (SELECT b.doc_id, sum(lr.logr) AS logw
               FROM b JOIN lr USING (bucket) GROUP BY b.doc_id),
         g AS (SELECT doc_id, logw,
                      logw - ln(-ln((CAST('0x' || substr(md5('graft:' || doc_id), 1, 6)
                                     AS BIGINT) + 0.5) / 16777216.0)) AS key
               FROM s)
         SELECT doc_id, round(logw, 4) AS logw, round(key, 4) AS key
         FROM g ORDER BY key DESC, doc_id LIMIT 100""",
    "q_encode" ->                      // vocabSize=25; ids by (cnt DESC, token)
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                      x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
               FROM t WHERE len(toks) > 0),
         tk AS (SELECT doc_id, pos::BIGINT AS pos, toks[(pos + 1)::INT] AS token
                FROM p),
         v AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
         r AS (SELECT token,
                      row_number() OVER (ORDER BY cnt DESC, token) AS token_id
               FROM v),
         vocab AS (SELECT token, token_id::BIGINT AS token_id
                   FROM r WHERE token_id <= 25)
         SELECT tk.doc_id, tk.pos, coalesce(vocab.token_id, 0) AS token_id
         FROM tk LEFT JOIN vocab USING (token)
         ORDER BY tk.doc_id, tk.pos""",
    "q_split_sizes" ->
      """SELECT split, count(*) AS n FROM (
           SELECT CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
             ELSE 'test' END AS split
           FROM documents)
         GROUP BY split ORDER BY split""",
    // near-dup clusters via the portable-simhash pair miner (pigeonhole
    // blocking is lossless ≤ maxDist, so brute all-pairs here equals
    // the engine's blocked join), components via a recursive CTE, then
    // the same md5 hex-cut split keyed by the cluster minimum
    "q_split_leakfree" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv
           FROM t),
         v AS (
           SELECT doc_id, r.b AS b,
                  sum(CASE WHEN (hv >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h, range(60) r(b) GROUP BY doc_id, r.b),
         fp AS (
           SELECT doc_id,
                  sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS fp
           FROM v GROUP BY doc_id),
         pr AS (
           SELECT a.doc_id AS ia, b.doc_id AS ib
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         sym AS (SELECT ia AS a, ib AS b FROM pr
                 UNION ALL SELECT ib, ia FROM pr),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         lbl AS (
           SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a),
         g AS (
           SELECT d.doc_id, coalesce(l.label, d.doc_id) AS grp
           FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id)
         SELECT doc_id, CASE
             WHEN substr(md5(CAST(grp AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
             WHEN substr(md5(CAST(grp AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
             ELSE 'test' END AS split
         FROM g ORDER BY doc_id""",
    "q_fingerprint" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, toks,
                  CASE WHEN len(toks) >= 3
                    THEN list_distinct([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                                        FOR i IN range(len(toks) - 2)])
                    ELSE [] END AS shs
           FROM t)
         SELECT doc_id,
                md5(array_to_string(toks, ' ')) AS content_fp,
                CASE WHEN len(shs) > 0
                     THEN md5(list_aggregate(shs, 'min'))
                     ELSE NULL END AS minshingle_fp
         FROM sh ORDER BY doc_id""",
    "q_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
                'application/x-fake-image' AS mime,
                CAST(length(text) % 1920 AS INTEGER) AS width,
                CAST(length(text) % 1080 AS INTEGER) AS height,
                CAST(length(text) * 10 AS BIGINT) AS duration_ms
         FROM documents ORDER BY media_id""",
    "q_vocab_topk" ->
      """WITH t AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\W+'), x -> x <> '')) AS token
           FROM documents)
         SELECT token, count(*) AS cnt, count(DISTINCT doc_id) AS docs
         FROM t GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",
    "q_corpus_prep" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, text, n_chars,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         r AS (
           SELECT doc_id, text, n_chars, toks,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS wraw,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> list_contains(
                    ['the','a','an','and','of','to','in','is','on','for','with',
                     'that','it','as','at','by','this','be','are','was'], x))) * 1.0 / len(toks)
                  ELSE 0.0 END AS sraw,
             CASE WHEN len(regexp_replace(text, '\s', '', 'g')) > 0
                  THEN len(regexp_replace(text, '[\w\s]', '', 'g')) * 1.0
                       / len(regexp_replace(text, '\s', '', 'g'))
                  ELSE 0.0 END AS praw,
             len(list_filter(toks, x -> list_contains(
               ['the','and','of','to','is','with','that','for'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(
               ['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(
               ['le','les','et','est','une','pour','que','dans'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(
               ['el','los','y','es','una','por','como','para'], x))) AS s_es,
             len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk
           FROM t),
         scored AS (
           SELECT doc_id, text, n_chars, toks,
             CASE WHEN cjk * 1.0 / greatest(length(text), 1) >= 0.3 THEN 'zh'
                  WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
                  WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
                  ELSE 'en' END AS lang_id,
             round(
               (CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0
                     WHEN n_chars BETWEEN 20 AND 99 THEN 0.5 ELSE 0.1 END) * 0.3 +
               (CASE WHEN wraw BETWEEN 3 AND 12 THEN 1.0 ELSE 0.3 END) * 0.3 +
               (CASE WHEN sraw >= 0.05 THEN 1.0 ELSE 0.5 END) * 0.2 +
               (CASE WHEN praw <= 0.2 THEN 1.0 ELSE 0.2 END) * 0.2, 4)::DOUBLE AS quality
           FROM r),
         filtered AS (
           SELECT * FROM scored WHERE lang_id = 'en' AND quality >= 0.7),
         sh AS (
           SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= 3
             THEN [toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                   FOR i IN range(len(toks) - 2)]
             ELSE [] END) AS s
           FROM filtered),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM common
           JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r2.a, e.b FROM reach r2 JOIN edges e ON r2.b = e.a WHERE e.b <> r2.a),
         minl AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a)
         SELECT f.doc_id, f.lang_id, f.quality,
                len(regexp_extract_all(f.text, '\w+|[^\w\s]')) AS bpe_tokens,
                f.n_chars
         FROM filtered f LEFT JOIN minl ON f.doc_id = minl.id
         WHERE minl.id IS NULL OR minl.label = f.doc_id
         ORDER BY f.doc_id""",
    // cosine oracles cast to DOUBLE[] so DuckDB accumulates in double
    // like the engine's cosine expression — float32 accumulation sits
    // on the other side of the 4-decimal rounding boundary for pairs
    // within one float-ulp of it (observed at sf0.1)
    "q_ann_topk" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id,
                  round(list_cosine_similarity(q.emb, e.emb), 4) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.emb, e.emb) DESC,
                             e.vec_id) AS rank
           FROM d q JOIN d e ON q.vec_id < 5 AND q.vec_id <> e.vec_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // full-width LSH blocking passes every pair (pigeonhole at
    // width 1) ⇒ ≡ the brute twins; shares their oracle SQL
    "q_embed_lsh_exact" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb
                    FROM embeddings WHERE vec_id < 500)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
         FROM d a JOIN d b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
         ORDER BY id_a, id_b""",
    "q_ann_lsh_exact" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id,
                  round(list_cosine_similarity(q.emb, e.emb), 4) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.emb, e.emb) DESC,
                             e.vec_id) AS rank
           FROM d q JOIN d e ON q.vec_id < 5 AND q.vec_id <> e.vec_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // exactness witnesses: full-probe IVF and full-pool PQ refine must
    // equal the brute top-k, so they share its oracle verbatim
    "q_ann_ivf_exact" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id,
                  round(list_cosine_similarity(q.emb, e.emb), 4) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.emb, e.emb) DESC,
                             e.vec_id) AS rank
           FROM d q JOIN d e ON q.vec_id < 5 AND q.vec_id <> e.vec_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // persisted-index serving at nprobe=nlist ≡ brute (same witness
    // argument as q_ann_ivf_exact, but searching from the reloaded
    // on-disk index)
    "q_ann_persisted" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id,
                  round(list_cosine_similarity(q.emb, e.emb), 4) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.emb, e.emb) DESC,
                             e.vec_id) AS rank
           FROM d q JOIN d e ON q.vec_id < 5 AND q.vec_id <> e.vec_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    "q_ann_pq_refined_exact" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT q.vec_id AS q_id, e.vec_id,
                  round(list_cosine_similarity(q.emb, e.emb), 4) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.emb, e.emb) DESC,
                             e.vec_id) AS rank
           FROM d q JOIN d e ON q.vec_id < 5 AND q.vec_id <> e.vec_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    "q_embed_pairs" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
         FROM d a JOIN d b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
         ORDER BY id_a, id_b""",
    "q_decontaminate_embed" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
         c AS (SELECT * FROM d WHERE vec_id >= 20),
         b AS (SELECT * FROM d WHERE vec_id < 20),
         m AS (SELECT c.vec_id AS id,
                      round(max(list_cosine_similarity(c.emb, b.emb)), 4) AS max_sim
               FROM c JOIN b ON c.vec_id <> b.vec_id GROUP BY 1)
         SELECT id, max_sim FROM m WHERE max_sim >= 0.4 ORDER BY id""",
    "q_dedup_embed" ->
      """WITH RECURSIVE d AS (
           SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM d a JOIN d b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
         minl AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a)
         SELECT e.vec_id,
                coalesce(minl.label, e.vec_id) AS cluster,
                e.vec_id = coalesce(minl.label, e.vec_id) AS keep
         FROM embeddings e LEFT JOIN minl ON e.vec_id = minl.id
         ORDER BY e.vec_id""",
    // fixed one-hot centroids: cosine to e_j = emb[j]/‖emb‖ (norm of
    // e_j is exactly 1), argmax keeps the smallest centroid id on ties
    // (engine: strict > scan in id order). centroid_sim is the
    // assigned centroid's cosine = greatest of the four.
    "q_cluster_sample" ->
      """WITH d AS (
           SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb,
                  sqrt(list_sum(list_transform(cast(embedding AS DOUBLE[]),
                                               x -> x*x))) AS nrm
           FROM embeddings),
         s AS (
           SELECT vec_id, emb[1]/nrm AS s0, emb[2]/nrm AS s1,
                  emb[3]/nrm AS s2, emb[4]/nrm AS s3
           FROM d),
         a AS (
           SELECT vec_id,
                  CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
                       WHEN s1 >= s2 AND s1 >= s3 THEN 1
                       WHEN s2 >= s3 THEN 2 ELSE 3 END AS centroid_id,
                  round(greatest(s0, s1, s2, s3), 6) AS centroid_sim
           FROM s),
         r AS (
           SELECT *, row_number() OVER (
             PARTITION BY centroid_id
             ORDER BY centroid_sim DESC, vec_id ASC) AS rk
           FROM a)
         SELECT centroid_id, vec_id, centroid_sim FROM r WHERE rk <= 5
         ORDER BY centroid_id, vec_id""",
    // the full SemDeDup chain replayed: one-hot assignment, blocked
    // (same-cluster) pairs at tau, recursive closure, min-id group
    // label, keep = the group's min-centroid_sim copy (tie → min id)
    "q_cluster_semdedup" ->
      """WITH RECURSIVE d AS (
           SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb,
                  sqrt(list_sum(list_transform(cast(embedding AS DOUBLE[]),
                                               x -> x*x))) AS nrm
           FROM embeddings),
         s AS (
           SELECT vec_id, emb,
                  emb[1]/nrm AS s0, emb[2]/nrm AS s1,
                  emb[3]/nrm AS s2, emb[4]/nrm AS s3
           FROM d),
         a AS (
           SELECT vec_id, emb,
                  CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
                       WHEN s1 >= s2 AND s1 >= s3 THEN 1
                       WHEN s2 >= s3 THEN 2 ELSE 3 END AS centroid_id,
                  round(greatest(s0, s1, s2, s3), 6) AS centroid_sim
           FROM s),
         pairs AS (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b
           FROM a x JOIN a y
             ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
           WHERE list_cosine_similarity(x.emb, y.emb) >= 0.4),
         edges AS (SELECT id_a AS ea, id_b AS eb FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.ea, e.eb FROM reach r JOIN edges e ON r.eb = e.ea
           WHERE e.eb <> r.ea),
         minl AS (SELECT ea AS id, least(ea, min(eb)) AS grp
                  FROM reach GROUP BY ea),
         g AS (
           SELECT a.vec_id, a.centroid_id, a.centroid_sim,
                  coalesce(minl.grp, a.vec_id) AS grp
           FROM a LEFT JOIN minl ON a.vec_id = minl.id),
         rk AS (
           SELECT *, row_number() OVER (
             PARTITION BY grp
             ORDER BY centroid_sim ASC, vec_id ASC) AS r
           FROM g)
         SELECT vec_id, centroid_id, grp AS "group", r = 1 AS keep
         FROM rk ORDER BY vec_id""",
    "q_window_tumbling" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, event_type,
                count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_window_sliding" ->
      """SELECT ws AS window_start, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM (SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                              time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws,
                      value
               FROM events)
         GROUP BY ws ORDER BY ws""",
    "q_asof" ->
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value,
                p.pts AS p_pts, p.pvalue AS p_pvalue
         FROM events e ASOF LEFT JOIN
           (SELECT user_id, ts AS pts, value AS pvalue
            FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.pts
         ORDER BY e.event_id""",
    "q_asof_fwd" ->                    // smallest pts >= ts per user
      """SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value,
                p.pts AS p_pts, p.pvalue AS p_pvalue
         FROM events e ASOF LEFT JOIN
           (SELECT user_id, ts AS pts, value AS pvalue
            FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts <= p.pts
         ORDER BY e.event_id""",
    "q_range_join" ->                  // ±60 s context around each error
      """SELECT i.err_id, e.event_id, e.ts, e.event_type, e.user_id
         FROM (SELECT event_id AS err_id, ts - INTERVAL 60 SECOND AS lo,
                      ts + INTERVAL 60 SECOND AS hi
               FROM events WHERE event_type = 'error') i
         JOIN events e ON e.ts >= i.lo AND e.ts < i.hi
         ORDER BY i.err_id, e.event_id""",
    "q_window_session" ->
      """WITH o AS (
           SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         m AS (
           SELECT *, CASE WHEN prev IS NULL
                            OR ts - prev >= INTERVAL '30 minutes'
                          THEN 1 ELSE 0 END AS new_s
           FROM o),
         s AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT min(ts) AS session_start, user_id, count(*) AS n,
                round(sum(value), 4) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",

    // ── CorpusOps oracles: every operator was designed DuckDB-replayable
    // (md5 determinism, RE2-safe regexes, the shared \W+ tokenizer) ────
    "q_chunk" ->                       // chunkSize=30 overlap=10 → step=20
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         n AS (
           SELECT doc_id, toks, len(toks)::BIGINT AS n
           FROM t WHERE len(toks) > 0),
         c AS (
           SELECT doc_id, toks, n,
                  unnest(range(greatest((n + 9) // 20, 1))) AS chunk_id
           FROM n)
         SELECT doc_id, chunk_id,
                array_to_string(list_slice(toks, chunk_id*20 + 1, chunk_id*20 + 30),
                                ' ') AS chunk_text,
                least(n - chunk_id*20, 30)::BIGINT AS n_tokens
         FROM c ORDER BY doc_id, chunk_id""",
    "q_pack" ->                        // seqLen=64, doc_id order
      """WITH t AS (
           SELECT doc_id,
                  len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                  x -> x <> ''))::BIGINT AS n
           FROM documents),
         p AS (
           SELECT doc_id, n,
                  coalesce(sum(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
           FROM t WHERE n > 0),
         e AS (
           SELECT doc_id, n, off,
                  unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS seq_id
           FROM p)
         SELECT seq_id, doc_id,
                greatest(seq_id*64 - off, 0)::BIGINT AS doc_start,
                (least(off + n, (seq_id + 1)*64)
                 - greatest(off, seq_id*64))::BIGINT AS n_toks
         FROM e ORDER BY seq_id, doc_id""",
    "q_pack_spans" ->                  // seqLen=64; spans ordered by seq_start
      """WITH t AS (
           SELECT doc_id,
                  len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                  x -> x <> ''))::BIGINT AS n
           FROM documents),
         p AS (
           SELECT doc_id, n,
                  coalesce(sum(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
           FROM t WHERE n > 0),
         e AS (
           SELECT doc_id, n, off,
                  unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS seq_id
           FROM p),
         s AS (
           SELECT seq_id, cast(doc_id AS VARCHAR) AS doc_id,
                  (greatest(off, seq_id*64) - seq_id*64)::BIGINT AS seq_start,
                  (least(off + n, (seq_id + 1)*64)
                   - greatest(off, seq_id*64))::BIGINT AS span_toks
           FROM e)
         SELECT seq_id,
                string_agg(doc_id, ',' ORDER BY seq_start) AS doc_ids,
                string_agg(cast(seq_start AS VARCHAR), ',' ORDER BY seq_start) AS seq_starts,
                string_agg(cast(span_toks AS VARCHAR), ',' ORDER BY seq_start) AS span_toks,
                count(*)::BIGINT AS n_docs,
                sum(span_toks)::BIGINT AS n_toks
         FROM s GROUP BY seq_id ORDER BY seq_id""",
    "q_mix_sample" ->                  // src0 ×2.5, src1 ×0.25, src3 ×0, else ×1;
                                       // coin = first 8 md5 hex digits vs cutoff
      """WITH h AS (
           SELECT doc_id, source,
                  substring(md5(cast(doc_id AS VARCHAR)), 1, 8) AS hex
           FROM documents),
         c AS (
           SELECT doc_id, source,
                  (CASE source
                     WHEN 'src0' THEN 2 + CASE WHEN hex < '80000000' THEN 1 ELSE 0 END
                     WHEN 'src1' THEN CASE WHEN hex < '40000000' THEN 1 ELSE 0 END
                     WHEN 'src3' THEN 0
                     ELSE 1 END)::BIGINT AS copies
           FROM h)
         SELECT doc_id, source, unnest(range(1, copies + 1)) AS "copy"
         FROM c ORDER BY doc_id, "copy"""",
    // temperature resampling, alpha=0.5: multiplier per source =
    // (p^α/Σp^α)/p capped at 100; same md5-coin fractional copies as
    // q_mix_sample. z sums in sorted-source order (list_sum of an
    // ordered list) to mirror the engine's deterministic fold; pow/
    // last-ulp divergence could only flip a coin whose 32-bit hash
    // equals the cutoff boundary (~1e-7 odds — q_dedup_minhash-class
    // caveat), green at both test scales.
    "q_mix_temperature" ->
      """WITH docs AS (
           SELECT * FROM documents
           WHERE source IN ('src0','src1','src2','src3','src4') OR doc_id % 5 = 0),
         c AS (SELECT source, count(*)::BIGINT AS cnt FROM docs GROUP BY source),
         t AS (SELECT sum(cnt)::DOUBLE AS n FROM c),
         w AS (SELECT source, cnt / n AS p, pow(cnt / n, 0.5) AS pa FROM c, t),
         z AS (SELECT list_sum(list(pa ORDER BY source)) AS z FROM w),
         m AS (SELECT source, least(pa / z / p, 100.0) AS mult FROM w, z),
         d AS (SELECT doc_id, dd.source, mult,
                      CAST(('0x' || substr(md5(cast(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS coin
               FROM docs dd JOIN m USING (source)),
         e AS (SELECT doc_id, source,
                      CAST(floor(mult) AS BIGINT) +
                      CASE WHEN coin < CAST(floor((mult - floor(mult)) * 4294967296) AS BIGINT)
                           THEN 1 ELSE 0 END AS copies
               FROM d)
         SELECT doc_id, source, unnest(range(1, copies + 1)) AS "copy"
         FROM e WHERE copies >= 1 ORDER BY doc_id, "copy"""",
    // chunk→doc mean pooling: positional explode + grouped avg +
    // ordered re-list; %.6f fixed formatting on both engines
    "q_embed_pool" ->
      """WITH d AS (SELECT vec_id % 50 AS doc_id, cast(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
         u AS (SELECT doc_id, r.i AS i, emb[r.i + 1] AS x FROM d, range(64) r(i)),
         a AS (SELECT doc_id, i, avg(x) AS m FROM u GROUP BY 1, 2)
         SELECT doc_id,
                string_agg(printf('%.6f', CAST(CAST(m AS FLOAT) AS DOUBLE)),
                           ',' ORDER BY i) AS pooled
         FROM a GROUP BY doc_id ORDER BY doc_id""",
    // quantized ANN: the code table (bit-identical, see q_embed_quant)
    // replaces the float corpus inside the q_ann_topk shape
    "q_ann_quant" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
         s AS (SELECT vec_id, emb,
                 CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
                      THEN list_max(list_transform(emb, x -> abs(x))) / 127.0
                      ELSE 1.0 END AS sc
               FROM d),
         c AS (SELECT vec_id,
                 list_transform(emb, x -> greatest(-127.0, least(127.0, floor(x / sc + 0.5)))) AS codes
               FROM s),
         q AS (SELECT vec_id, emb FROM d WHERE vec_id < 5)
         SELECT q_id, vec_id, sim, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id,
                  round(list_cosine_similarity(q.emb, c.codes), 4) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.emb, c.codes) DESC,
                             c.vec_id) AS rank
           FROM q JOIN c ON q.vec_id <> c.vec_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // int8 quantization: floor(x/s + 0.5) is bit-identical across
    // engines (exact IEEE division/addition; floor, not round)
    "q_embed_quant" ->
      """WITH d AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS emb FROM embeddings),
         s AS (SELECT vec_id, emb,
                 CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
                      THEN list_max(list_transform(emb, x -> abs(x))) / 127.0
                      ELSE 1.0 END AS sc
               FROM d)
         SELECT vec_id, round(sc, 6) AS scale,
                list_aggr(list_transform(emb, x ->
                  CAST(CAST(greatest(-127.0, least(127.0, floor(x / sc + 0.5))) AS BIGINT) AS VARCHAR)),
                  'string_agg', ',') AS codes
         FROM s ORDER BY vec_id""",
    "q_shuffle" ->                     // rank in md5('graft:'||id) order, 1-based
      """SELECT doc_id,
                cast(row_number() OVER (
                  ORDER BY md5('graft:' || cast(doc_id AS VARCHAR))) AS BIGINT)
                  AS shuffle_rank
         FROM documents ORDER BY doc_id""",
    "q_tfidf" ->                       // minDocFreq=2, tf>=2, smoothed idf
      """WITH p AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM p GROUP BY 1, 2),
         dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf
                   GROUP BY 1 HAVING count(*) >= 2),
         n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
         SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfreq.df + 1)) + 1), 4)
                  AS tfidf
         FROM tf JOIN dfreq USING (token) CROSS JOIN n
         WHERE tf.tf >= 2
         ORDER BY doc_id, token""",
    "q_shards" ->                      // seqLen=64, 8 shards, seed 'graft'
      """WITH t AS (
           SELECT doc_id,
                  md5('graft:' || cast(doc_id AS VARCHAR)) AS h,
                  len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                  x -> x <> ''))::BIGINT AS n
           FROM documents),
         p AS (
           SELECT doc_id, n,
                  coalesce(sum(n) OVER (ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
           FROM t WHERE n > 0),
         e AS (
           SELECT doc_id, n, off,
                  unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS seq_id
           FROM p)
         SELECT seq_id, doc_id,
                greatest(seq_id*64 - off, 0)::BIGINT AS doc_start,
                (least(off + n, (seq_id + 1)*64)
                 - greatest(off, seq_id*64))::BIGINT AS n_toks,
                (seq_id % 8)::BIGINT AS shard_id
         FROM e ORDER BY seq_id, doc_id""",
    "q_pii" -> raw"""
         WITH aug AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || cast(doc_id AS VARCHAR)
                  || '@' || source || '.org' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN ' see https://' || source
                  || '.example.com/d' || cast(doc_id AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' host 10.1.'
                  || cast(doc_id % 200 AS VARCHAR) || '.7' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call +1 415 555 0'
                  || lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0') ELSE '' END AS text
           FROM documents),
         cnt AS (
           SELECT doc_id,
                  len(regexp_extract_all(text, '${graft.ext.CorpusOps.EmailRe}'))::BIGINT AS n_emails,
                  len(regexp_extract_all(text, '${graft.ext.CorpusOps.UrlRe}'))::BIGINT AS n_urls,
                  len(regexp_extract_all(text, '${graft.ext.CorpusOps.Ipv4Re}'))::BIGINT AS n_ips,
                  len(regexp_extract_all(text, '${graft.ext.CorpusOps.PhoneRe}'))::BIGINT AS n_phones
           FROM aug)
         SELECT doc_id, n_emails, n_urls, n_ips, n_phones,
                (n_emails + n_ips + n_phones > 0) AS has_pii
         FROM cnt ORDER BY doc_id""",
    // same augmentation as q_pii; the redaction chain order
    // (email → URL → IP → phone) is part of the contract
    "q_pii_redact" -> raw"""
         WITH aug AS (
           SELECT doc_id, text
             || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || cast(doc_id AS VARCHAR)
                  || '@' || source || '.org' ELSE '' END
             || CASE WHEN doc_id % 3 = 0 THEN ' see https://' || source
                  || '.example.com/d' || cast(doc_id AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' host 10.1.'
                  || cast(doc_id % 200 AS VARCHAR) || '.7' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call +1 415 555 0'
                  || lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0') ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  text,
                  '${graft.ext.CorpusOps.EmailRe}', '<EMAIL>', 'g'),
                  '${graft.ext.CorpusOps.UrlRe}', '<URL>', 'g'),
                  '${graft.ext.CorpusOps.Ipv4Re}', '<IP>', 'g'),
                  '${graft.ext.CorpusOps.PhoneRe}', '<PHONE>', 'g') AS red_text
         FROM aug ORDER BY doc_id""",
    "q_url_canon" -> raw"""
         WITH u AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
                  || 'WWW.' || source || '.Example.COM'
                  || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8080' END)
                  || '/Docs/' || cast(doc_id AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                  || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a='
                       || cast(doc_id AS VARCHAR) || '&fbclid=x' ELSE '' END)
                  || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
           FROM documents),
         p AS (
           SELECT doc_id, url,
                  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)', 1) AS hostport,
                  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
                  regexp_extract(url, '\?([^#]*)', 1) AS rawq
           FROM u),
         q AS (
           SELECT doc_id, url, scheme,
                  lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
                  regexp_extract(hostport, ':([0-9]+)$$', 1) AS port,
                  regexp_replace(rawpath, '/+$$', '') AS path0,
                  list_sort(list_filter(string_split(rawq, '&'), x ->
                    x <> '' AND NOT regexp_matches(x,
                      '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid|ref_src|spm)(=.*)?$$')))
                    AS params
           FROM p)
         SELECT doc_id, url,
                CASE WHEN scheme = '' THEN trim(url) ELSE
                  scheme || '://' || host
                  || (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443'))
                       THEN ':' || port ELSE '' END)
                  || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
                  || (CASE WHEN len(params) > 0
                       THEN '?' || array_to_string(params, '&') ELSE '' END)
                END AS canon_url
         FROM q ORDER BY doc_id""",
    "q_report" ->
      """WITH t AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         d AS (
           SELECT count(*) AS n_docs,
                  sum(coalesce(len(toks), 0))::BIGINT AS n_tokens,
                  sum(length(coalesce(text, '')))::BIGINT AS n_chars,
                  round(avg(coalesce(len(toks), 0)), 4) AS avg_tokens,
                  count(DISTINCT md5(coalesce(text, ''))) AS distinct_texts
           FROM t),
         v AS (SELECT count(DISTINCT tok) AS vocab
               FROM (SELECT unnest(toks) AS tok FROM t))
         SELECT * FROM d, v""",
    "q_lm2_score" ->                   // bigram LM, addK=0.5, self-scored
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         bg AS (
           SELECT doc_id, toks[(i + 1)::INT] AS t1, toks[(i + 2)::INT] AS t2
           FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
                 FROM t WHERE len(toks) >= 2)),
         m AS (SELECT t1, t2, count(*)::BIGINT AS cnt FROM bg GROUP BY 1, 2),
         c AS (SELECT t1, sum(cnt) AS c1 FROM m GROUP BY 1),
         v AS (SELECT count(DISTINCT u.tok) AS vs
               FROM (SELECT unnest(toks) AS tok FROM t) u),
         s AS (
           SELECT bg.doc_id, count(*) AS n_bigrams,
                  -avg(ln((coalesce(m.cnt, 0) + 0.5) /
                          (coalesce(c.c1, 0) + 0.5 * ((SELECT vs FROM v) + 1)))) AS ce
           FROM bg LEFT JOIN m USING (t1, t2) LEFT JOIN c USING (t1)
           GROUP BY bg.doc_id)
         SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
                round(s.ce, 4) AS cross_entropy, round(exp(s.ce), 4) AS perplexity
         FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""",
    "q_lm_score" ->                    // addK=0.5, minCount=2, self-scored
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok
               GROUP BY 1 HAVING count(*) >= 2),
         tot AS (SELECT sum(cnt)::DOUBLE AS n, count(*)::DOUBLE AS v FROM c),
         s AS (
           SELECT t.doc_id, count(*)::BIGINT AS n_toks,
                  -avg(ln((coalesce(c.cnt, 0) + 0.5) / (tot.n + 0.5*(tot.v + 1)))) AS ce
           FROM tok t LEFT JOIN c USING (token) CROSS JOIN tot
           GROUP BY 1)
         SELECT d.doc_id, coalesce(s.n_toks, 0)::BIGINT AS n_toks,
                round(s.ce, 4) AS cross_entropy,
                round(exp(s.ce), 4) AS perplexity
         FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""",
    "q_ppl_buckets" ->                 // CCNet tertiles over rounded ce
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok
               GROUP BY 1 HAVING count(*) >= 2),
         tot AS (SELECT sum(cnt)::DOUBLE AS n, count(*)::DOUBLE AS v FROM c),
         s AS (
           SELECT t.doc_id, count(*)::BIGINT AS n_toks,
                  -avg(ln((coalesce(c.cnt, 0) + 0.5) / (tot.n + 0.5*(tot.v + 1)))) AS ce
           FROM tok t LEFT JOIN c USING (token) CROSS JOIN tot
           GROUP BY 1),
         sc AS (
           SELECT d.doc_id, coalesce(s.n_toks, 0)::BIGINT AS n_toks,
                  round(s.ce, 4) AS cross_entropy,
                  round(exp(s.ce), 4) AS perplexity
           FROM documents d LEFT JOIN s USING (doc_id)),
         th AS (SELECT quantile_cont(cross_entropy, [1.0/3, 2.0/3]) AS q FROM sc)
         SELECT doc_id, n_toks, cross_entropy, perplexity,
                CASE WHEN cross_entropy IS NULL THEN NULL
                     ELSE 1 + (CASE WHEN cross_entropy > q[1] THEN 1 ELSE 0 END)
                            + (CASE WHEN cross_entropy > q[2] THEN 1 ELSE 0 END)
                END AS bucket,
                CASE WHEN cross_entropy IS NULL THEN NULL
                     WHEN cross_entropy <= q[1] THEN 'head'
                     WHEN cross_entropy <= q[2] THEN 'middle'
                     ELSE 'tail' END AS label
         FROM sc CROSS JOIN th ORDER BY doc_id""",
    "q_bpe_pairs" ->                   // corpus-weighted adjacent char pairs
      """WITH tok AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS w
           FROM documents),
         t AS (SELECT w, count(*)::BIGINT AS cnt FROM tok GROUP BY 1),
         p AS (SELECT unnest([{'l': w[i+1], 'r': w[i+2]}
                              FOR i IN range(length(w) - 1)]) AS pr, cnt
               FROM t WHERE length(w) >= 2),
         g AS (SELECT pr.l AS lhs, pr.r AS rhs, sum(cnt)::BIGINT AS cnt
               FROM p GROUP BY 1, 2)
         SELECT lhs, rhs, cnt FROM g ORDER BY cnt DESC, lhs, rhs LIMIT 30""",
    "q_bpe_encode" ->                  // fixed merges (t,h)(th,e)(i,n)(a,n)(e,r)(an,d)
      """WITH tok AS (
           SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                     x -> x <> '')) AS w
           FROM documents),
         s0 AS (SELECT ' ' || trim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' ' AS s
                FROM tok),
         m1 AS (SELECT replace(s, ' t  h ', ' th ') AS s FROM s0),
         m2 AS (SELECT replace(s, ' th  e ', ' the ') AS s FROM m1),
         m3 AS (SELECT replace(s, ' i  n ', ' in ') AS s FROM m2),
         m4 AS (SELECT replace(s, ' a  n ', ' an ') AS s FROM m3),
         m5 AS (SELECT replace(s, ' e  r ', ' er ') AS s FROM m4),
         m6 AS (SELECT replace(s, ' an  d ', ' and ') AS s FROM m5),
         fin AS (SELECT unnest(string_split_regex(trim(s), ' +')) AS token FROM m6)
         SELECT token, count(*)::BIGINT AS cnt FROM fin
         GROUP BY 1 ORDER BY cnt DESC, token LIMIT 40""",
    "q_bpe_bytes" ->                   // byte-level family: full independent replay
      s"""WITH enc AS (${graft.ext.ByteBpe.duckdbEncodeSql(ByteBpeMerges)})
          SELECT token, cnt::BIGINT AS cnt, 0::BIGINT AS bad FROM enc
          ORDER BY cnt DESC, token LIMIT 60""",
    "q_domain_stats" ->                // per-registered-domain curation stats
      """WITH u AS (
           SELECT doc_id, text, lang,
                  'https://' ||
                  CASE WHEN doc_id % 3 = 0 THEN 'www.'
                       WHEN doc_id % 7 = 0 THEN 'cdn.media.'
                       ELSE '' END ||
                  source ||
                  CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END ||
                  '/doc/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         h AS (
           SELECT doc_id, text, lang,
                  lower(regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)',
                    1)) AS host
           FROM u),
         d AS (
           SELECT doc_id, text, lang, host, string_split(host, '.') AS p FROM h),
         r AS (
           SELECT doc_id, text, lang,
                  CASE WHEN len(p) <= 2 THEN host
                       WHEN p[-2] || '.' || p[-1] IN
                            ('co.uk','ac.uk','gov.uk','org.uk','co.jp',
                             'ne.jp','or.jp','com.au','net.au','org.au',
                             'com.br','com.cn','com.tw','co.in','co.kr',
                             'com.mx','co.za','com.sg','com.ar')
                         THEN p[-3] || '.' || p[-2] || '.' || p[-1]
                       ELSE p[-2] || '.' || p[-1] END AS domain
           FROM d)
         SELECT domain, count(*)::BIGINT AS n_docs,
                count(DISTINCT md5(text))::BIGINT AS n_uniq,
                round(avg(length(text)), 2) AS mean_chars,
                count(DISTINCT lang)::BIGINT AS n_langs,
                round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*), 4) AS dup_rate
         FROM r GROUP BY 1 ORDER BY 1""",
    "q_dup_spans" ->                   // n=10, minOccur=2, 0-based [start,end)
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, unnest(range(0, len(toks) - 9)) AS pos, toks
               FROM t WHERE len(toks) >= 10),
         g AS (SELECT doc_id, pos::BIGINT AS pos,
                      md5(array_to_string(toks[pos+1:pos+10], ' ')) AS g
               FROM p),
         d AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
         h AS (SELECT doc_id, pos FROM g JOIN d USING (g)),
         m AS (SELECT doc_id, pos,
                      CASE WHEN pos > coalesce(max(pos + 10) OVER (
                             PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                           THEN 1 ELSE 0 END AS ns
               FROM h),
         s AS (SELECT doc_id, pos,
                      sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span
               FROM m)
         SELECT doc_id, min(pos)::BIGINT AS span_start,
                (max(pos) + 10)::BIGINT AS span_end,
                (max(pos) + 10 - min(pos))::BIGINT AS n_tokens
         FROM s GROUP BY doc_id, span ORDER BY doc_id, span_start""",
    "q_dedup_substr" ->                // n=10, all copies of dup spans cut
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\W+'),
                              x -> x <> '') AS toks
           FROM documents),
         p AS (SELECT doc_id, unnest(range(0, len(toks) - 9)) AS pos, toks
               FROM t WHERE len(toks) >= 10),
         g AS (SELECT doc_id, pos::BIGINT AS pos,
                      md5(array_to_string(toks[pos+1:pos+10], ' ')) AS g
               FROM p),
         d AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
         h AS (SELECT doc_id, pos FROM g JOIN d USING (g)),
         m AS (SELECT doc_id, pos,
                      CASE WHEN pos > coalesce(max(pos + 10) OVER (
                             PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                           THEN 1 ELSE 0 END AS ns
               FROM h),
         s AS (SELECT doc_id, pos,
                      sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span
               FROM m),
         spans AS (SELECT doc_id, min(pos) AS a, max(pos) + 10 AS b
                   FROM s GROUP BY doc_id, span),
         tok AS (SELECT doc_id, unnest(toks) AS token,
                        unnest(range(0, len(toks))) AS pos
                 FROM t),
         keep AS (
           SELECT k.doc_id, k.pos, k.token FROM tok k
           WHERE NOT EXISTS (SELECT 1 FROM spans sp
                             WHERE sp.doc_id = k.doc_id
                               AND k.pos >= sp.a AND k.pos < sp.b)),
         agg AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
                        count(*) AS n_kept
                 FROM keep GROUP BY doc_id),
         tot AS (SELECT doc_id, len(toks)::BIGINT AS n FROM t)
         SELECT tot.doc_id, coalesce(agg.clean_text, '') AS clean_text,
                (tot.n - coalesce(agg.n_kept, 0))::BIGINT AS n_removed
         FROM tot LEFT JOIN agg USING (doc_id) ORDER BY tot.doc_id""",
    "q_sample_topk" ->                 // k=100, seed 'graft'
      """WITH s AS (
           SELECT doc_id, source FROM documents
           ORDER BY md5('graft:' || cast(doc_id AS VARCHAR)) LIMIT 100)
         SELECT doc_id, source FROM s ORDER BY doc_id""",
    "q_sample_stratum" ->              // n=20 per source, seed 'graft'
      """WITH r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5('graft:' || cast(doc_id AS VARCHAR))) AS rn
           FROM documents)
         SELECT doc_id, source FROM r WHERE rn <= 20 ORDER BY doc_id""",
    "q_token_budget" ->                // budget=50000, seed 'graft'
      """WITH t AS (
           SELECT doc_id,
                  md5('graft:' || cast(doc_id AS VARCHAR)) AS h,
                  len(list_filter(string_split_regex(lower(trim(text)), '\W+'),
                                  x -> x <> ''))::BIGINT AS n
           FROM documents),
         p AS (
           SELECT doc_id, n,
                  coalesce(sum(n) OVER (ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
           FROM t)
         SELECT doc_id, off AS tok_offset, n AS n_toks
         FROM p WHERE off < 50000 ORDER BY doc_id""",
    "q_histogram" ->                   // 16 equi-width buckets over l_extendedprice
      """WITH b AS (
           SELECT min(l_extendedprice::DOUBLE) AS mn,
                  max(l_extendedprice::DOUBLE) AS mx FROM lineitem),
         x AS (
           SELECT CASE WHEN mx = mn THEN 0
                       ELSE least(15, floor((l_extendedprice::DOUBLE - mn)
                                            / (mx - mn) * 16)) END::BIGINT AS bucket,
                  mn, mx
           FROM lineitem, b)
         SELECT bucket, count(*)::BIGINT AS n,
                round(any_value(mn) + bucket * (any_value(mx) - any_value(mn)) / 16, 4) AS lo,
                round(any_value(mn) + (bucket + 1) * (any_value(mx) - any_value(mn)) / 16, 4) AS hi
         FROM x GROUP BY bucket ORDER BY bucket""",
    "q_rolling" ->                     // trailing 3600 s count/sum per user, floor-second epoch
      """SELECT event_id, user_id, ts,
                count(*) OVER w AS n_window,
                round(sum(value) OVER w, 4) AS sum_window
         FROM events
         WINDOW w AS (PARTITION BY user_id
                      ORDER BY (epoch_ns(ts) // 1000000000)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q_funnel" ->                      // strictly-ordered view→click→purchase funnel
      """WITH s1 AS (
           SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t0
           FROM events GROUP BY 1),
         s2 AS (
           SELECT e.user_id, t0,
                  min(CASE WHEN e.event_type = 'click' AND e.ts > t0
                           THEN e.ts END) AS t1
           FROM events e JOIN s1 USING (user_id) GROUP BY 1, 2),
         s3 AS (
           SELECT e.user_id, t0, t1,
                  min(CASE WHEN e.event_type = 'purchase' AND e.ts > t1
                           THEN e.ts END) AS t2
           FROM events e JOIN s2 USING (user_id) GROUP BY 1, 2, 3)
         SELECT count(t0)::BIGINT AS n_s1, count(t1)::BIGINT AS n_s2,
                count(t2)::BIGINT AS n_s3
         FROM s3""",
    "q_source_overlap" ->              // shared normalized paragraphs per source pair
      """WITH d AS (
           SELECT source,
                  text || chr(10) || chr(10) || 'Subscribe to the newsletter v'
                       || (doc_id % 4)
                       || chr(10) || chr(10) || 'Follow the project w'
                       || (doc_id % 6) AS text
           FROM documents),
         p AS (
           SELECT DISTINCT
                  md5(lower(trim(regexp_replace(para, '\s+', ' ', 'g')))) AS h,
                  source
           FROM (SELECT source,
                        unnest(string_split_regex(text, '\n{2,}')) AS para
                 FROM d)
           WHERE lower(trim(regexp_replace(para, '\s+', ' ', 'g'))) <> '')
         SELECT a.source AS src_a, b.source AS src_b,
                count(*)::BIGINT AS n_shared
         FROM p a JOIN p b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_weighted_sample" ->             // A-ES keys: ln(u)/w, u = 52-bit md5 uniform
      """WITH w AS (
           SELECT doc_id, n_chars, source,
                  ln((CAST('0x' || substr(md5('graft:' || cast(doc_id AS VARCHAR)),
                                          1, 13) AS BIGINT) + 0.5)
                     / 4503599627370496.0) / n_chars AS wk
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
           ORDER BY wk DESC, doc_id LIMIT 25)
         SELECT doc_id, n_chars, source FROM w ORDER BY doc_id""",
    "q_zorder" ->                      // 8-bit × 2-dim Morton interleave, exact integer arithmetic
      s"""WITH b AS (
           SELECT min(l_partkey) AS mn1, max(l_partkey) AS mx1,
                  min(l_suppkey) AS mn2, max(l_suppkey) AS mx2 FROM lineitem),
         z AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                  ((l_partkey::BIGINT - mn1) * 256) // (mx1 - mn1 + 1) AS b1,
                  ((l_suppkey::BIGINT - mn2) * 256) // (mx2 - mn2 + 1) AS b2
           FROM lineitem, b)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                (${(0 until 8).flatMap(bb => Seq(
                    s"(((b1 >> $bb) & 1) << ${2 * bb})",
                    s"(((b2 >> $bb) & 1) << ${2 * bb + 1})")).mkString(" + ")}
                )::BIGINT AS zval
         FROM z ORDER BY zval, l_orderkey, l_linenumber LIMIT 50""",

    "q_zorder_str" ->                  // byte-prefix string dim (6 bytes big-endian) × doc_id, 8-bit Morton
      s"""WITH d AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k, n_chars
           FROM documents),
         p AS (
           SELECT doc_id, k, n_chars,
                  (ascii(substr(k,1,1))*1099511627776 +
                   ascii(substr(k,2,1))*4294967296 +
                   ascii(substr(k,3,1))*16777216 +
                   ascii(substr(k,4,1))*65536 +
                   ascii(substr(k,5,1))*256 +
                   ascii(substr(k,6,1)))::BIGINT AS kp
           FROM d),
         b AS (SELECT min(kp) AS mn1, max(kp) AS mx1,
                      min(doc_id) AS mn2, max(doc_id) AS mx2 FROM p),
         z AS (
           SELECT doc_id, k, n_chars,
                  ((kp - mn1) * 256) // (mx1 - mn1 + 1) AS b1,
                  ((doc_id::BIGINT - mn2) * 256) // (mx2 - mn2 + 1) AS b2
           FROM p, b)
         SELECT doc_id, k, n_chars,
                (${(0 until 8).flatMap(bb => Seq(
                    s"(((b1 >> $bb) & 1) << ${2 * bb})",
                    s"(((b2 >> $bb) & 1) << ${2 * bb + 1})")).mkString(" + ")}
                )::BIGINT AS zval
         FROM z ORDER BY zval, doc_id LIMIT 50""",

    // r15 read-time envelope skipping: the result is the plain range
    // read (the pruning laws are in-query requires; pruning may never
    // change WHAT is read, only how many files are opened)
    "q_read_skip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_orderkey >= 100 AND l_orderkey <= 500 AND l_linenumber <= 3
         ORDER BY l_orderkey, l_linenumber""",
    "q_read_skip_part" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, o_orderkey,
                o_totalprice, o_orderstatus
         FROM orders
         WHERE year(o_orderdate) = 1995 AND o_orderkey < 2000
         ORDER BY o_orderkey""",
    // r16 string-key envelope skipping: the result is the plain hex-key
    // range read (pruning is an in-query require, never the semantics)
    "q_read_skip_str" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k, lang, n_chars
         FROM documents
         WHERE md5(CAST(doc_id AS VARCHAR)) >= '2'
           AND md5(CAST(doc_id AS VARCHAR)) < '4'
         ORDER BY k"""
  )

  /** Differential oracles for the queries whose outputs DuckDB cannot
    * reproduce (sketch/xxhash64-based): hard pass/fail laws — recall
    * vs the oracle-checked brute twins, lossless-blocking equality,
    * fingerprint bijection, binomial split bounds, GK rank bounds.
    * Run by [[Verify]] (→ `diffcheck.json` next to the parquet dumps)
    * and enforced in `sbt test` (`VerifyChecksSpec`).
    */
  def diffChecks: Map[String, (SparkSession, String) => DiffChecks.Check] =
    DiffChecks.all

  /** Exact 3-gram Jaccard near-dup pairs ≥ 0.8 — shared by the exact
    * and the MinHash+LSH (exact-verified) queries.
    */
  private val JaccardOracle: String =
    """WITH toks AS (
         SELECT doc_id,
                list_filter(string_split_regex(lower(trim(text)), '\W+'),
                            x -> x <> '') AS t
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                unnest(CASE WHEN len(t) >= 3
                  THEN [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                        FOR i IN range(len(t) - 2)]
                  ELSE [] END) AS s
         FROM toks),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       common AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT id_a, id_b,
              round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
       FROM common
       JOIN sizes sa ON id_a = sa.doc_id
       JOIN sizes sb ON id_b = sb.doc_id
       WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
       ORDER BY id_a, id_b"""

  /** DuckDB replica of TextAnalysis.analyze + qualityScore. */
  private val TextStatsOracle: String =
    """WITH t AS (
         SELECT doc_id, text, n_chars,
                list_filter(string_split_regex(lower(trim(text)), '\W+'),
                            x -> x <> '') AS toks
         FROM documents),
       r AS (
         SELECT doc_id, text, n_chars, toks,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tokens,
           CASE WHEN len(regexp_replace(text, '\s', '', 'g')) > 0
                THEN len(regexp_replace(text, '[\w\s]', '', 'g')) * 1.0
                     / len(regexp_replace(text, '\s', '', 'g'))
                ELSE 0.0 END AS praw,
           CASE WHEN len(toks) > 0
                THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
                ELSE 0.0 END AS wraw,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, x -> list_contains(
                  ['the','a','an','and','of','to','in','is','on','for','with',
                   'that','it','as','at','by','this','be','are','was'], x))) * 1.0 / len(toks)
                ELSE 0.0 END AS sraw,
           len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','is','with','that','for'], x))) AS s_en,
           len(list_filter(toks, x -> list_contains(
             ['der','die','das','und','ist','nicht','mit','ein'], x))) AS s_de,
           len(list_filter(toks, x -> list_contains(
             ['le','les','et','est','une','pour','que','dans'], x))) AS s_fr,
           len(list_filter(toks, x -> list_contains(
             ['el','los','y','es','una','por','como','para'], x))) AS s_es,
           len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk
         FROM t)
       SELECT doc_id, ws_tokens, bpe_tokens,
         round(praw, 4) AS punct_ratio,
         round(wraw, 4) AS avg_word_len,
         round(sraw, 4) AS stopword_ratio,
         CASE WHEN cjk * 1.0 / greatest(length(text), 1) >= 0.3 THEN 'zh'
              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
              ELSE 'en' END AS lang_id,
         round(
           (CASE WHEN n_chars BETWEEN 100 AND 10000 THEN 1.0
                 WHEN n_chars BETWEEN 20 AND 99 THEN 0.5 ELSE 0.1 END) * 0.3 +
           (CASE WHEN wraw BETWEEN 3 AND 12 THEN 1.0 ELSE 0.3 END) * 0.3 +
           (CASE WHEN sraw >= 0.05 THEN 1.0 ELSE 0.5 END) * 0.2 +
           (CASE WHEN praw <= 0.2 THEN 1.0 ELSE 0.2 END) * 0.2, 4)::DOUBLE AS quality
       FROM r ORDER BY doc_id"""
}
