package graft.sources

import graft.spec.DatasetRef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** DatasetRef → DataFrame (SURVEY §2.1). The reference addresses
  * backend/ns/name where backend is a connector (mongo/es/http/s3/csv,
  * etl_cli/etl.py:230-261); in this engine a backend is a Spark data
  * source format and `ns` is a directory (or URL for http).
  *
  *   parquet/ns/name → spark.read.parquet("ns/name.parquet")
  *   csv/ns/name     → header csv with optional explicit schema
  *   json/ns/name    → json lines
  *   orc/ns/name     → ORC (self-describing columnar, like parquet)
  *   http/url-ns/x   → driver-side fetch, single-record semantics
  *                     (reference forces _limit=1, etl_cli/etl.py:127)
  *
  * Paths never assume a local filesystem: "ns" may be s3a://… or
  * hdfs://… — Spark's Hadoop FS layer resolves it, so the same code
  * runs on a cluster. Scans are distributed and partition-pruned by
  * Spark; the reference's per-backend pagination hints
  * (etl_cli/etl.py:250-261) are intentionally dropped (SURVEY §4).
  */
object Resolver {

  def path(ref: DatasetRef): String = {
    val ext = ref.backend match {
      case "parquet" => ".parquet"
      case "csv"     => ".csv"
      case "json"    => ".json"
      case "orc"     => ".orc"
      case _         => ""
    }
    val base = if (ref.ns.isEmpty) ref.name else s"${ref.ns}/${ref.name}"
    base + ext
  }

  /** W14 `fail_on_error` (reference: `--fail-on-error`, default True,
    * etl_cli/base.py:135,267): `true` → FAILFAST, the first malformed
    * csv/json record fails the job loudly; `false` → DROPMALFORMED,
    * bad records are skipped and the job continues — the reference's
    * continue-past-record-errors behavior. (PERMISSIVE + filtering on
    * `_corrupt_record` is disallowed by Spark without caching the
    * frame, so DROPMALFORMED is the skip policy.) Parquet is
    * self-describing — per-record malformedness doesn't apply.
    *
    * `query` is a pushdown HINT for connector backends (mongo/es): the
    * compiled DSL predicates are mapped into the connector's native
    * filter language so the database prunes server-side. Correctness
    * never depends on it — the engine re-applies every predicate on
    * the returned frame.
    */
  def read(spark: SparkSession, ref: DatasetRef, schema: Option[StructType] = None,
           failOnError: Boolean = true,
           query: Seq[(String, String)] = Nil): DataFrame = {
    val mode = if (failOnError) "FAILFAST" else "DROPMALFORMED"
    // `_version` resolves against the snapshot/versioned commit
    // protocols, which are parquet-layout features — on any other
    // backend it would be silently meaningless, so refuse loudly
    if (ref.backend != "parquet" &&
        query.exists(kv => kv._1 == "_version" || kv._1 == "_version_ts"))
      throw new IllegalArgumentException(
        s"_version time travel requires a parquet snapshot/versioned " +
          s"dataset; ${ref.backend} datasets have no version history")
    ref.backend match {
      case "parquet" =>
        // [EXT] `_version=N` / `_version_ts=TS` time travel: pin the
        // scan to a RETAINED committed generation instead of latest
        // (TS resolves to the latest commit at-or-before the instant)
        val p = path(ref)
        val hp = new org.apache.hadoop.fs.Path(p)
        val atV = graft.operators.Snapshot.versionPin(
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp, query)
        // r15: the query's prunable conjuncts steer manifest-envelope
        // file skipping on snapshot layouts; every consumer (Planner
        // source stage, MergePlanner literal filters) still applies
        // the compiled predicates exactly above this read
        readParquet(spark, p, atV,
          graft.dsl.QueryCompiler.skipPreds(query))
      case "mongodb" | "mongo" | "es" | "elasticsearch" =>
        // S2/S3: real connector pass-through behind the same DatasetRef
        // (reference backends, etl_cli/etl.py:252-257); parquet
        // stand-in (SURVEY §1.2) when the connector jar is absent.
        val (fmt, opts) = connectorOptions(ref, query)
        try {
          val r = spark.read.format(fmt).options(opts)
          schema.fold(r)(s => r.schema(s)).load()
        } catch {
          case e: Throwable if missingDataSource(e) =>
            System.err.println(s"[graft] ${ref.backend} connector not on " +
              s"the classpath; using the parquet stand-in for ${ref.uri}")
            readParquet(spark, path(ref.copy(backend = "parquet")))
        }
      case "csv" =>
        val r = spark.read.option("header", "true").option("mode", mode)
        schema.fold(r.option("inferSchema", "true"))(s => r.schema(s))
          .csv(resolveVersioned(spark, path(ref)))
      case "json" =>
        val r = spark.read.option("mode", mode)
        schema.fold(r)(s => r.schema(s)).json(resolveVersioned(spark, path(ref)))
      case "orc" =>
        // self-describing columnar like parquet: no malformed-record
        // mode; schema (when given) projects/casts at scan time
        val r = spark.read
        schema.fold(r)(s => r.schema(s)).orc(resolveVersioned(spark, path(ref)))
      case "http" =>
        // S4: fetch one document on the driver; single-row semantics.
        // Bounded connect/read timeouts and a closed stream — a hung
        // server must not block the driver forever or leak sockets.
        import spark.implicits._
        val conn = new java.net.URI(s"${ref.ns}/${ref.name}").toURL
          .openConnection()
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(30000)
        val in = conn.getInputStream
        val body =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        spark.read.json(Seq(body).toDS()).limit(1)
      case other =>
        throw new IllegalArgumentException(s"unknown backend: $other")
    }
  }

  /** A parquet path's DataFrame. Snapshot layouts read their committed
    * manifest ([[graft.operators.Snapshot.readAt]]: membership and
    * schema both come from it — a listing would over-read the shared
    * pool; the only layouts where `_version` time travel is
    * meaningful). Every other layout — a plain dir, a hive-
    * partitioned dir, the committed `_v_<n>` dir of a `versioned`
    * dataset — reads through [[readPlain]], whose schema comes from
    * one driver-side footer instead of Spark's inference job.
    *
    * `skipping`: advisory envelope-pruning conjuncts, honored only on
    * snapshot layouts (plain dirs already get parquet row-group
    * pruning from the pushed exact filters); callers apply the exact
    * filter above regardless.
    */
  def readParquet(spark: SparkSession, pathStr: String,
                  atVersion: Option[Long] = None,
                  skipping: Seq[graft.operators.Snapshot.ReadPred] = Nil)
      : DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(pathStr)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.operators.Snapshot.isSnapshotLayout(fs, hp))
      return graft.operators.Snapshot.readAt(spark, pathStr, atVersion,
        skipping)
    atVersion match {
      case Some(v) =>
        // a retained dir-protocol version: same footer step and nano
        // normalization as the latest read, so time travel never fails
        // on files the plain read accepts
        val (_, vdir) = graft.operators.Snapshot.resolveVersion(fs, hp, Some(v))
        readPlain(spark, vdir.toString)
      case None =>
        readPlain(spark, resolveVersioned(spark, pathStr))
    }
  }

  /** The footer step: read a plain (non-snapshot) parquet path with
    * the schema of its first data file's footer, opened driver-side
    * ([[plainFooter]]). That is the single-file inference Spark does
    * without `mergeSchema`, minus the Spark job it runs to do it.
    *
    *   - TIMESTAMP(NANOS) columns (the pyarrow/pandas default) are
    *     illegal for Spark's reader ([PARQUET_TYPE_ILLEGAL]): such a
    *     path reads as raw long nanos under
    *     `spark.sql.legacy.parquet.nanosAsLong` ([[withNanosAsLong]])
    *     and converts to TimestampType at microsecond precision
    *     ([[convertNanoCols]]). This path keeps Spark's inference.
    *   - no footer schema (an empty dir, a summary file, `mergeSchema`
    *     on, …): Spark's inferring read, with its own errors.
    */
  private[graft] def readPlain(spark: SparkSession, pathStr: String): DataFrame =
    plainFooter(spark, pathStr) match {
      case Some(PlainFooter(nanos, _)) if nanos.nonEmpty =>
        convertNanoCols(withNanosAsLong(spark)(spark.read.parquet(pathStr)), nanos)
      case Some(PlainFooter(_, Some(s))) =>
        spark.read.schema(s).parquet(pathStr)
      case _ => spark.read.parquet(pathStr)
    }

  /** What the first data file's footer says about a plain parquet
    * path: its top-level TIMESTAMP(NANOS) columns, and the schema
    * Spark's non-merging inference would derive from it — or None
    * where that inference would not read exactly this footer's schema.
    */
  private final case class PlainFooter(nanos: Seq[String],
                                       schema: Option[StructType])

  /** The footer of the first data file under `pathStr` — the file
    * Spark's non-merging inference picks: the listing's own order and
    * hidden-file rule (`_`/`.` prefixes skipped except `k=v` dirs,
    * `._COPYING_` files skipped), a level's files before its
    * subdirectories. None for a missing path, no data file or an
    * unreadable footer: the read then takes Spark's inferring path,
    * errors included. One footer open, no Spark job.
    *
    * The schema is Spark's own conversion
    * (`ParquetFileFormat.readSchemaFromFooter`: the writer's Spark
    * schema when recorded, else the parquet schema through
    * `ParquetToSparkSchemaConverter` under the inference's confs). It
    * is withheld where Spark would read another file or merge:
    * `_metadata`/`_common_metadata` summary files (Spark prefers
    * them), `mergeSchema` on, a data column that is also a partition
    * dir key (Spark types it in place), or a footer the converter
    * rejects (a nested NANOS column keeps Spark's loud error).
    */
  private def plainFooter(spark: SparkSession, pathStr: String): Option[PlainFooter] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(pathStr)
    val fs = root.getFileSystem(conf)
    val status = try fs.getFileStatus(root)
      catch { case _: java.io.FileNotFoundException => return None }
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    var summaries = false
    // (first data file, the `k` of each `k=v` dir on the way to it)
    def first(d: Path, keys: List[String]): Option[(Path, List[String])] = {
      val (dirs, files) = fs.listStatus(d).toSeq.partition(_.isDirectory)
      files.map(_.getPath.getName).foreach { n =>
        if (n.startsWith("_metadata") || n.startsWith("_common_metadata"))
          summaries = true
      }
      files.find(f => !hidden(f.getPath.getName)).map(f => (f.getPath, keys))
        .orElse(dirs.iterator.filterNot(s => hidden(s.getPath.getName))
          .flatMap { s =>
            val n = s.getPath.getName
            first(s.getPath, if (n.contains("=")) keys :+ n.takeWhile(_ != '=') else keys)
          }.nextOption())
    }
    for {
      (file, partKeys) <- if (status.isDirectory) first(root, Nil) else Some((root, Nil))
      meta <- scala.util.Try {
        val reader = graft.operators.Footers.open(conf, file)
        try reader.getFooter finally reader.close()
      }.toOption
    } yield {
      val nanos = meta.getFileMetaData.getSchema.getFields.asScala.toSeq
        .filter(_.getLogicalTypeAnnotation match {
          case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
          case _ => false
        }).map(_.getName)
      val sqlConf = spark.sessionState.conf
      val schema =
        if (summaries || sqlConf.isParquetSchemaMergingEnabled) None
        else scala.util.Try(ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(file, meta),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
            nanosAsLong = sqlConf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              sqlConf.parquetReaderRespectUnknownTypeAnnotation)))
          .toOption.filterNot(_.fieldNames.exists(n =>
            partKeys.exists(_.equalsIgnoreCase(n))))
      PlainFooter(nanos, schema)
    }
  }

  /** Datasets written with the `versioned` commit protocol read their
    * highest COMMITTED `_v_<n>` dir (object-store-atomic commit — see
    * [[graft.operators.Versioned]]); plain datasets pass through.
    */
  def resolveVersioned(spark: SparkSession, pathStr: String): String = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.Versioned.resolve(fs, pathStr)
  }

  /** Run `load` with spark.sql.legacy.parquet.nanosAsLong set, restoring
    * the previous value after the DataFrame's schema is resolved (the
    * scan snapshots its hadoop conf there), so a bare
    * `spark.read.parquet` of a nano file elsewhere in the session still
    * fails with the loud PARQUET_TYPE_ILLEGAL error instead of silently
    * yielding long columns.
    */
  def withNanosAsLong[A](spark: SparkSession)(load: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try load
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** long-nanos columns → TimestampType at microsecond precision.
    * Integer `div` (not `/`) avoids double-precision loss on
    * epoch-nanos > 2^53.
    */
  def convertNanoCols(df: DataFrame, nanos: Seq[String]): DataFrame =
    nanos.foldLeft(df) { (d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.expr(
        s"timestamp_micros(`$c` div 1000)"))
    }

  /** Top-level TIMESTAMP(NANOS) columns of a plain parquet path, from
    * the same one footer [[readPlain]] opens (files of one dataset
    * share a writer schema).
    */
  def nanoTimestampCols(spark: SparkSession, pathStr: String): Seq[String] =
    plainFooter(spark, pathStr).fold(Seq.empty[String])(_.nanos)

  /** True ONLY for Spark's format-lookup failure (the connector jar is
    * absent). Deliberately narrow: a connector that IS present but
    * fails to initialize or read must surface its error, not silently
    * substitute the local stand-in for the real database.
    */
  private def missingDataSource(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("DATA_SOURCE_NOT_FOUND") ||
      m.contains("Failed to find the data source")
  }

  /** Connector format + options for a mongo/es DatasetRef, with the
    * query DSL mapped into the connector's native pushdown language.
    * Pure — unit-testable without the connector jars. Connection
    * endpoints come from `GRAFT_MONGO_URI` / `GRAFT_ES_NODES` env vars
    * (the reference reads its backend endpoints from settings the same
    * way, etl_cli/base.py:158-185).
    *
    * Pushdown caveats (the engine re-applies every predicate, so OVER-
    * inclusion is always safe; the mappings below avoid known UNDER-
    * inclusion where possible): literals are typed by JSON guess —
    * `age=30` pushes a number, so a collection storing age as the
    * STRING "30" would be pruned server-side. That matches how the
    * reference's query dicts behave against the same stores, but if a
    * store mixes types in one field, set `GRAFT_CONNECTOR_PUSHDOWN=0`
    * to disable predicate pushdown entirely (the scan still narrows by
    * database/collection/index). `__exists=0` and negations over
    * missing fields are never pushed — mongo/es "field absent" vs
    * "field null" semantics differ from the engine's isNull.
    */
  def connectorOptions(ref: DatasetRef,
                       query: Seq[(String, String)] = Nil): (String, Map[String, String]) =
    ref.backend match {
      case "mongodb" | "mongo" =>
        val push = if (pushdownEnabled) query else Nil
        ("mongodb", Map(
          "connection.uri" ->
            sys.env.getOrElse("GRAFT_MONGO_URI", "mongodb://localhost:27017"),
          "database" -> ref.ns,
          "collection" -> ref.name,
          "aggregation.pipeline" -> mongoPipeline(push)))
      case "es" | "elasticsearch" =>
        val push = if (pushdownEnabled) query else Nil
        ("org.elasticsearch.spark.sql", Map(
          "es.nodes" -> sys.env.getOrElse("GRAFT_ES_NODES", "localhost:9200"),
          "es.resource" ->
            (if (ref.ns.isEmpty) ref.name else s"${ref.ns}.${ref.name}"),
          "es.query" -> esQuery(push)))
      case other =>
        throw new IllegalArgumentException(s"not a connector backend: $other")
    }

  private def pushdownEnabled: Boolean =
    !sys.env.get("GRAFT_CONNECTOR_PUSHDOWN").contains("0")

  /** JSON literal: numbers/booleans unquoted, everything else escaped.
    * (Connector pushdown is schemaless at this point — the engine
    * re-applies typed predicates on the frame either way.)
    */
  private def jsonVal(v: String): String =
    if (v.matches("-?\\d+") || v.matches("-?\\d*\\.\\d+") ||
      v == "true" || v == "false") v
    else "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  /** `field__op` DSL pairs → a mongo `[{"$match": …}]` aggregation
    * pipeline (the connector ships it server-side). Ops without a
    * mongo analog are simply not pushed.
    */
  def mongoPipeline(query: Seq[(String, String)]): String = {
    val clauses = query.filterNot(_._1.startsWith("_")).flatMap { case (k, v) =>
      val (f, op) = graft.dsl.QueryCompiler.splitOp(k)
      val body = op match {
        case "eq" => Some(jsonVal(v))
        case "ne" | "gt" | "gte" | "lt" | "lte" =>
          Some(s"""{"$$$op": ${jsonVal(v)}}""")
        case "in" | "nin" =>
          Some(s"""{"$$$op": [${v.split(",").map(x => jsonVal(x.trim)).mkString(", ")}]}""")
        case "exists" if v != "0" && !v.equalsIgnoreCase("false") =>
          // only the POSITIVE direction is pushed: mongo's $exists:false
          // excludes explicit-null fields the engine's isNull keeps
          Some(s"""{"$$exists": true}""")
        case "regex" => Some(s"""{"$$regex": ${jsonVal(v)}}""")
        case "between" => v.split(",", 2) match {
          case Array(lo, hi) =>
            Some(s"""{"$$gte": ${jsonVal(lo.trim)}, "$$lte": ${jsonVal(hi.trim)}}""")
          case _ => None
        }
        case _ => None // contains/startswith/nse/… stay engine-side
      }
      body.map(b => s""""$f": $b""")
    }
    if (clauses.isEmpty) "[]"
    else s"""[{"$$match": {${clauses.mkString(", ")}}}]"""
  }

  /** `field__op` DSL pairs → an elasticsearch bool-filter query DSL
    * document for `es.query`.
    */
  def esQuery(query: Seq[(String, String)]): String = {
    var filters = Vector.empty[String]
    var mustNot = Vector.empty[String]
    query.filterNot(_._1.startsWith("_")).foreach { case (k, v) =>
      val (f, op) = graft.dsl.QueryCompiler.splitOp(k)
      op match {
        case "eq" => filters :+= s"""{"term": {"$f": ${jsonVal(v)}}}"""
        case "ne" => mustNot :+= s"""{"term": {"$f": ${jsonVal(v)}}}"""
        case "gt" | "gte" | "lt" | "lte" =>
          filters :+= s"""{"range": {"$f": {"$op": ${jsonVal(v)}}}}"""
        case "in" => filters :+=
          s"""{"terms": {"$f": [${v.split(",").map(x => jsonVal(x.trim)).mkString(", ")}]}}"""
        case "nin" => mustNot :+=
          s"""{"terms": {"$f": [${v.split(",").map(x => jsonVal(x.trim)).mkString(", ")}]}}"""
        case "exists" if v != "0" && !v.equalsIgnoreCase("false") =>
          // positive direction only — es "missing" vs engine isNull
          // semantics diverge on explicit nulls
          filters :+= s"""{"exists": {"field": "$f"}}"""
        case "between" => v.split(",", 2) match {
          case Array(lo, hi) => filters :+=
            s"""{"range": {"$f": {"gte": ${jsonVal(lo.trim)}, "lte": ${jsonVal(hi.trim)}}}}"""
          case _ => ()
        }
        case _ => () // not pushed; engine-side predicate covers it
      }
    }
    if (filters.isEmpty && mustNot.isEmpty) """{"query": {"match_all": {}}}"""
    else {
      val parts = Seq(
        if (filters.nonEmpty) Some(s""""filter": [${filters.mkString(", ")}]""") else None,
        if (mustNot.nonEmpty) Some(s""""must_not": [${mustNot.mkString(", ")}]""") else None).flatten
      s"""{"query": {"bool": {${parts.mkString(", ")}}}}"""
    }
  }

  /** S7: wildcard fan-out `prefix*suffix` over datasets in a namespace
    * (reference: `ls_sources`, etl_cli/etl.py:364-377). Lists the ns
    * directory through the Hadoop FS API so it works on any scheme.
    */
  def expandWildcard(spark: SparkSession, ref: DatasetRef): Seq[DatasetRef] = {
    if (!ref.name.contains("*")) return Seq(ref)
    val ext = ref.backend match {
      case "parquet" => ".parquet"
      case "csv" => ".csv"
      case "json" => ".json"
      case "orc" => ".orc"
      case _ => ""
    }
    val dir = new org.apache.hadoop.fs.Path(if (ref.ns.isEmpty) "." else ref.ns)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    val pat = java.util.regex.Pattern.compile(
      ref.name.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
    fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(n => ext.isEmpty || n.endsWith(ext))
      .map(n => if (ext.nonEmpty) n.stripSuffix(ext) else n)
      .filter(n => pat.matcher(n).matches())
      .sorted
      .map(n => ref.copy(name = n))
  }

  /** The backends whose ns is a filesystem directory. Listing/dropping
    * for connector backends (mongo/es) would silently operate on LOCAL
    * paths that happen to share the database's name — worst case
    * recursively deleting an unrelated directory — so every ns-level
    * op requires a file-backed ref.
    */
  private val FileBackends = Set("parquet", "csv", "json", "orc")

  private def requireFileBackend(backend: String, op: String): Unit =
    require(FileBackends.contains(backend),
      s"$op supports file-backed backends (${FileBackends.mkString("/")}) " +
        s"only, got: $backend — connector namespaces live in the database, " +
        "not on this filesystem")

  /** S9: list dataset names in a namespace (reference: `ls_ns`,
    * etl_cli/base.py:541-561).
    */
  def listDatasets(spark: SparkSession, backend: String, ns: String): Seq[String] = {
    requireFileBackend(backend, "--lsflat")
    expandWildcard(spark, DatasetRef(backend, ns, "*")).map(_.name)
  }

  /** S10: drop a dataset (reference: `drop_ds`, etl_cli/base.py:506-519). */
  def drop(spark: SparkSession, ref: DatasetRef): Boolean = {
    requireFileBackend(ref.backend, "--drop")
    val p = new org.apache.hadoop.fs.Path(path(ref))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** S10: drop a whole namespace (`--drop-ns`, etl_cli/base.py:114-115). */
  def dropNamespace(spark: SparkSession, backend: String, ns: String): Boolean = {
    requireFileBackend(backend, "--drop-ns")
    val p = new org.apache.hadoop.fs.Path(ns)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}
