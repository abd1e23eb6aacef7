package graft.engine

import graft.dsl.QueryCompiler
import graft.functions.Transformers
import graft.operators.MergePlanner
import graft.sources.Resolver
import graft.spec._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spec → DataFrame. The declarative heart of the engine: everything the
  * reference CLI compiles into its nested job dict (SURVEY §3.1 steps
  * 1-4) becomes one lazily-built Spark logical plan, so Catalyst gets
  * the whole job at once — predicate pushdown into the scan, column
  * pruning, join strategy selection, AQE — with no engine-side
  * scheduling (SURVEY §4).
  *
  * The exception is a BARRIER transformer
  * ([[graft.functions.Transformers.isBarrier]]: `dedup_keep_best`,
  * `dedup_incr`, `expect`, the k-means stages, the index writers, …),
  * which runs Spark jobs over its input while the plan is built and
  * references that input again in the frame it returns. Every entry point takes a
  * `barrier` hook that each barrier's input passes through. Library,
  * preview, `--dry` and oracle callers keep `identity`: the plan stays
  * one lazy plan and a barrier's upstream is evaluated once per
  * reference. [[Runner.execute]] passes a hook that materializes the
  * input as a durable stage beside the target, so the chain upstream
  * of each barrier runs once.
  */
object Planner {

  /** Source stage: scan → query DSL (filter/agg/sort/limit/projection)
    * → post-read transformers (reference: `setup_source`,
    * etl_cli/etl.py:135-146).
    */
  def sourceFrame(spark: SparkSession, s: SourceSpec,
                  failOnError: Boolean = true,
                  barrier: DataFrame => DataFrame = identity): DataFrame =
      metadataAggFast(spark, s).getOrElse {
    val raw = Resolver.read(spark, s.ref, failOnError = failOnError,
      query = s.query) // connector backends push the filters server-side
    // `_fields` projects AFTER the post-read transformers so it can
    // select transformer-created columns; filters/sort/limit still
    // compile at the scan (and Catalyst prunes the read schema through
    // the projection either way).
    val (fieldParams, rest) = s.query.partition(_._1 == "_fields")
    val queried = QueryCompiler.apply(raw, rest)
    val transformed = Transformers.apply(queried, s.postRead, barrier)
    val fields = fieldParams.flatMap(_._2.split(","))
      .map(_.trim).filter(_.nonEmpty)
    if (fields.nonEmpty) QueryCompiler.project(transformed, fields)
    else transformed
  }

  /** METADATA-ONLY aggregate fast path (r17 — the Iceberg aggregate-
    * pushdown shape, [[graft.operators.Snapshot.metadataPlan]]): an
    * `_agg min:k,max:k,count` on a tombstone-free snapshot table
    * answers as a LOCAL relation, the [[graft.engine.Runner.count]]
    * twin for the aggregate DSL:
    *
    *   - unfiltered: from the manifest alone — ZERO Spark jobs; a plan
    *     with any boundary member declines, so no scan ever starts;
    *   - filtered (r18, verdict #3): covered members fold
    *     driver-side, only boundary members scan
    *     ([[mergeBoundary]]);
    *   - `_group` by PARTITION columns, unfiltered: per group from
    *     partition point values + recorded rows/envelopes
    *     ([[graft.operators.Snapshot.metadataGroupAgg]] — the Iceberg
    *     `partitions` metadata-table shape, verdict #2);
    *   - `_sort`/`_limit` compose ON the local relation (the scan
    *     path's application order is filter → agg → sort → limit).
    *
    * Everything else — a predicate that does not translate exactly, a
    * filtered group, a non-partition group key, a post-read
    * transformer, an aggregate outside min/max/count — composes with
    * the scan instead; version-pin failures keep the scan path's
    * error shape.
    */
  private def metadataAggFast(spark: SparkSession,
                              s: SourceSpec): Option[DataFrame] = {
    if (s.postRead.nonEmpty) return None
    val allowed = Set("_agg", "_group", "_sort", "_limit",
      "_version", "_version_ts")
    // control keys outside the allowed set (`_fields`, `_flat`, …)
    // decline; FIELD pairs are fine IF they translate exactly
    if (!s.query.forall(kv => allowed.contains(kv._1) ||
        !QueryCompiler.ControlKeys.contains(kv._1))) return None
    // the same `_agg`/`_group` gathering/splitting as QueryCompiler
    def gather(k: String): Seq[String] =
      s.query.collect { case (`k`, v) => v }
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val aggs = gather("_agg").map { a =>
      a.split(":", 2) match {
        case Array(f, fld) => (f.trim, fld.trim)
        case Array(f)      => (f.trim, "*")
      }
    }
    if (aggs.isEmpty) return None
    val groups = gather("_group")
    val (p, atV, preds) = metadataInputs(spark, s).getOrElse(return None)
    val base: Option[DataFrame] =
      if (groups.nonEmpty) {
        if (preds.nonEmpty) None // grouped + filtered stays with the scan
        else graft.operators.Snapshot
          .metadataGroupAgg(spark, p, atV, groups, aggs)
          .map { case (fields, rws) =>
            spark.createDataFrame(
              java.util.Arrays.asList(rws.map(r =>
                org.apache.spark.sql.Row(r: _*)): _*),
              org.apache.spark.sql.types.StructType(fields))
          }
      } else
        // the plan and any boundary scan run on the maintenance twin
        // (r18 ADVICE: never mutate the caller's confs from a query
        // path; a global aggregate is profile-insensitive — one row
        // per task through its single exchange); the one-row result
        // builds on the CALLER's session. An unfiltered aggregate with
        // any boundary member declines, so building its frame starts
        // no scan: the lazy scan-path plan answers it instead
        graft.operators.Snapshot.metadataPlan(
          graft.operators.MaintProfile.sessionFor(spark), p, atV, preds, aggs)
          .collect { case (partials, bf, _) if preds.nonEmpty || bf.isEmpty =>
            val schema = org.apache.spark.sql.types.StructType(partials.map(pt =>
              org.apache.spark.sql.types.StructField(pt.name, pt.dt, nullable = true)))
            spark.createDataFrame(java.util.Collections.singletonList(
              org.apache.spark.sql.Row(mergeBoundary(s.query, aggs, partials, bf): _*)),
              schema)
          }
    base.map { df =>
      val sort = gather("_sort")
      val sorted =
        if (sort.isEmpty) df
        else df.orderBy(QueryCompiler.sortColumns(sort).toIndexedSeq: _*)
      s.query.collectFirst { case ("_limit", v) => v.trim.toInt }
        .fold(sorted)(sorted.limit)
    }
  }

  /** The metadata fast paths' shared prelude ([[metadataAggFast]],
    * [[Runner.count]], [[Runner.countPlan]]): (path, resolved version
    * pin, exactly-translated predicates), or None when the fast path
    * cannot apply — non-parquet backend, an untranslatable predicate
    * (EVERY field pair must translate exactly; an advisory subset
    * would overcount — [[QueryCompiler.exactPreds]] contract), a
    * missing path, or a version pin that fails to resolve (a
    * malformed `_version` / out-of-range `_version_ts` must fail with
    * the SCAN path's error, not a new fast-path shape — r17 ADVICE).
    */
  private[engine] def metadataInputs(spark: SparkSession, s: SourceSpec)
      : Option[(String, Option[Long], Seq[graft.operators.Snapshot.ReadPred])] = {
    if (s.ref.backend != "parquet") return None
    val preds = QueryCompiler.exactPreds(s.query).getOrElse(return None)
    val p = Resolver.path(s.ref)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return None // the scan path owns the error shape
    scala.util.Try(graft.operators.Snapshot.versionPin(fs, hp, s.query))
      .toOption.map(atV => (p, atV, preds))
  }

  /** Merge a metadata plan's covered partials with the boundary scan's
    * aggregates, if any: the values of `aggs`, in request order. The
    * boundary frame filters under the COMPILED `query` predicates —
    * the same exact semantics the scan path applies, so the two plan
    * halves can never disagree — and aggregates through
    * [[QueryCompiler.aggregate]], so output names and types match the
    * scan path by construction; the merge happens in the envelope's
    * long domain ([[graft.operators.Snapshot.AggPartial.merged]]).
    */
  private[engine] def mergeBoundary(query: Seq[(String, String)],
      aggs: Seq[(String, String)],
      partials: Seq[graft.operators.Snapshot.AggPartial],
      boundary: Option[() => DataFrame]): Seq[Any] = {
    val brow = boundary.map { build =>
      val bdf = build()
      val filtered = QueryCompiler.compile(bdf, query).predicates
        .foldLeft(bdf)(_ filter _)
      QueryCompiler.aggregate(filtered, Nil, aggs).head()
    }
    partials.zipWithIndex.map { case (pt, i) =>
      pt.merged(brow.flatMap(r => if (r.isNullAt(i)) None else Some(r.get(i))))
    }
  }

  /** Merger stage: resolve the merger dataset, apply its post-read
    * transformers, run the correlated join, then post-merge transformers
    * (reference: `setup_merger`, etl_cli/etl.py:148-187).
    */
  def withMerger(spark: SparkSession, src: DataFrame, m: MergerSpec,
                 failOnError: Boolean = true,
                 barrier: DataFrame => DataFrame = identity): DataFrame = {
    // only LITERAL merger filters can push to a connector; correlated
    // `#field#` keys resolve per source row inside the join
    val literals = m.query.filterNot(_._2.matches("#.*#"))
    val mrgRaw = Transformers.apply(
      Resolver.read(spark, m.ref, failOnError = failOnError,
        query = literals), m.postRead, barrier)
    val merged = MergePlanner.merge(src, mrgRaw, m)
    Transformers.apply(merged, m.postMerge, barrier)
  }

  /** Full read-side plan: source → merger. Target ops are applied by the
    * Runner (they need the current target state). `barrier` sees the
    * input of every barrier transformer of the source, merger and
    * post-merge chains (see the object doc).
    */
  def plan(spark: SparkSession, job: JobSpec,
           barrier: DataFrame => DataFrame = identity): DataFrame = {
    // W14: target.fail_on_error governs the whole job's read policy
    // (reference stores the global flag under target.*, base.py:267)
    val foe = job.effectiveFailOnError
    val src = sourceFrame(spark, job.source, foe, barrier)
    val compiled = QueryCompiler.compile(src, job.source.query)
    val df = job.merger.fold(src) { m =>
      val merged0 = withMerger(spark, src, m, foe, barrier)
      // A shuffle join does not preserve the source's `_sort` order —
      // re-apply it so downstream consumers see the requested ordering.
      val sortKeys = compiled.sort
        .filter(k => merged0.columns.contains(k.stripPrefix("-")))
      val merged =
        if (sortKeys.nonEmpty)
          merged0.orderBy(QueryCompiler.sortColumns(sortKeys).toIndexedSeq: _*)
        else merged0
      // `_flat=1` flattens the FINAL record — including structs the
      // merger nested (merge_as) — not just the source scan (F7).
      if (compiled.flat) graft.functions.StructUtils.flatten(merged) else merged
    }
    job.workers.fold(df)(n => df.repartition(n))
  }
}
