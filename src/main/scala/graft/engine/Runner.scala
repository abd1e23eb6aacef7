package graft.engine

import graft.dsl.QueryCompiler
import graft.operators.{PrunedMerge, WriteOps}
import graft.sources.Resolver
import graft.spec._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Job execution: count/preview gates, keyed writes, wildcard fan-out
  * and the continuation/fixpoint loop (SURVEY §2.8, §3.1 steps 5-8).
  * The reference's HTTP POST + poll orchestration collapses into
  * synchronous Spark actions; its N-workers×1000-row-batches physical
  * model is replaced by Spark's DAG scheduler (SURVEY §4).
  */
object Runner {

  final case class RunResult(job: JobSpec, sourceCount: Long, written: Long, iterations: Int)

  /** S12/F6 count of the filtered source, capped by `_limit`
    * (reference: `get_source_total`, min rule, etl_cli/base.py:481-499).
    *
    * METADATA count (r16; r17 — predicate-covered): a `_count` of a
    * parquet snapshot table plans from the manifest
    * ([[graft.operators.Snapshot.metadataPlan]] with `count(*)`).
    * Unfiltered → the recorded per-file row counts sum driver-side,
    * ZERO Spark jobs (the Iceberg/Delta `count(*)` fast path).
    * Filtered → files wholly inside the predicate contribute their
    * recorded counts, provably-outside files contribute nothing, and
    * ONLY the boundary files scan, with the full compiled predicate
    * applied exactly ([[Planner.mergeBoundary]]).
    *
    * FOOTER count: an unfiltered, unpinned count whose read is a bare
    * parquet scan (a plain or hive-partitioned dir, through
    * [[Resolver.readPlain]]) sums the footer row counts of the files
    * that scan would read ([[footerCount]]) — zero Spark jobs below
    * the distributed-footer threshold. Everything else — a filter, a
    * `_version` pin, csv/json/orc, a read that is not a bare scan, an
    * unreadable footer — counts with the exact scan.
    */
  def count(spark: SparkSession, s: SourceSpec,
            failOnError: Boolean = true): Long = {
    val total = countMetadataPlan(spark, s).map { case (partials, bf, _) =>
      Planner.mergeBoundary(s.query, CountAll, partials, bf).head
        .asInstanceOf[Long]
    }.getOrElse {
      // the query rides along (r17, ADVICE): `_version`/`_version_ts`
      // pins resolve inside Resolver.read, so the exact fallback
      // counts the SAME snapshot the fast path would have — and the
      // prunable conjuncts steer envelope file skipping for free
      val raw = Resolver.read(spark, s.ref, failOnError = failOnError,
        query = s.query)
      val preds = QueryCompiler.compile(raw, s.query).predicates
      val pinned = s.query.exists(kv => kv._1 == "_version" || kv._1 == "_version_ts")
      (if (preds.isEmpty && !pinned) footerCount(spark, raw) else None)
        .getOrElse(preds.foldLeft(raw)(_ filter _).count())
    }
    s.query.collectFirst { case ("_limit", v) => v.trim.toInt }
      .fold(total)(l => math.min(l.toLong, total))
  }

  /** Exact row count of a BARE parquet scan — a parquet file relation
    * under at most projections, so no row is filtered or made — from
    * the footers of the files its own file index lists (hive
    * partitions, hidden files and `_SUCCESS` exactly as the scan sees
    * them), through [[graft.operators.Snapshot.footerRowCount]]. None
    * for any other plan or an unreadable footer.
    */
  private def footerCount(spark: SparkSession, df: DataFrame): Option[Long] =
    bareParquetScan(df).flatMap { r =>
      graft.operators.Snapshot.footerRowCount(spark,
        r.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen)))
    }

  /** The parquet file relation `df` reads when its plan is a BARE scan
    * — a parquet file relation under at most projections — else None.
    */
  private def bareParquetScan(df: DataFrame)
      : Option[org.apache.spark.sql.execution.datasources.HadoopFsRelation] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def scan(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(_, child) => scan(child)
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] => Some(r)
        case _ => None
      }
      case _ => None
    }
    scan(df.queryExecution.analyzed)
  }

  private val CountAll = Seq("count" -> "*")

  /** The metadata plan of `s`'s count, built on the maintenance TWIN
    * session (r18 ADVICE: a count is a query-path API, so it must
    * never mutate the caller's session confs the way `scoped` does; a
    * count's one exchange carries a single row per task, so the
    * twin's metadata-scale profile costs it nothing).
    */
  private def countMetadataPlan(spark: SparkSession, s: SourceSpec) =
    Planner.metadataInputs(spark, s).flatMap { case (p, atV, preds) =>
      graft.operators.Snapshot.metadataPlan(
        graft.operators.MaintProfile.sessionFor(spark), p, atV, preds, CountAll)
    }

  /** DRY-RUN provenance for a `_count` (r18, verdict #7): the covered
    * count plan's (covered, boundary, total, coveredRows) member
    * split WITHOUT running the boundary scan — what `--dry --count`
    * prints so a user sees "covered 58 files, scanning 2" before
    * paying for anything. None = the count would take the exact scan
    * path. Plan classification is driver-side metadata work; no Spark
    * job runs.
    */
  def countPlan(spark: SparkSession, s: SourceSpec)
      : Option[(Int, Int, Int, Long)] =
    countMetadataPlan(spark, s).map { case (partials, _, (c, b, t)) =>
      (c, b, t, partials.head.covered.get)
    }

  /** S11 preview: no target → first rows of the planned frame
    * (reference defaults `_limit:1`, etl_cli/base.py:640-644).
    */
  def preview(spark: SparkSession, job: JobSpec, n: Int = 1): Array[org.apache.spark.sql.Row] =
    Planner.plan(spark, job).limit(n).collect()

  /** O2 auto-parallelism heuristic retained from the reference
    * (`ceil(total/1000)` capped at 100, etl_cli/base.py:646-681) — used
    * only as a repartition hint when the caller asks for it; AQE
    * otherwise owns runtime parallelism.
    */
  def autoWorkers(total: Long): Int =
    math.min(100L, math.max(1L, (total + 999) / 1000)).toInt

  /** Read current target state; empty-but-typed frame if absent. */
  def targetState(spark: SparkSession, t: TargetSpec, like: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(Resolver.path(t.ref))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Resolver.read(spark, t.ref, failOnError = t.failOnError)
    else like.limit(0)
  }

  /** Execute one job: plan the read side, apply the write op against the
    * current target state, atomically rewrite the target. Appends a row
    * to the `<ns>/_logs` job-log dataset (W13) unless disabled.
    */
  def execute(spark: SparkSession, job: JobSpec, log: Boolean = true,
              progress: Option[String => Unit] = None,
              comment: Option[String] = None): RunResult =
    progress.fold(executeInner(spark, job, log, comment)) { report =>
      new Metrics(Some(report)).record(spark)(executeInner(spark, job, log, comment))
    }

  private def executeInner(spark: SparkSession, job: JobSpec, log: Boolean,
                           comment: Option[String] = None): RunResult =
    job.target match {
      case None => RunResult(job, Planner.plan(spark, job).count(), 0, 1)
      case Some(t) =>
        // ONE pass over the source→merge plan: the stamped batch is
        // materialized into a STAGING parquet dir next to the target,
        // then read back. This (a) makes the bookkeeping count a
        // metadata read, not a second full computation; (b) makes
        // self-update jobs safe — the staged copy is independent of
        // the target files the swap will replace; (c) survives
        // executor loss, unlike localCheckpoint, whose blocks pin
        // executor block-manager storage and die with the executor —
        // at 100 TB the durable staging write is the only reliable
        // materialization point. (An observe() metric can't do this
        // bookkeeping: upsert/index reference the batch subtree twice
        // in one plan, which double-fires the CollectMetrics node.)
        //
        // The same holds INSIDE the plan: the input of every barrier
        // transformer (Transformers.isBarrier — dedup_keep_best's pair
        // mining, expect's count, a k-means fit) is staged the same
        // way by [[stageBarrier]], so the barrier's own jobs and the
        // frame it returns both read one durable copy and the chain
        // upstream of it runs once. The sweep runs before planning,
        // and each barrier stage dir is recorded before it is written,
        // so the `finally` deletes every one of them.
        val tgtPath = Resolver.path(t.ref)
        val tgt = new org.apache.hadoop.fs.Path(tgtPath)
        val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def stageDir() = new org.apache.hadoop.fs.Path(
          tgtPath + "._stage_" + java.util.UUID.randomUUID())
        val stagePath = stageDir()
        val stages = scala.collection.mutable.ArrayBuffer(stagePath)
        // sweep stale staging/temp dirs a crashed prior run left next
        // to the target (single-writer model: anything matching is
        // dead weight — at scale each orphan is a full batch copy)
        sweepStale(fs, tgtPath)
        try {
          val planned = Planner.plan(spark, job, barrier = df =>
            stageBarrier(spark, df, { val d = stageDir(); stages += d; d }))
          (if (t.skipTimestamp) planned
           else planned.withColumn("_etl_ts", current_timestamp()))
            .write.parquet(stagePath.toString)
          // schema from the stage's own footer, not an inference job
          val batch = Resolver.readPlain(spark, stagePath.toString)
          // `written` = rows processed from the source batch this run —
          // NOT the post-op target total (an upsert of 10 rows into a
          // 1M table writes 10, and loop/fan-out sums must not
          // re-count the whole table each iteration). r19: the count
          // comes straight from the staged files' parquet footers —
          // driver-side, zero jobs, page-warm (the write just produced
          // them); bit-identical to the count job it replaces, which
          // remains the fallback for an unreadable footer.
          val written = footerCount(spark, batch).getOrElse(batch.count())
          // Keyed writes into an existing parquet target take the
          // FILE-PRUNED merge when footer envelopes allow it — only
          // pk-intersecting files are rewritten (at 100 TB a small
          // upsert must not rewrite the table). Partitioned targets
          // compose partition-dir point envelopes with footer
          // envelopes inside them; when the pruned path declines,
          // partitioned targets take the partition-scoped path and
          // everything else falls back to the atomic full rewrite.
          // `--dv` delete: commit pk TOMBSTONES into the snapshot
          // layout — O(batch) bytes, zero data files touched
          // (merge-on-read). Loud on a non-snapshot layout: silently
          // falling back to a table rewrite would betray the flag's
          // whole point.
          require(!t.deleteVectors || t.op == graft.spec.WriteOp.Delete ||
              t.op == graft.spec.WriteOp.Upsert,
            s"--dv applies to -o delete and -o upsert only (got op " +
              s"${t.op}); dropping it silently would betray the flag")
          // `-o upsert --dv` (r12): APPEND-SHAPED upsert — commit the
          // batch file plus a tombstone of its own pks at one seq
          // (Snapshot.upsertAppend). O(batch) bytes, zero data files
          // read or rewritten, at any table size; reads pay the
          // anti-join until compaction folds the debt.
          val dvUpsert = t.op == graft.spec.WriteOp.Upsert && t.deleteVectors
          if (dvUpsert) {
            require(graft.operators.Snapshot.isSnapshotLayout(
              fs, tgt),
              s"--dv needs a snapshot layout at $tgtPath (write it with " +
                "--commit snapshot first)")
            require(t.pk.nonEmpty, "--dv upsert needs --pk")
            require(t.query.isEmpty && t.fields.isEmpty && t.tmap.isEmpty,
              "--dv upsert is a blind replace-by-pk append — --tq/--tf/" +
                "--tmap need the rewriting merge (drop --dv)")
            // the append asserts TABLE-schema rows and refuses
            // widening — the engine's OWN `_etl_ts` stamp must not
            // force one on a table that never carried the column. A
            // user-provided `_etl_ts` is data and is never dropped.
            val tblCols = graft.operators.Snapshot.manifestAt(fs,
              graft.operators.Snapshot.resolveVersion(fs, tgt, None)._2)
              .map(_.schema.fieldNames.toSet).getOrElse(Set.empty[String])
            val stampedByUs =
              !t.skipTimestamp && !planned.columns.contains("_etl_ts")
            val aligned =
              if (stampedByUs && !tblCols.contains("_etl_ts"))
                batch.drop("_etl_ts")
              else batch
            graft.operators.Snapshot.upsertAppend(spark, tgtPath, aligned,
              t.pk, t.indexBy, t.maxRecordsPerFile, t.keepVersions)
          }
          val dv = t.op == graft.spec.WriteOp.Delete && t.deleteVectors
          if (dv) {
            require(graft.operators.Snapshot.isSnapshotLayout(
              fs, tgt),
              s"--dv needs a snapshot layout at $tgtPath (write it with " +
                "--commit snapshot first)")
            if (t.query.nonEmpty) {
              // PREDICATE tombstone (r12): the --tq compiles to ONE
              // ANSI predicate committed as an equality/range-delete
              // analog — the GDPR/retention shape needs NO scan to
              // materialize matching pks and touches ZERO data files.
              // With --pk too, delete's contract is pk∈batch AND tq:
              // the batch's keys inline into the predicate (bounded —
              // a predicate is metadata, not a data structure).
              import org.apache.spark.sql.functions.{col, expr, lit}
              val head = graft.operators.Snapshot.readAt(spark, tgtPath)
              val tqSql = graft.dsl.QueryCompiler.predicateSql(head, t.query)
              val predSql =
                if (t.pk.isEmpty) Some(tqSql)
                else {
                  val keys = batch
                    .select(t.pk.map(col): _*).distinct().limit(10001).collect()
                  require(keys.length <= 10000,
                    "--dv delete with BOTH --pk and --tq inlines the batch " +
                      "keys into the predicate tombstone — bounded at 10k " +
                      "distinct keys; drop --tq (key tombstones scale) or " +
                      "pre-filter the batch")
                  if (keys.isEmpty) None // empty batch deletes nothing
                  else {
                    val keyCond = keys.toIndexedSeq.map(r =>
                      t.pk.zipWithIndex.map { case (c, i) =>
                        col(c) <=> lit(r.get(i)) }.reduce(_ && _)).reduce(_ || _)
                    Some(graft.dsl.QueryCompiler.columnSql(head,
                      keyCond && expr(tqSql)))
                  }
                }
              predSql match {
                case Some(p) => graft.operators.Snapshot.deleteByPredicate(
                  spark, tgtPath, p, t.keepVersions)
                case None => System.err.println(
                  "[graft] --dv delete: empty batch, nothing to tombstone")
              }
            } else {
              require(t.pk.nonEmpty, "--dv delete needs --pk or --tq")
              graft.operators.Snapshot.deleteByKeys(spark, tgtPath,
                batch.select(t.pk.map(org.apache.spark.sql.functions.col): _*),
                t.keepVersions)
            }
          }
          // OPTIMISTIC retry (r11): a concurrent writer can win the
          // snapshot commit race (Snapshot.CommitConflictException —
          // precise: the same files were rewritten under us). The
          // complete recovery is to RE-PLAN against the new head:
          // fresh target read, fresh footer envelopes, fresh merge.
          // Bounded attempts; a persistent conflict propagates loudly
          // rather than spinning against a hot writer.
          def mergeOnce(): Boolean =
            fs.exists(tgt) &&
              PrunedMerge.merge(spark, targetState(spark, t, batch), batch,
                t, tgtPath).isDefined
          def mergeWithRetry(): Boolean = {
            var attempt = 1
            while (true) {
              try return mergeOnce()
              catch {
                case c: graft.operators.Snapshot.CommitConflictException =>
                  if (attempt >= 3) throw c
                  System.err.println(
                    s"[graft] commit conflict (attempt $attempt) — " +
                      s"re-planning against the new head: ${c.getMessage}")
                  attempt += 1
              }
            }
            false // unreachable
          }
          val pruned = dv || dvUpsert || mergeWithRetry()
          // CREATE PROMOTE: a plain create into an absent target would
          // rewrite the staged batch unchanged (the op is a union with
          // the empty target state), so the stage itself is moved into
          // place through the rename commit's swap — the output is
          // written once. Any pk, layout option, projection or mapping,
          // another backend or commit protocol, or an existing target
          // takes the rewrite below.
          if (!pruned && promotable(t, fs, tgt))
            WriteOps.renameSwap(fs, stagePath, tgt)
          else if (!pruned) {
            // fresh read — a conflicted merge attempt above proves the
            // head can move under us; the full rewrite must apply the
            // op to the CURRENT state
            val current = targetState(spark, t, batch)
            val newState = WriteOps.applyOp(current, batch, t)
            // No checkpoint of newState: atomicOverwrite materializes it
            // into the temp dir BEFORE swapping, so the current target
            // files are still in place while they are being read.
            val scoped = WriteOps.partitionScopedRewrite(
              spark, newState, current, batch, t, tgtPath)
            if (!scoped)
              WriteOps.atomicOverwrite(spark, newState, tgtPath,
                t.partitionBy, t.maxRecordsPerFile, t.ref.backend, t.indexBy,
                t.commitMode, t.keepVersions)
          }
          // Logging runs AFTER the target write committed, and its
          // inputs are user-controlled (--log field names, --log_ds
          // namespace): a bad field or unwritable namespace must
          // degrade to a stderr notice, never fail the committed run.
          if (log) try jobLog(spark, job, written, comment)
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft] job log skipped: ${e.getMessage}")
          }
          RunResult(job, written, written, 1)
        } finally {
          stages.foreach(d => try fs.delete(d, true) catch { case _: Throwable => () })
        }
    }

  /** The Runner's barrier hook ([[Planner.plan]]): write `df` to the
    * fresh stage dir `dir()` and read it back from its footer
    * ([[Resolver.readPlain]]). Returned as is, for the lazy plan to
    * evaluate as before: a frame that only selects or renames columns
    * of a parquet scan (a copy would only re-read the same values; a
    * computed column is staged), one parquet cannot
    * hold (a type or field name it does not support, or a duplicate
    * column name), and one whose plan holds a global sort — a file
    * scan does not keep row order, and a stage after the barrier
    * (`limit`, the target's file order) may depend on it.
    */
  private def stageBarrier(spark: SparkSession, df: DataFrame,
                           dir: => org.apache.hadoop.fs.Path): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val pq = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val fields = df.schema.fields
    val stageable = fields.forall(f => pq.supportDataType(f.dataType) &&
        pq.supportFieldName(f.name)) &&
      fields.map(_.name.toLowerCase).distinct.length == fields.length
    val sorted = df.queryExecution.analyzed.exists {
      case s: Sort => s.global
      case _ => false
    }
    val columnsOfScan = bareParquetScan(df).isDefined &&
      df.queryExecution.analyzed.collect { case p: Project => p.projectList }
        .flatten.forall {
          case _: Attribute | Alias(_: Attribute, _) => true
          case _ => false
        }
    if (!stageable || sorted || columnsOfScan) df
    else {
      val d = dir.toString
      df.write.parquet(d)
      Resolver.readPlain(spark, d)
    }
  }

  /** Whether a write of the staged batch may promote the stage to the
    * target (see executeInner): a plain `create` — no pk, no
    * `skipBy` — of a parquet target that does not exist, committed by
    * the `rename` protocol, with no partitioning, index layout, file
    * size cap, `--tf` projection or `--tmap` mapping.
    */
  private def promotable(t: TargetSpec, fs: org.apache.hadoop.fs.FileSystem,
                         tgt: org.apache.hadoop.fs.Path): Boolean =
    t.op == graft.spec.WriteOp.Create && t.pk.isEmpty && t.skipBy.isEmpty &&
      t.ref.backend == "parquet" && t.partitionBy.isEmpty &&
      t.indexBy.isEmpty && t.maxRecordsPerFile == 0 && t.fields.isEmpty &&
      t.tmap.isEmpty &&
      WriteOps.effectiveCommitMode(Option(tgt.toUri.getScheme),
        layoutVersioned = false, t.commitMode) == "rename" &&
      !fs.exists(tgt)

  /** Delete `._stage_*` / `._tmp_*` siblings a crashed run stranded
    * next to the target (each holds a full batch/rewrite copy).
    * AGE-GATED (r12): a young sibling can belong to a LIVE concurrent
    * job on the same target — the unconditional sweep raced the
    * concurrency suite and deleted another writer's staging dir
    * mid-write. Only siblings past the grace window (far beyond any
    * live staging write) are crash leftovers.
    */
  private val StageGraceMs = 15 * 60 * 1000L

  private def sweepStale(fs: org.apache.hadoop.fs.FileSystem,
                         tgtPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tgtPath)
    val parent = p.getParent
    val name = p.getName
    try fs.listStatus(parent).foreach { s =>
      val n = s.getPath.getName
      if ((n.startsWith(name + "._stage_") || n.startsWith(name + "._tmp_") ||
        n.startsWith(name + "._merge_tmp_")) &&
        System.currentTimeMillis() - s.getModificationTime > StageGraceMs)
        try fs.delete(s.getPath, true) catch { case _: Throwable => () }
    } catch { case _: Throwable => () } // sweep is best-effort
  }

  /** W13: append a job-metrics record to `<target ns>/_logs.parquet`
    * (reference: log dataset `logs.<target-slug>`, etl_cli/base.py:260-265).
    */
  private def jobLog(spark: SparkSession, job: JobSpec, written: Long,
                     comment: Option[String] = None): Unit = {
    import spark.implicits._
    val t = job.target.get
    val full = Seq((java.util.UUID.randomUUID().toString,
      job.source.ref.uri, t.ref.uri, t.op.name, written,
      comment.getOrElse(""), // --msg (reference `comment`, base.py:273)
      job.cron.getOrElse(""), // O5 --cron passthrough (base.py:134,276)
      new java.sql.Timestamp(System.currentTimeMillis())))
      .toDF("uid", "source", "target", "op", "written", "msg", "cron", "ts")
    // --log FIELDS projection (reference log_fields, base.py:122,262-265);
    // same `-exclusion` grammar as --tf. `uid` always survives — it is
    // the jobStatus dedup key (compaction-crash recovery relies on it).
    val row =
      if (job.logFields.isEmpty) full
      else {
        val keep = QueryCompiler.project(full, job.logFields).columns
        val cols = if (keep.contains("uid")) keep else keep :+ "uid"
        full.select(cols.map(col).toIndexedSeq: _*)
      }
    // --pretty (base.py:251-252): echo the record as pretty JSON
    if (job.logPretty) row.toJSON.collect().foreach(println)
    // --log_ds (base.py:143, etl.py:193-195): override the namespace
    // the `_logs` dataset lives under; default is the target's ns
    val logNs = job.logDs.getOrElse(t.ref.ns)
    val logPath = (if (logNs.isEmpty) "" else logNs + "/") + "_logs.parquet"
    row.coalesce(1).write.mode("append").parquet(logPath)
    // Opportunistic compaction: appending one file per job grows a
    // busy _logs dataset into a small-files swamp; past 64 parts, fold
    // them. Concurrent-writer safe by construction: only the files in
    // THIS listing are folded (append) and then deleted one by one — a
    // row appended by another process meanwhile is not in the listing
    // and survives. A crash between the append and the deletes leaves
    // duplicate rows, which jobStatus dedupes by uid (duplicates are
    // recoverable; lost rows are not).
    val p = new org.apache.hadoop.fs.Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      try fs.listStatus(p).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    if (parts.size > 64) try {
      // mergeSchema: older log files may predate newer columns (e.g.
      // `cron`); sampling one old footer would silently drop them from
      // the fold and erase the values for good
      spark.read.option("mergeSchema", "true")
        .parquet(parts.map(_.toString): _*)
        .coalesce(1).write.mode("append").parquet(logPath)
      parts.foreach(f => try fs.delete(f, false) catch { case _: Throwable => () })
    } catch {
      // compaction is OPPORTUNISTIC: losing a race with a concurrent
      // compactor/reader must never fail a job whose target write
      // already committed — the next job simply retries the fold
      case e: Throwable =>
        System.err.println(s"[graft] log compaction skipped: ${e.getMessage}")
    }
  }

  /** S7/S8 wildcard fan-out: expand `prefix*` sources, derive per-source
    * targets (`*` segments copy from the source,
    * `build_target_from_source`, etl_cli/etl.py:300-312), run each.
    */
  def runWildcard(spark: SparkSession, job: JobSpec,
                  comment: Option[String] = None): Seq[RunResult] =
    Resolver.expandWildcard(spark, job.source.ref).map { srcRef =>
      val tgt = job.target.map { t =>
        t.copy(ref = t.ref.copy(
          ns = if (t.ref.ns == "*") srcRef.ns else t.ref.ns,
          name = if (t.ref.name == "*") srcRef.name.stripSuffix(".csv") else t.ref.name))
      }
      execute(spark, job.copy(source = job.source.copy(ref = srcRef), target = tgt),
        comment = comment)
    }

  /** O4 continuation / J11 self-update fixpoint loop: re-run the job
    * until the filtered source count is 0 or unchanged twice (reference
    * termination rule, etl_cli/etl.py:331-334).
    *
    * The reference excludes already-processed records via a server-side
    * job log (`-q logs.job.contid__ne=<uid>`, etl_cli/etl.py:326-339);
    * our equivalent for self-update jobs (source == target,
    * `detect_self_updates`, etl_cli/etl.py:281-295) is a `_contid` mark
    * column stamped on every written batch and anti-filtered
    * (null-safe `__nsne`) on the next read. Each iteration's write
    * checkpoints before the rewrite, breaking lineage (SURVEY §7.4.4).
    */
  def runLoop(spark: SparkSession, job: JobSpec, maxIter: Int = 100): RunResult = {
    val selfUpdate = job.target.exists(_.ref == job.source.ref)
    // Only self-update jobs have an exclusion mark (_contid) to make
    // re-execution converge; for any other job a second pass would
    // reprocess the identical source (duplicating appends), so the
    // "loop" is a single run. (The reference excluded processed records
    // via its server-side job log, etl_cli/etl.py:326-339 — state we do
    // not have outside the self-update case.)
    if (!selfUpdate) {
      val r = execute(spark, job)
      return r.copy(iterations = 1)
    }
    val uid = job.contid.getOrElse(java.util.UUID.randomUUID().toString)
    var last = -1L; var unchanged = 0; var iters = 0; var written = 0L
    var done = false
    // sticky mark probe (r18, narrowed r19 per ADVICE): once the
    // _contid column has been SEEN in the target's schema it can only
    // persist (the loop's own writes keep stamping it), so the
    // per-iteration schema read stops after the first sighting. The
    // r18 version also set the flag right after our own write — but a
    // `_fields` projection or frame-replacing transform stage can drop
    // the stamp from the written frame, and filtering `_contid__nsne`
    // against a markless table throws. Read-side stickiness keeps the
    // win (≤1 schema read per iteration until seen, then zero) without
    // assuming anything about what the write persisted.
    var marked = false
    while (!done && iters < maxIter) {
      val hasMark = selfUpdate && (marked || {
        marked = Resolver.read(spark, job.source.ref)
          .columns.contains("_contid")
        marked
      })
      val contFilter: Seq[(String, String)] =
        if (hasMark) Seq("_contid__nsne" -> uid) else Nil
      val stamp: Seq[TransformStage] =
        if (selfUpdate) Seq(TransformStage("set", Seq("_contid", uid))) else Nil
      val effJob = job.copy(source = job.source.copy(
        query = job.source.query ++ contFilter,
        postRead = job.source.postRead ++ stamp))
      val n = count(spark, effJob.source, job.effectiveFailOnError)
      if (n == 0) done = true
      else {
        if (n == last) unchanged += 1 else unchanged = 0
        last = n
        if (unchanged >= 2) done = true
        else {
          written += execute(spark, effJob, log = false).written
          iters += 1
        }
      }
    }
    RunResult(job, math.max(last, 0), written, iters)
  }

  /** O3/§3.3: query the job log with the engine's own query DSL
    * (dogfooding — reference: `get_job_status`, etl_cli/base.py:349-364;
    * `uid='last'` means the most recent job, base.py:353-354).
    */
  def jobStatus(spark: SparkSession, ns: String,
                query: Seq[(String, String)] = Nil): DataFrame = {
    // dropDuplicates(uid): a compaction that crashed between its
    // append and its deletes leaves benign duplicate rows.
    // mergeSchema: files may predate newer log columns (e.g. `cron`).
    val logs = spark.read.option("mergeSchema", "true")
      .parquet((if (ns.isEmpty) "" else ns + "/") + "_logs.parquet")
      .dropDuplicates("uid")
    val q =
      if (query.exists(p => p._1 == "uid" && p._2 == "last"))
        query.filterNot(_._1 == "uid") ++ Seq("_sort" -> "-ts", "_limit" -> "1")
      else query
    QueryCompiler.apply(logs, q)
  }

  /** O12 settings fetch (reference: `get_etl_setting`,
    * etl_cli/base.py:563-566 — GET /settings/<name>?_flat=name →
    * data[name]). Engine analog: the `_settings` dataset in `ns` holds
    * config records; the value is extracted with the engine's own
    * flatten + projection (dogfooding the `_flat` DSL — dotted setting
    * names reach nested struct fields).
    */
  def etlSetting(spark: SparkSession, ns: String, name: String): Option[Any] = {
    val df = Resolver.read(spark, graft.spec.DatasetRef("parquet", ns, "_settings"))
    val flat = graft.functions.StructUtils.flatten(df)
    val flatName = name.replace('.', '_') // flatten() joins paths with '_'
    if (!flat.columns.contains(flatName)) return None
    flat.select(flatName).limit(1).collect().headOption.flatMap(r => Option(r.get(0)))
  }

  /** §2.7 diff: symmetric difference of two datasets keyed by pk, with
    * `context` selecting reported columns (reference declares --diff /
    * --diff-context but never wired them, etl_cli/etl.py:55-56 — we
    * implement the documented intent).
    */
  def diff(a: DataFrame, b: DataFrame, context: Seq[String] = Nil): DataFrame = {
    val missing = context.filterNot(c =>
      a.columns.contains(c) && b.columns.contains(c))
    require(missing.isEmpty,
      s"--diff-context columns missing from one side: ${missing.mkString(", ")}")
    if (context.isEmpty)
      require(a.columns.toSeq == b.columns.toSeq,
        s"--diff needs matching schemas (or --diff-context): " +
          s"[${a.columns.mkString(",")}] vs [${b.columns.mkString(",")}]")
    val cols: DataFrame => DataFrame = df =>
      if (context.nonEmpty) df.select(context.map(col).toIndexedSeq: _*) else df
    cols(a).exceptAll(cols(b)).withColumn("_side", lit("a"))
      .unionByName(cols(b).exceptAll(cols(a)).withColumn("_side", lit("b")))
  }
}
