package graft.cli

import graft.engine.Runner
import graft.sources.Resolver
import graft.spec._
import org.apache.spark.sql.SparkSession

/** CLI front-end over the JobSpec API — the engine-side equivalent of
  * the reference's `etl.etl` console script (etl_cli/setup.py:24; flags
  * of etl_cli/etl.py:27-75 and etl_cli/base.py:110-146). Parsing is a
  * thin layer: every flag compiles into the same `JobSpec` a library
  * caller would build (SURVEY §3.2), then the Runner executes it.
  *
  * Behaviors preserved from the reference:
  *   - no target → preview the filtered source (base.py:640-644)
  *   - `--dry` → print the plan, no writes (base.py:241-246)
  *   - `-o op:pk` fuses op and key (etl.py:203-206)
  *   - `--st` source=target shorthand (etl.py:88-98)
  *   - wildcard source fan-out (etl.py:364-377)
  *   - env-var flag defaults `GRAFT__<FLAG>` (O7, base.py:158-185)
  */
object Main {

  final case class CliError(msg: String) extends RuntimeException(msg)

  def main(rawArgs: Array[String]): Unit = {
    val exit = try { run(rawArgs); 0 } catch {
      case CliError(msg) => System.err.println(s"error: $msg"); 2
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}"); 2
    }
    if (exit != 0) sys.exit(exit)
  }

  def run(rawArgs: Array[String]): Unit = {
    if (rawArgs.isEmpty || rawArgs.contains("--help") || rawArgs.contains("-h")) {
      println(usage); return
    }
    val (job, opts) = parse(rawArgs)
    val spark = session(opts)
    try execute(spark, job, opts) finally spark.stop()
  }

  final case class Opts(
      drop: Boolean = false, dry: Boolean = false, count: Boolean = false,
      stream: Boolean = false,
      rollup: Option[(Seq[String], Seq[String])] = None, // --stream --rollup keys;aggs

      jobPoll: Option[String] = None, jq: Seq[(String, String)] = Nil,
      silent: Boolean = false,
      noCount: Boolean = false, info: Option[String] = None,
      diff: Option[String] = None, diffContext: Seq[String] = Nil,
      msg: Option[String] = None,
      lsflat: Option[String] = None, dropNs: Option[String] = None,
      showArgs: Boolean = false, jobRun: Boolean = false,
      logLevel: Option[String] = None,
      profile: Boolean = false, // O11: wall clock + job ledger after the run
      compact: Option[Long] = None, // [EXT] small-file compaction size
      foldDeletesAbove: Double = 0.2, // [EXT] compaction DV debt ceiling
      history: Boolean = false, // [EXT] snapshot/versioned history listing
      vacuum: Option[Int] = None, // [EXT] trim retention to N generations
      vacuumFull: Boolean = false, // [EXT] --full: O(pool) audit listing
      fsck: Boolean = false, // [EXT] snapshot-layout integrity audit
      zorder: Seq[String] = Nil, // [EXT] Z-order maintenance columns
      materializeDeletes: Boolean = false, // [EXT] fold deletion vectors in
      renameColumn: Option[(String, String)] = None, // [EXT] metadata-only rename
      dropColumn: Option[String] = None, // [EXT] metadata-only drop
      widenColumn: Option[(String, String)] = None, // [EXT] metadata-only type widen
      autoMaintain: Boolean = false, // [EXT] debt-triggered post-write compaction
      changelog: Option[(Long, Long)] = None, // [EXT] CDC diff from:to
      changelogPk: Seq[String] = Nil, // [EXT] row identity for --changelog
      cpus: Int = graft.GraftSession.envCpus)

  /** Env-var default for a flag (reference: MODULE__FLAG, base.py:158-185). */
  private def envDefault(flag: String): Option[String] =
    sys.env.get("GRAFT__" + flag.dropWhile(_ == '-').toUpperCase.replace('-', '_'))

  /** Reference `Args.asbool` truthiness (base.py): 1/true/yes/on vs
    * 0/false/no/off, case-insensitive. */
  private def asBool(v: String): Boolean = v.trim.toLowerCase match {
    case "1" | "true" | "yes" | "on" | "y" => true
    case "0" | "false" | "no" | "off" | "n" => false
    case other => throw CliError(s"expected a boolean, got: $other")
  }

  def parse(rawArgs: Array[String]): (JobSpec, Opts) = {
    var source: Option[String] = None
    var target: Option[String] = None
    var merger: Option[String] = None
    var q = Vector.empty[(String, String)]
    var mq = Vector.empty[(String, String)]
    var tq = Vector.empty[(String, String)]
    var str = ""; var mtr = ""; var mtrPost = ""
    var op: Option[String] = None; var pk = ""; var tf = ""
    var overwrite = ""; var skipBy = ""
    var mkeys = ""; var mmd: Option[String] = None; var mma: Option[String] = None
    var mrm = false; var mrnm = false; var munwind = false; var mstrict = false
    var mmo = true
    var mrules = ""; var mrulesScm = ""
    var skipTs = false; var dry = false; var drop = false; var count = false
    var stream = false; var silent = false
    var rollup: Option[(Seq[String], Seq[String])] = None
    var partitionBy = ""; var maxRecords = 0L; var commitMode = "rename"
    var compactSize: Option[Long] = None
    var foldDeletesAbove = 0.2
    var keepVersions = 2; var history = false
    var deleteVectors = false; var materializeDeletes = false
    var renameColumn: Option[(String, String)] = None
    var dropColumn: Option[String] = None
    var widenColumn: Option[(String, String)] = None
    var autoMaintain = false
    var changelog: Option[(Long, Long)] = None
    var vacuumN: Option[Int] = None; var vacuumFull = false; var fsck = false
    var zorderCols: Seq[String] = Nil
    var indexBy = Vector.empty[String]; var skipIndex = false
    var failOnError = envDefault("--fail-on-error").forall(asBool)
    var jobPoll: Option[String] = None; var jq = Vector.empty[(String, String)]
    var workers: Option[Int] = None; var contid: Option[String] = None
    var cron: Option[String] = None
    var noCount = false; var info: Option[String] = None
    var diff: Option[String] = None; var diffContext = ""
    var msg: Option[String] = None
    var lsflat: Option[String] = None; var dropNs: Option[String] = None
    var surl: Option[String] = None; var murl: Option[String] = None
    var nsDefault = ""; var tmap = ""
    var stra = Vector.empty[String]; var mtra = Vector.empty[String]
    var showArgs = false; var jobRun = false
    var logLevel: Option[String] = None; var extraArgs = Vector.empty[String]
    var logFields: Option[String] = None; var logDs: Option[String] = None
    var pretty = false; var dev = false; var profile = false

    def kv(v: String): (String, String) = v.split("=", 2) match {
      case Array(k, value) => (k, value)
      case _ => throw CliError(s"expected key=value, got: $v")
    }
    val it = rawArgs.iterator
    def next(flag: String): String =
      if (it.hasNext) it.next() else throw CliError(s"$flag requires a value")
    // O8 write-once args (reference Args guard, base.py:41-72): a
    // single-value flag set twice — including through the --st/--mt/
    // --smt shorthands sharing a slot — is an error, not a silent
    // clobber. Repeatable query flags and the reference's MUTABLE_OPS
    // (fail_on_error, silent; base.py:76-84) are exempt, as are
    // idempotent boolean switches.
    val seen = scala.collection.mutable.Set.empty[String]
    def once(slot: String): Unit =
      if (!seen.add(slot))
        throw CliError(s"`$slot` is already set (args are write-once)")
    while (it.hasNext) it.next() match {
      case "-s" | "--source" => once("source"); source = Some(next("-s"))
      case "-t" | "--target" => once("target"); target = Some(next("-t"))
      case "-m" | "--merger" => once("merger"); merger = Some(next("-m"))
      case "--st"  => once("source"); once("target")
        val d = next("--st"); source = Some(d); target = Some(d)
      case "--mt"  => once("merger"); once("target")
        val d = next("--mt"); merger = Some(d); target = Some(d)
      case "--smt" => once("source"); once("merger"); once("target")
        val d = next("--smt"); source = Some(d); merger = Some(d); target = Some(d)
      case "-q" | "--query" => q :+= kv(next("-q"))
      case "--mq" => mq :+= kv(next("--mq"))
      case "--tq" => tq :+= kv(next("--tq"))
      case "--str" => once("--str"); str = next("--str")
      case "--mtr" => once("--mtr"); mtr = next("--mtr")
      case "--mtr-post-merge" => once("--mtr-post-merge"); mtrPost = next("--mtr-post-merge")
      case "-o" | "--op" => once("op"); op = Some(next("-o"))
      case "--pk" => once("--pk"); pk = next("--pk")
      case "--tf" => once("--tf"); tf = next("--tf")
      case "--overwrite" => once("--overwrite"); overwrite = next("--overwrite")
      case "--skip_by" | "--skip-by" => once("--skip_by"); skipBy = next("--skip_by")
      case "--skip-timestamp" => skipTs = true
      case "--mkeys" => once("--mkeys"); mkeys = next("--mkeys")
      case "--mmd" => once("--mmd"); mmd = Some(next("--mmd"))
      case "--mma" => once("--mma"); mma = Some(next("--mma"))
      case "--mrm" => mrm = true
      case "--mrnm" => mrnm = true
      case "--mmo" => mmo = true
      case "--munwind" => munwind = true; mmo = false
      case "--mstrict" => mstrict = true
      // J9 named merge rule + column scope (etl.py:51-52,178-180)
      case "--mrules" => once("--mrules"); mrules = next("--mrules")
      case "--mrules-scm" => once("--mrules-scm"); mrulesScm = next("--mrules-scm")
      case "--workers" => once("--workers"); workers = Some(next("--workers").toInt)
      case "--contid" => once("--contid"); contid = Some(next("--contid"))
      // O5 cron passthrough (reference base.py:134,276): the expression
      // is recorded in the job spec/log for an external scheduler —
      // neither the reference nor this engine runs a timer.
      case "--cron" => once("--cron"); cron = Some(next("--cron"))
      case "--dry" => dry = true
      case "--drop" => drop = true
      case "-y" | "--silent" => silent = true // MUTABLE_OPS: silent
      case "--count" => count = true
      case "--no-count" => noCount = true
      case "--info" => once("--info"); info = Some(next("--info"))
      case "--msg" => once("--msg"); msg = Some(next("--msg"))
      // §2.7 diff (reference declares --diff/--diff-context but never
      // wired them, etl.py:55-56 — we implement the documented intent)
      case "--diff" => once("--diff"); diff = Some(next("--diff"))
      case "--diff-context" => once("--diff-context"); diffContext = next("--diff-context")
      case "--stream" => stream = true
      // [EXT] --stream --rollup "k1,k2;agg;agg…" — maintain the target
      // as a snapshot-committed incremental ROLLUP STATE table instead
      // of appending rows (foreachBatch → RollupOps.maintainPruned)
      case "--rollup" => once("--rollup")
        val parts = next("--rollup").split(";").map(_.trim).filter(_.nonEmpty)
        if (parts.length < 2)
          throw CliError("--rollup expects keys;agg[;agg…] (e.g. k1,k2;count;sum:v)")
        rollup = Some((parts.head.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          parts.tail.toSeq))
      // O6 (reference --mongo-index/--skip-index, base.py:138-139;
      // MUTABLE_OPS: mongo_index — repeatable). Engine analog: lay the
      // target files out range-partitioned + sorted on the index keys.
      case "--mongo-index" | "--index-by" => indexBy :+= next("--mongo-index")
      case "--skip-index" => skipIndex = true
      case "--partition-by" => once("--partition-by"); partitionBy = next("--partition-by")
      // [EXT] commit protocol: rename swap (HDFS/local-atomic) vs
      // versioned marker commit (object-store-atomic, keeps one
      // prior generation for in-flight readers)
      case "--commit" => once("--commit")
        commitMode = next("--commit") match {
          case m @ ("rename" | "versioned" | "snapshot") => m
          case other =>
            throw CliError(s"--commit must be rename|versioned|snapshot, got: $other")
        }
      // [EXT] delete op writes pk TOMBSTONES (deletion vectors) into
      // the snapshot layout instead of rewriting files — merge-on-read
      case "--dv" => once("--dv"); deleteVectors = true
      // [EXT] fold accumulated deletion vectors into the data files
      // (fresh snapshot version, tombstones cleared)
      case "--materialize-deletes" => once("--materialize-deletes")
        materializeDeletes = true
      // [EXT] metadata-only column rename (snapshot layouts): OLD:NEW
      case "--rename-column" => once("--rename-column")
        renameColumn = next("--rename-column").split(":", 2) match {
          case Array(o, n) if o.nonEmpty && n.nonEmpty => Some((o, n))
          case _ => throw CliError("--rename-column needs OLD:NEW")
        }
      // [EXT] metadata-only column drop (snapshot layouts)
      case "--drop-column" => once("--drop-column")
        dropColumn = Some(next("--drop-column")).filter(_.nonEmpty)
        if (dropColumn.isEmpty) throw CliError("--drop-column needs NAME")
      // [EXT] debt-triggered auto-maintenance after the write: when the
      // new head's debt (tombstone bytes, sequence classes, small
      // files) crosses a ceiling, compaction runs and stamps a
      // #note= audit line into its commit (see --history)
      case "--auto-maintain" => autoMaintain = true
      // [EXT] metadata-only lossless type widening: NAME:SQLTYPE
      case "--widen-column" => once("--widen-column")
        widenColumn = next("--widen-column").split(":", 2) match {
          case Array(c, t) if c.nonEmpty && t.nonEmpty => Some((c, t))
          case _ => throw CliError("--widen-column needs NAME:TYPE (e.g. qty:bigint)")
        }
      // [EXT] compaction's merge-on-read debt ceiling: when tombstone
      // bytes exceed this fraction of data bytes, --compact widens to
      // a full fold and drops the DV set (0 = always, 1+ = never)
      case "--fold-deletes-above" => once("--fold-deletes-above")
        val raw = next("--fold-deletes-above")
        foldDeletesAbove =
          try { val v = raw.toDouble; require(v >= 0); v }
          catch { case _: Throwable =>
            throw CliError(s"--fold-deletes-above needs a fraction >= 0, got $raw") }
      // [EXT] committed generations the snapshot/versioned protocols
      // retain — the time-travel depth (and the refcount-vacuum bound)
      case "--keep-versions" => once("--keep-versions")
        keepVersions = next("--keep-versions").toInt
        if (keepVersions < 1)
          throw CliError(s"--keep-versions must be >= 1, got: $keepVersions")
      // [EXT] pin the SOURCE scan to a retained committed version
      // (snapshot time travel); sugar for -q _version=N
      case "--at-version" => once("--at-version")
        q :+= ("_version" -> next("--at-version").toLong.toString)
      // [EXT] pin the SOURCE scan to the latest version committed at
      // or before an instant (Delta timestampAsOf); sugar for
      // -q _version_ts=TS (epoch millis | yyyy-MM-dd | local datetime)
      case "--at-timestamp" => once("--at-timestamp")
        q :+= ("_version_ts" -> next("--at-timestamp"))
      // [EXT] snapshot/versioned history of the source dataset
      case "--history" => history = true
      // [EXT] snapshot-layout integrity audit of the source dataset
      case "--fsck" => fsck = true
      // [EXT] Z-ORDER maintenance of the target layout (OPTIMIZE
      // ZORDER analog): rewrite clustered on the Morton key of COLS,
      // committed through the target's protocol (snapshot layouts get
      // an atomic version; prior generations stay readable)
      case "--zorder" => once("--zorder")
        zorderCols = next("--zorder").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        if (zorderCols.isEmpty) throw CliError("--zorder needs column(s)")
      // [EXT] retention maintenance without a write: trim the source
      // dataset to N committed generations now (refcount vacuum)
      case "--vacuum" => once("--vacuum")
        vacuumN = Some(next("--vacuum").toInt)
        if (vacuumN.exists(_ < 1))
          throw CliError(s"--vacuum must keep >= 1 version, got: ${vacuumN.get}")
      // r15: the audit sweep (full pool listing) moved behind --full;
      // plain --vacuum matches the per-commit incremental+journal GC
      case "--full" => vacuumFull = true
      // [EXT] CDC changelog of the source dataset between two retained
      // versions (Delta CDF row shape); requires --pk
      case "--changelog" => once("--changelog")
        changelog = Some(next("--changelog").split(":", 2) match {
          // FROM: (open end) = every change since FROM, consecutive
          // per-commit diffs — the incremental-consumer cursor read
          case Array(a, "") =>
            val from = try a.toLong catch {
              case _: NumberFormatException =>
                throw CliError(s"--changelog expects FROM:[TO], got: $a:")
            }
            if (from < 0) throw CliError(s"--changelog FROM must be >= 0, got: $a")
            (from, -1L)
          case Array(a, b) =>
            val parsed = try (a.toLong, b.toLong) catch {
              case _: NumberFormatException =>
                throw CliError(s"--changelog expects FROM:[TO] versions, got: $a:$b")
            }
            // negative numbers must not alias the open-ended form —
            // only a literal empty TO selects the cursor read
            if (parsed._1 < 0 || parsed._2 < 0)
              throw CliError(s"--changelog versions must be >= 0, got: $a:$b")
            parsed
          case _ => throw CliError("--changelog expects FROM:[TO] versions")
        })
      case "--max-records-per-file" =>
        once("--max-records-per-file"); maxRecords = next("--max-records-per-file").toLong
      // [EXT] small-file compaction of the target layout (the
      // maintenance complement of the pruned merge); size accepts
      // k/m/g suffixes, e.g. --compact 128m
      case "--compact" => once("--compact")
        val raw = next("--compact").trim.toLowerCase
        val (num, mult) = raw.takeRight(1) match {
          case "k" => (raw.dropRight(1), 1L << 10)
          case "m" => (raw.dropRight(1), 1L << 20)
          case "g" => (raw.dropRight(1), 1L << 30)
          case _ => (raw, 1L)
        }
        compactSize = Some(
          try math.multiplyExact(num.toLong, mult) catch {
            case _: NumberFormatException | _: ArithmeticException =>
              throw CliError(s"--compact expects BYTES or <n>k|m|g, got: $raw")
          })
      // W14 (reference --fail-on-error, default True, base.py:135,267;
      // MUTABLE_OPS: fail_on_error)
      case "--fail-on-error" => failOnError = asBool(next("--fail-on-error"))
      case "--job-poll" => once("--job-poll"); jobPoll = Some(next("--job-poll"))
      case "--jq" => jq :+= kv(next("--jq"))
      // S9 flat dataset listing (reference --lsflat, etl.py:75) and
      // S10 namespace drop (reference --drop-ns, base.py:114-115);
      // both take `backend/ns` and need no -s/--source.
      case "--lsflat" => once("--lsflat"); lsflat = Some(next("--lsflat"))
      case "--drop-ns" => once("--drop-ns"); dropNs = Some(next("--drop-ns"))
      // S4/F8 http datasets (reference --surl/--murl/--turl,
      // etl.py:35-37,81-86): the URL flag flips the dataset to the
      // http backend and lands in its query as `_url`
      case "--surl" => once("--surl"); surl = Some(next("--surl"))
      case "--murl" => once("--murl"); murl = Some(next("--murl"))
      case "--turl" => throw CliError(
        "--turl (http target) posts to the reference's remote job server — " +
        "out of scope here; write to a file-backed target instead")
      case "--ns" => once("--ns"); nsDefault = next("--ns")
      // W11 target mapping (reference --tmap names an ES mapping,
      // etl.py:71,236-238): here a DDL schema string the batch is cast
      // to before the write (the lake-native analog)
      case "--tmap" => once("--tmap"); tmap = next("--tmap")
      // §2.5 transformer args (reference declares --stra/--mtra but
      // its process_transformers drops them, etl.py:33,44 +
      // base.py:97-108 — documented intent: extra args for the last
      // transformer stage)
      case "--stra" => stra :+= next("--stra")
      case "--mtra" => mtra :+= next("--mtra")
      // reference batch_size (base.py:119): the lake analog of a write
      // batch is records per output file — alias of --max-records-per-file
      case "--batch" => once("--max-records-per-file")
        maxRecords = next("--batch").toLong
      // O3 (base.py:132): jobs here run synchronously and the log is
      // terminal state, so one status read is complete — the interval
      // is accepted for flag parity and validated only
      case "--poll-interval" =>
        once("--poll-interval")
        val v = next("--poll-interval").toDouble
        if (v <= 0) throw CliError(s"--poll-interval must be positive, got $v")
      case "--show-args" => showArgs = true
      case "--job-run" => jobRun = true
      case "--log-level" => once("--log-level"); logLevel = Some(next("--log-level"))
      case "--verbose" => logLevel = Some("INFO") // base.py:141 analog
      // W13 log-record controls (reference base.py:122-123,143,251-265):
      // --log FIELDS projects the job-log record (same `-excl` grammar
      // as --tf), --log_ds NS relocates the `_logs` dataset, --pretty
      // echoes the record as JSON
      case "--log" => once("--log"); logFields = Some(next("--log"))
      case "--log_ds" | "--log-ds" => once("--log_ds"); logDs = Some(next("--log_ds"))
      case "--pretty" => pretty = true
      // F9 fast pagination (reference etl.py:251-259): forwarded into
      // the source query as `_pagination` — a documented no-op here
      // (Spark partitioned scans replace server-side cursors)
      case "--paginate" => once("--paginate"); q :+= ("_pagination" -> next("--paginate"))
      // O11 --profile (reference base.py:141,287-288 runs cProfile):
      // in-engine analog is a wall-clock report after the run
      case "--profile" => profile = true
      // reference --dev (base.py:120,257-262): flips its server to
      // sync mode — this engine is always synchronous; keep the side
      // effect that matters (pretty log echo, as dry-run mode does)
      case "--dev" => dev = true; pretty = true
      // reference --etl_api (base.py:112): remote job-server address.
      // Accepted for muscle-memory parity; jobs execute in-process.
      case "--etl_api" | "--etl-api" => once("--etl_api")
        val api = next("--etl_api")
        System.err.println(s"notice: --etl_api $api ignored — jobs run in-process, not via a job server")
      // O11 --pylog2es (reference base.py:142 ships python logging to
      // an ES sink): the engine's logs go to the _logs dataset (W13) —
      // accepted for parity, with a notice pointing at the analog
      case "--pylog2es" =>
        System.err.println("notice: --pylog2es accepted — job metrics land in the _logs dataset (use --log/--log_ds)")
      case "-a" | "--arg" => extraArgs :+= next("-a") // base.py:125-126
      case other => throw CliError(s"unknown flag: $other (see --help)")
    }

    // --surl/--murl flip the dataset to http with the URL in its query
    // (reference etl.py:81-86,119-127; source keeps its forced-limit-1
    // semantics inside the http Resolver)
    surl.foreach { u => source = Some("http/NA/NA"); q :+= ("_url" -> u) }
    murl.foreach { u => merger = Some("http/NA/NA"); mq :+= ("_url" -> u) }
    // --ns default: fill the ns segment of 2-part refs (base.py:146)
    def withNs(uri: String): String = {
      val r = DatasetRef.parse(uri)
      if (r.ns.isEmpty && nsDefault.nonEmpty)
        s"${r.backend}/$nsDefault/${r.name}" else uri
    }
    source = source.map(withNs); merger = merger.map(withNs)
    target = target.map(withNs)
    // --stra/--mtra attach to the last stage of the respective chain
    def chainWith(chain: String, extra: Seq[String], flag: String): Seq[TransformStage] = {
      val stages = TransformStage.parseChain(chain)
      if (extra.isEmpty) stages
      else if (stages.isEmpty)
        throw CliError(s"$flag given but no transformer to apply it to")
      else stages.init :+ stages.last.copy(args = stages.last.args ++ extra)
    }
    val srcUri = source.orElse(envDefault("--source"))
      .getOrElse(
        if (jobPoll.nonEmpty || lsflat.nonEmpty || dropNs.nonEmpty || jobRun ||
            compactSize.nonEmpty || zorderCols.nonEmpty)
          "parquet/_unused_/_unused_"
        else throw CliError("-s/--source is required"))
    // `-o op:pk` fuses the write op and key (etl_cli/etl.py:203-206).
    val (opName, opPk) = op.map(_.split(":", 2) match {
      case Array(o, k) => (Some(o), k)
      case Array(o)    => (Some(o), "")
    }).getOrElse((None, ""))
    def csv(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    val mergerSpec = merger.map { m =>
      val corr = csv(mkeys).map(k => k -> s"#$k#")
      MergerSpec(DatasetRef.parse(m),
        query = corr ++ mq,
        direction = mmd.map(MergeDirection.parse).getOrElse(MergeDirection.M2S),
        requireMatch = mrm, requireNoMatch = mrnm, matchOne = mmo,
        unwind = munwind, strictMatch = mstrict, mergeAs = mma,
        mergeRule =
          if (mrules.isEmpty) None
          else Some(TransformStage(mrules, csv(mrulesScm))),
        postRead = chainWith(mtr, mtra, "--mtra"),
        postMerge = TransformStage.parseChain(mtrPost))
    }
    if (merger.nonEmpty && mergerSpec.exists(_.query.isEmpty))
      throw CliError("merger needs --mkeys or --mq")
    val targetSpec = target.map { t =>
      TargetSpec(DatasetRef.parse(t),
        op = opName.map(WriteOp.parse).getOrElse(WriteOp.Create),
        pk = if (pk.nonEmpty) csv(pk) else csv(opPk),
        query = tq, fields = csv(tf), overwrite = csv(overwrite),
        skipBy = csv(skipBy), skipTimestamp = skipTs,
        failOnError = failOnError,
        indexBy = if (skipIndex) Nil else indexBy.flatMap(v => csv(v)),
        partitionBy = csv(partitionBy), maxRecordsPerFile = maxRecords,
        commitMode = commitMode, keepVersions = keepVersions,
        deleteVectors = deleteVectors,
        tmap = if (tmap.isEmpty) None else Some(tmap))
    }
    val job = JobSpec(
      SourceSpec(DatasetRef.parse(srcUri), q, chainWith(str, stra, "--stra")),
      merger = mergerSpec, target = targetSpec,
      workers = workers, dryRun = dry, contid = contid, cron = cron,
      logDs = logDs, logFields = csv(logFields.getOrElse("")),
      logPretty = pretty || dev,
      failOnError = failOnError) // job-wide too: holds for target-less jobs
    // -a extra args ride along in the job-log comment (the reference
    // forwards them opaquely to its server, base.py:125-126)
    val msgAll =
      if (extraArgs.isEmpty) msg
      else Some((msg.toSeq ++ extraArgs).mkString(" "))
    (job, Opts(drop = drop, dry = dry, count = count, stream = stream,
      rollup = rollup,
      jobPoll = jobPoll, jq = jq, silent = silent,
      noCount = noCount, info = info,
      diff = diff, diffContext = csv(diffContext), msg = msgAll,
      lsflat = lsflat, dropNs = dropNs,
      showArgs = showArgs, jobRun = jobRun, logLevel = logLevel,
      profile = profile, compact = compactSize,
      foldDeletesAbove = foldDeletesAbove,
      history = history, vacuum = vacuumN, vacuumFull = vacuumFull,
      fsck = fsck, zorder = zorderCols,
      materializeDeletes = materializeDeletes,
      renameColumn = renameColumn,
      dropColumn = dropColumn,
      widenColumn = widenColumn,
      autoMaintain = autoMaintain,
      changelog = changelog,
      changelogPk = if (pk.nonEmpty) csv(pk) else csv(opPk)))
  }

  private def session(opts: Opts): SparkSession = {
    val b = graft.GraftSession.builder(opts.cpus).appName("graft-etl")
    val s = sys.env.get("SPARK_GRAFT_MASTER").fold(b)(b.master).getOrCreate()
    s.sparkContext.setLogLevel(opts.logLevel.getOrElse("WARN"))
    s
  }

  /** `backend/ns[/more/ns]` for the ns-level flags (no name segment). */
  private def parseNsRef(raw: String): (String, String) = {
    val slash = raw.indexOf('/')
    if (slash <= 0 || slash == raw.length - 1)
      throw CliError(s"expected backend/ns, got: $raw")
    (raw.substring(0, slash), raw.substring(slash + 1))
  }

  def execute(spark: SparkSession, job: JobSpec, opts: Opts): Unit =
    if (!opts.profile) dispatch(spark, job, opts)
    else {
      // O11 --profile (reference base.py:141 runs cProfile around the
      // request): the in-process analog is the end-to-end wall clock
      // and the engine's job ledger — every Spark job with its SQL
      // execution id and call site, then the stage totals
      val m = new graft.engine.Metrics()
      val t0 = System.nanoTime()
      try m.record(spark)(dispatch(spark, job, opts)) finally {
        println(f"profile: ${(System.nanoTime() - t0) / 1e9}%.3f s wall-clock")
        (m.jobLines :+ m.totalsLine).foreach(l => println(s"profile: $l"))
      }
    }

  private def dispatch(spark: SparkSession, job: JobSpec, opts: Opts): Unit = {
    // --show-args: non-blocking spec echo (reference base.py:133)
    if (opts.showArgs) println(job)
    if (opts.jobRun) { // O3 --job-run (etl.py:68,269): the reference
      // kicks its server's queued jobs; this engine runs jobs
      // synchronously, so there is never a queue to kick
      println("job-run: jobs run synchronously in this engine; nothing queued")
      return
    }
    opts.lsflat.foreach { ref => // S9: flat dataset listing (etl.py:75)
      val (backend, ns) = parseNsRef(ref)
      Resolver.listDatasets(spark, backend, ns).foreach(println)
      return
    }
    opts.dropNs.foreach { ref => // S10: whole-namespace drop, gated
      val (backend, ns) = parseNsRef(ref)
      val names = Resolver.listDatasets(spark, backend, ns)
      val ok = opts.silent || {
        print(s"drop namespace $ns (${names.size} dataset(s))? [y/N] ")
        Option(scala.io.StdIn.readLine()).exists(_.trim.equalsIgnoreCase("y"))
      }
      if (ok) { println(s"dropping namespace $ns")
        Resolver.dropNamespace(spark, backend, ns) }
      else println(s"skipped drop of namespace $ns")
      return
    }
    if (opts.jobPoll.nonEmpty) { // O3: query the job log with the DSL
      Runner.jobStatus(spark, opts.jobPoll.get,
        if (opts.jq.isEmpty) Seq("uid" -> "last") else opts.jq)
        .show(50, truncate = false)
      return
    }
    if (opts.drop) job.target.foreach { t =>
      // O10 confirm gate (reference: might_drop_target + ask_input,
      // etl_cli/base.py:612-630): destructive ops prompt unless --silent.
      val ok = opts.silent || {
        print(s"drop ${t.ref.uri}? [y/N] ")
        Option(scala.io.StdIn.readLine()).exists(_.trim.equalsIgnoreCase("y"))
      }
      if (ok) { println(s"dropping ${t.ref.uri}"); Resolver.drop(spark, t.ref) }
      else println(s"skipped drop of ${t.ref.uri}")
    }
    if (opts.history) { // [EXT] snapshot/versioned history listing
      graft.operators.Snapshot.history(spark, Resolver.path(job.source.ref))
        .show(50, truncate = false)
      return
    }
    if (opts.fsck) { // [EXT] snapshot-layout integrity audit
      // --full extends the audit to footer row-count cross-checks
      val issues = graft.operators.Snapshot.fsck(
        spark, Resolver.path(job.source.ref), full = opts.vacuumFull)
      if (issues.isEmpty) println("fsck: clean")
      else issues.show(100, truncate = false)
      return
    }
    if (opts.materializeDeletes) { // [EXT] fold deletion vectors in
      val p = Resolver.path(job.source.ref)
      val t = job.target // optional layout knobs ride the target spec
      val did = graft.operators.Snapshot.materializeDeletes(spark, p,
        t.map(_.indexBy).getOrElse(Nil),
        t.map(_.maxRecordsPerFile).getOrElse(0L),
        t.map(_.keepVersions).getOrElse(2))
      println(if (did) s"materialized deletion vectors into a new version of $p"
        else s"no deletion vectors to materialize at $p")
      return
    }
    opts.renameColumn.foreach { case (o, n) => // [EXT] metadata-only rename
      val p = Resolver.path(job.source.ref)
      val v = graft.operators.Snapshot.renameColumn(spark, p, o, n,
        job.target.map(_.keepVersions).getOrElse(2))
      println(s"renamed column $o -> $n at $p (version $v, metadata-only)")
      return
    }
    opts.dropColumn.foreach { c => // [EXT] metadata-only drop
      val p = Resolver.path(job.source.ref)
      val v = graft.operators.Snapshot.dropColumn(spark, p, c,
        job.target.map(_.keepVersions).getOrElse(2))
      println(s"dropped column $c at $p (version $v, metadata-only; " +
        "re-adding the name is refused while retained files carry it)")
      return
    }
    opts.widenColumn.foreach { case (c, t) => // [EXT] metadata-only widen
      val p = Resolver.path(job.source.ref)
      val dt = org.apache.spark.sql.types.StructType.fromDDL(s"x ${t}")
        .fields(0).dataType
      val v = graft.operators.Snapshot.widenColumn(spark, p, c, dt,
        job.target.map(_.keepVersions).getOrElse(2))
      println(s"widened column $c to ${dt.sql} at $p (version $v, " +
        "metadata-only; retained narrower files upcast losslessly on read)")
      return
    }
    opts.vacuum.foreach { n => // [EXT] retention trim, no write
      val p = new org.apache.hadoop.fs.Path(Resolver.path(job.source.ref))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // LOCKED: a standalone vacuum racing a live writer could sweep
      // its manifest-written, marker-pending version dir mid-commit
      graft.operators.Snapshot.vacuumLocked(fs, p, n,
        fullSweep = opts.vacuumFull)
      val kept = graft.operators.Snapshot.committed(fs, p).map(_._1)
      println(s"vacuum${if (opts.vacuumFull) " (full audit sweep)" else ""}: " +
        s"retained versions ${kept.mkString(", ")}")
      return
    }
    opts.changelog.foreach { case (fromV, toV) => // [EXT] CDC diff
      if (opts.changelogPk.isEmpty)
        throw CliError("--changelog needs the row identity: --pk COLS")
      val cl =
        if (toV < 0) // FROM: open end — everything since the cursor
          graft.operators.Snapshot.changelogSince(
            spark, Resolver.path(job.source.ref), fromV, opts.changelogPk)
        else graft.operators.Snapshot.changelog(
          spark, Resolver.path(job.source.ref), fromV, toV, opts.changelogPk)
      job.target match {
        case Some(t) => // materialize the feed for downstream consumers
          graft.operators.WriteOps.atomicOverwrite(spark, cl,
            Resolver.path(t.ref), t.partitionBy, t.maxRecordsPerFile,
            t.ref.backend, t.indexBy, t.commitMode, t.keepVersions)
          println(s"changelog v$fromV→v$toV written to ${t.ref.uri}")
        case None => cl.show(100, truncate = false)
      }
      return
    }
    if (opts.zorder.nonEmpty) { // [EXT] Z-order layout maintenance
      val t = job.target.getOrElse(throw CliError("--zorder needs a target (-t)"))
      if (!Set("parquet", "ds").contains(t.ref.backend))
        throw CliError(s"--zorder supports parquet targets, got ${t.ref.backend}")
      if (t.partitionBy.nonEmpty)
        throw CliError("--zorder does not compose with --partition-by yet " +
          "(z-order per partition dir by running it per partition)")
      val p = Resolver.path(t.ref)
      val df0 = Resolver.readParquet(spark, p)
      val missing = opts.zorder.filterNot(df0.columns.contains)
      if (missing.nonEmpty)
        throw CliError(s"--zorder columns not in dataset: ${missing.mkString(",")}")
      import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
      import org.apache.spark.sql.types._
      // typed dimensions (r18, verdict #1): integral/date/timestamp
      // columns enter the Morton key through their long domain; STRING
      // columns through the first-6-byte big-endian prefix
      // (ZOrder.bytePrefixDim — the same truncation discipline the
      // manifest's byte-bound envelopes record, so a URL/hex-key
      // layout clusters AND prunes on the clustered dim); anything
      // else is a CliError, not an NPE out of a NULL-producing cast
      val fieldType = df0.schema.fields.map(f => f.name -> f.dataType).toMap
      val rawDims: Seq[org.apache.spark.sql.Column] = opts.zorder.map { c =>
        fieldType(c) match {
          case ByteType | ShortType | IntegerType | LongType =>
            col(c).cast("long")
          case DateType => unix_date(col(c)).cast("long")
          case TimestampType => unix_micros(col(c))
          case TimestampNTZType => // session-zone reinterpretation is
            unix_micros(col(c).cast("timestamp")) // monotone — fine for a layout key
          case StringType => graft.operators.ZOrder.bytePrefixDim(col(c))
          case dt => throw CliError("--zorder supports integral, date, " +
            s"timestamp and string columns; '$c' is ${dt.simpleString}")
        }
      }
      val bits = math.max(1, math.min(16, 63 / rawDims.size))
      val bnds = graft.operators.ZOrder.boundsOf(df0, rawDims)
      val dims = opts.zorder.indices.map { i =>
        val (mnO, mxO) = bnds(i)
        val mn = mnO.getOrElse(throw CliError(
          s"--zorder column '${opts.zorder(i)}' has no non-null values " +
            "(empty dataset or all-NULL column) — nothing to cluster on"))
        graft.operators.ZOrder.safeDim(rawDims(i), mn, mxO.get, bits)
      }
      val nFiles = math.max(1, df0.inputFiles.length)
      val laid = df0
        .withColumn("__z__", graft.operators.ZOrder.zvalue(
          dims.map(_._1), dims.map(_._2), dims.map(_._3), bits))
        .repartitionByRange(nFiles, col("__z__"))
        .sortWithinPartitions("__z__")
        .drop("__z__")
      // the commit protocol does the rest: snapshot layouts get an
      // atomic new version (prior generations readable), plain dirs
      // the rename swap — the z-partitioning survives atomicOverwrite
      // because its index layout is a no-op for empty indexBy, and
      // statsCols (r18) makes the snapshot commit record per-file
      // envelopes for every clustered column (long AND truncated-byte
      // string bounds), so read-time manifest skipping engages on the
      // exact layout this command builds for it
      graft.operators.WriteOps.atomicOverwrite(spark, laid, p,
        maxRecordsPerFile = t.maxRecordsPerFile, commitMode = t.commitMode,
        keepVersions = t.keepVersions, statsCols = opts.zorder)
      println(s"zorder: re-clustered ${t.ref.uri} on " +
        s"${opts.zorder.mkString(",")} into $nFiles file(s)")
      return
    }
    opts.compact.foreach { bytes => // [EXT] target-layout maintenance
      val t = job.target.getOrElse(throw CliError("--compact needs a target (-t)"))
      if (!Set("parquet", "ds").contains(t.ref.backend))
        throw CliError(s"--compact supports parquet targets, got ${t.ref.backend}")
      val st = graft.operators.Compaction.compact(
        spark, Resolver.path(t.ref), t.indexBy, bytes, t.keepVersions,
        opts.foldDeletesAbove)
      println(s"compact: rewrote ${st.filesCompacted}/${st.filesTotal} files " +
        s"(${st.bytesCompacted} bytes) into ${st.filesCreated} across " +
        s"${st.dirsCompacted} dir(s)")
      return
    }
    if (opts.count) {
      if (opts.dry) { // r18 (verdict #7): surface the count-plan
        // provenance — which members the manifest decides vs scans —
        // without running anything
        Runner.countPlan(spark, job.source) match {
          case Some((cov, bnd, tot, rows)) =>
            println(s"count plan: $tot member file(s) — $cov covered " +
              s"($rows rows decided from the manifest), $bnd boundary " +
              s"file(s) to scan, ${tot - cov - bnd} excluded")
          case None =>
            println("count plan: exact scan (metadata count not applicable)")
        }
        return
      }
      println(Runner.count(spark, job.source, job.effectiveFailOnError))
      return
    }
    opts.diff.foreach { other => // §2.7: symmetric difference vs another dataset
      val a = graft.engine.Planner.sourceFrame(spark, job.source,
        job.effectiveFailOnError)
      val b = Resolver.read(spark, DatasetRef.parse(other),
        failOnError = job.effectiveFailOnError)
      Runner.diff(a, b, opts.diffContext).show(100, truncate = false)
      return
    }
    if (opts.dry) { // W12: plan + sample, no writes (base.py:241-246)
      val planned = graft.engine.Planner.plan(spark, job)
      planned.explain("formatted")
      planned.show(5, truncate = false)
      return
    }
    if (opts.stream) {
      // O4 continuation as Structured Streaming (Trigger.AvailableNow):
      // incremental file discovery + checkpoint replace the contid loop.
      val t = job.target.getOrElse(throw CliError("--stream needs a target"))
      // The streaming path applies only filters and _fields; anything
      // else would be silently dropped — reject it loudly instead.
      val unsupported = job.source.query.collect {
        case (k, _) if Set("_sort", "_limit", "_group", "_agg",
          "_flat", "_count").contains(k) => k
      }
      if (unsupported.nonEmpty)
        throw CliError(s"--stream does not support ${unsupported.mkString("/")}" +
          " (filters, _fields and stateless --str stages only)")
      if (job.merger.nonEmpty)
        throw CliError("--stream does not support a merger")
      if (t.ref.backend != "parquet")
        throw CliError(s"--stream writes parquet targets only, got ${t.ref.backend}")
      // --rollup: the target is an incremental ROLLUP STATE table
      // (snapshot-committed, keyed on the group columns, maintained
      // through the pruned merge per micro-batch) — not an append sink
      opts.rollup.foreach { case (keys, aggSpecs) =>
        val parsed = graft.ext.RollupOps.parse(aggSpecs)
        val q0 = graft.dsl.QueryCompiler.compile(
          graft.engine.Planner.sourceFrame(spark, job.source.copy(query = Nil)),
          job.source.query)
        val tp = Resolver.path(t.ref)
        graft.streaming.StreamRunner.rollupStream(spark,
          {
            val raw = graft.streaming.StreamRunner.readStream(spark, job.source.ref)
            val filtered = q0.predicates.foldLeft(raw)(_ filter _)
            graft.functions.Transformers.apply(filtered, job.source.postRead)
          },
          tp, keys, parsed, tp + "._checkpoint", t.keepVersions)
        println(s"rollup state maintained at ${t.ref.uri} " +
          s"(keys=${keys.mkString(",")}; finish with rollup_finish)")
        return
      }
      // target-side spec elements the append-only sink would drop
      if (t.op != WriteOp.Create)
        throw CliError(s"--stream appends only (-o create); got -o ${t.op.name}")
      val tgtUnsupported = Seq(
        "--tq" -> t.query.nonEmpty, "--tf" -> t.fields.nonEmpty,
        "--overwrite" -> t.overwrite.nonEmpty, "--skip_by" -> t.skipBy.nonEmpty,
        "--pk" -> t.pk.nonEmpty, "--mongo-index" -> t.indexBy.nonEmpty,
        "--partition-by" -> t.partitionBy.nonEmpty).collect { case (f, true) => f }
      if (tgtUnsupported.nonEmpty)
        throw CliError(s"--stream does not support ${tgtUnsupported.mkString("/")}")
      val q = graft.dsl.QueryCompiler.compile(
        graft.engine.Planner.sourceFrame(spark, job.source.copy(query = Nil)),
        job.source.query)
      // keep the resolver's addressing (<ns>/<name>.parquet directory)
      // so the streamed target is readable as a normal dataset ref
      val tgtPath = Resolver.path(t.ref)
      // a versioned-layout target would swallow streamed appends (the
      // resolver reads only the committed _v_ dir) — reject loudly
      val tgtHPath = new org.apache.hadoop.fs.Path(tgtPath)
      val tgtFs = tgtHPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (graft.operators.Versioned.list(tgtFs, tgtHPath).exists(_._3))
        throw CliError("--stream appends to the dataset dir and cannot " +
          "target a versioned-commit dataset (its reads resolve to the " +
          "committed _v_ snapshot, not appended files)")
      if (t.commitMode == "versioned")
        throw CliError("--stream does not support --commit versioned")
      // STATELESS --str stages stream unchanged (filters → stages →
      // _fields, the batch order); stages whose plan needs state or an
      // eager job are rejected by Spark's own streaming analyzer — a
      // whitelist would either drift or over-restrict, so translate
      // that analyzer error instead of pre-judging the 75+ registry
      try graft.streaming.StreamRunner.runAvailableNow(spark,
        graft.streaming.StreamRunner.readStream(spark, job.source.ref),
        df => {
          val filtered = q.predicates.foldLeft(df)(_ filter _)
          val staged = graft.functions.Transformers.apply(
            filtered, job.source.postRead)
          if (q.fields.nonEmpty) graft.dsl.QueryCompiler.project(staged, q.fields)
          else staged
        },
        tgtPath, tgtPath + "._checkpoint")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if job.source.postRead.nonEmpty =>
          throw CliError("--stream: a --str stage is not streamable " +
            s"(needs aggregation/eager state): ${e.getMessage.linesIterator.next()}")
      }
      println(s"stream done: ${spark.read.parquet(tgtPath).count()} rows in target")
      return
    }
    job.target match {
      case None if job.source.query.exists(p => p._1 == "_count" && p._2 == "1") =>
        // F6: `-q _count=1` is count mode even without --count
        // (reference get_source_total consults query._count, base.py:483)
        println(Runner.count(spark, job.source, job.effectiveFailOnError))
      case None => // S11 preview (base.py:640-644): default one row
        val hasLimit = job.source.query.exists(_._1 == "_limit")
        val hasAgg = job.source.query.exists(p => p._1 == "_group" || p._1 == "_agg")
        val preview = graft.engine.Planner.plan(spark,
          if (hasLimit || hasAgg) job
          else job.copy(source = job.source.copy(query = job.source.query :+ ("_limit" -> "1"))))
        preview.show(100, truncate = false)
      case Some(_) =>
        // O10 pre-flight summary + confirm gate (reference show_info +
        // `RUN COMMAND` ask_input, base.py:411-479,683-692): print
        // datasets/op/total and ask before any write, unless --silent.
        val total = showInfo(spark, job, opts)
        if (total.contains(0L)) { println("Empty Source"); return }
        // Gate only when someone can actually answer: EOF/no stdin
        // (scripts, cron, pipes) proceeds — otherwise every scripted
        // write would silently no-op with exit 0. Interactive answers
        // follow the reference's ask_input (base.py:194-214): y* runs,
        // anything else — including plain enter — skips.
        val proceed = opts.silent || {
          print("RUN COMMAND? [y/N] ")
          Option(scala.io.StdIn.readLine())
            .forall(_.trim.toLowerCase.startsWith("y"))
        }
        if (!proceed) { println("Skipped"); return }
        val isWildcard = job.source.ref.name.contains("*")
        if (isWildcard) {
          val results = Runner.runWildcard(spark, job, comment = opts.msg)
          results.foreach(r => println(
            s"${r.job.source.ref.uri} -> ${r.job.target.get.ref.uri}: ${r.written} rows"))
        } else if (job.contid.nonEmpty || job.target.exists(_.ref == job.source.ref)) {
          val r = Runner.runLoop(spark, job)
          println(s"done: ${r.written} rows written over ${r.iterations} iteration(s)")
        } else {
          // O3: stage/row progress during the run (reference poll_job,
          // base.py:366-392); quiet under -y/--silent. The lines are
          // printed from Spark's listener-bus thread, so they go to the
          // caller's Console.out as it is now, not that thread's.
          val out = Console.out
          val r = Runner.execute(spark, job,
            progress = if (opts.silent) None else Some(out.println(_: String)),
            comment = opts.msg)
          println(s"done: ${r.written} rows written")
        }
        if (opts.autoMaintain) job.target.foreach { t =>
          graft.operators.Maintenance.maybeCompact(spark,
            Resolver.path(t.ref),
            graft.operators.Maintenance.Policy(indexBy = t.indexBy,
              keepVersions = t.keepVersions)).foreach(st =>
            println(s"auto-maintained: compacted ${st.filesCompacted} " +
              s"file(s) in ${st.dirsCompacted} dir(s) -> ${st.filesCreated}"))
        }
    }
  }

  /** O10 show_info (reference base.py:411-479): one-screen job summary
    * — datasets, op, mode flags, filtered source total (skipped for
    * wildcard sources and under --no-count, reference's `no_count`).
    * Returns the computed total so the caller can refuse empty sources.
    */
  def showInfo(spark: SparkSession, job: JobSpec, opts: Opts): Option[Long] = {
    println(s"SOURCE: ${job.source.ref.uri}")
    job.merger.foreach { m =>
      println(s"MERGER: ${m.ref.uri}")
      println(s"M-DIRECTION: ${m.direction}")
    }
    job.target.foreach { t =>
      println(s"TARGET: ${t.ref.uri}")
      println(s"OP: ${t.op.name}${if (t.pk.nonEmpty) ":" + t.pk.mkString(",") else ""}")
    }
    val mode = Seq(
      if (opts.dry) Some("DRY") else None,
      if (opts.drop) Some("DROP") else None).flatten
    if (mode.nonEmpty) println(s"MODE: ${mode.mkString(" ")}")
    opts.info.foreach(i => println(s"INFO: $i"))
    job.cron.foreach(c => println(s"CRON: $c (recorded for an external scheduler)"))
    val total =
      if (opts.noCount || job.source.ref.name.contains("*")) None
      else Some(Runner.count(spark, job.source, job.effectiveFailOnError))
    println(s"TOTAL: ${total.map(_.toString).getOrElse("NA")}")
    total
  }

  private val usage: String =
    """graft-etl — Spark-native declarative ETL (reference-parity CLI)
      |
      |usage: graft.cli.Main -s BACKEND/NS/NAME [options]
      |
      |datasets       -s SOURCE  -t TARGET  -m MERGER
      |               --st DS (source=target)  --mt DS  --smt DS
      |query          -q key=value (repeatable; ops: field__gte etc.;
      |               controls: _limit,_sort,_fields,_group,_agg)
      |merger         --mkeys k1,k2  --mq key=value  --mmd s2m|m2s
      |               --mrm --mrnm --mmo --munwind --mstrict --mma FIELD
      |               --mrules RULE (prefer_merger|prefer_source|sum|min|max|concat)
      |               --mrules-scm c1,c2 (limit rule to these shared columns)
      |               --mtr CHAIN  --mtr-post-merge CHAIN
      |target         -o create|index|update|upsert|delete|insert[:pk]
      |               --pk k1,k2  --tq key=value  --tf f1,-f2
      |               --overwrite f1,f2  --skip_by k  --skip-timestamp
      |               --partition-by c1,c2  --max-records-per-file N
      |               --commit rename|versioned|snapshot (versioned =
      |               marker-file commit, atomic on object stores;
      |               snapshot = manifest versions sharing a data pool —
      |               incremental merges/compaction commit atomically
      |               and retained generations stay readable)
      |               --keep-versions N (committed generations retained
      |               by versioned/snapshot; the time-travel depth)
      |               --at-version N (pin the source scan to a retained
      |               version; sugar for -q _version=N)
      |               --at-timestamp TS (pin to the latest version
      |               committed at or before TS — epoch ms, yyyy-MM-dd,
      |               or local datetime; sugar for -q _version_ts=TS)
      |               --history (list the source's versions: files,
      |               bytes, commit time, protocol)
      |               --vacuum N (trim retention to N committed
      |               generations now; refcount-safe, no write)
      |               --fsck (snapshot-layout integrity audit: missing/
      |               mis-sized members, orphans, crash strays)
      |               --rollup keys;agg[;agg…] (with --stream: maintain
      |               the target as an incremental rollup STATE table —
      |               per micro-batch pruned merge, (query-id, batch-id)
      |               idempotence; read back with rollup_finish)
      |               --dv (delete op commits TOMBSTONES into the
      |               snapshot layout instead of rewriting files —
      |               merge-on-read. With --pk: the batch's pk tuples.
      |               With --tq: the PREDICATE itself — a retention/
      |               GDPR delete needs no key-materializing scan and
      |               touches zero data files; reads drop matching rows
      |               via a pushed filter. Both: pk∈batch AND tq.)
      |               --fold-deletes-above F (compaction folds the DV set
      |                 entirely when tombstone bytes exceed F of data bytes)
      |               --drop-column NAME (metadata-only column drop on a
      |               snapshot layout: no data file touched, time travel
      |               keeps pre-drop schemas, re-adding the name refuses
      |               while retained files still carry it physically)
      |               --widen-column NAME:TYPE (metadata-only lossless
      |               type widening on a snapshot layout: byte→short→int
      |               →long, float→double, int→double, decimal growth;
      |               no data file touched, old files upcast on read,
      |               time travel keeps each version's types)
      |               --rename-column OLD:NEW (metadata-only column
      |               rename on a snapshot layout: no data file touched,
      |               old files recovered via the manifest alias map,
      |               time travel keeps each version's names; partition
      |               cols, name reuse, and renames over live predicate
      |               tombstones refuse loudly)
      |               --materialize-deletes (fold accumulated tombstones
      |               into the data files; fresh committed version)
      |               --changelog FROM:TO (CDC rows between two retained
      |               versions: insert/delete/update pre+post; needs
      |               --pk; with -t, writes the feed instead of printing)
      |               --changelog FROM: (open end: every change since the
      |               cursor as consecutive per-commit diffs — checkpoint
      |               max(_commit_version) and pass it back next run)
      |               --mongo-index k1,k2 (range-sorted file layout on the
      |               keys: parquet min/max stats prune like an index)
      |               --skip-index (drop requested index layouts)
      |               --compact SIZE (rewrite sub-SIZE files of the target
      |               layout, re-sorted on --mongo-index keys; k/m/g ok)
      |               --zorder c1,c2 (re-cluster the target on the Morton
      |               key — multi-column range pruning; commits through
      |               the target's protocol)
      |namespaces     --lsflat BACKEND/NS (list datasets, one per line)
      |               --drop-ns BACKEND/NS (drop every dataset; confirms)
      |jobs           --job-poll NS  --jq key=value (default uid=last)
      |               --msg COMMENT (recorded in the job log)
      |diff           --diff OTHER_DS  --diff-context c1,c2 (symmetric
      |               difference between the filtered source and OTHER_DS)
      |transformers   --str CHAIN   (chain: name:arg1;arg2,name2,...)
      |run            --workers N  --contid ID  --dry  --drop  --count
      |               (--dry --count: print the metadata count plan's
      |               covered/boundary/total member split, run nothing)
      |               --cron EXPR (recorded in the job spec/log for an
      |               external scheduler; no in-engine timer)
      |               --no-count (skip the pre-run source total)
      |               --info MSG (annotate the pre-run summary)
      |               --fail-on-error BOOL (true: first malformed record
      |               fails the job; false: skip bad records; default true)
      |
      |write jobs print a summary and ask `RUN COMMAND?` first; -y runs
      |without prompting. Args are write-once: repeating a single-value
      |flag is an error.
      |               -y/--silent (skip confirmations)
      |               --stream (incremental AvailableNow continuation)
      |               --surl/--murl URL (http source/merger; --turl is
      |               out of scope — file-backed targets only)
      |               --ns NS (default ns for 2-part dataset refs)
      |               --tmap DDL (cast written dataset to this schema)
      |               --stra/--mtra ARG (extra args for the last --str/
      |               --mtr stage; repeatable)
      |               --batch N (alias of --max-records-per-file)
      |               --show-args  --job-run  --log-level LVL  --verbose
      |               -a/--arg K=V (recorded in the job log msg)
      |               --log FIELDS (project the _logs record; -f excludes)
      |               --log_ds NS (namespace the _logs dataset lives in)
      |               --pretty (echo the log record as JSON)
      |               --paginate V (accepted; Spark scans need no cursor)
      |               --profile (wall clock + Spark job ledger after the run)
      |               --dev (sync-mode parity flag; implies --pretty)
      |               --etl_api HOST (accepted; jobs run in-process)
      |               --pylog2es (accepted; metrics land in _logs)
      |""".stripMargin
}
