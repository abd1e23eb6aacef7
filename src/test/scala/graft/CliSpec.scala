package graft

import graft.cli.Main
import graft.spec._
import org.scalatest.funsuite.AnyFunSuite

/** CLI flag-surface parse tests — no Spark session needed, except for
  * the session-contract test at the end.
  */
class CliSpec extends AnyFunSuite {

  private def parse(args: String*): (JobSpec, Main.Opts) =
    Main.parse(args.toArray)

  test("source/query/sort/limit flags") {
    val (job, _) = parse("-s", "parquet//data/sf/lineitem",
      "-q", "l_quantity__gte=30", "-q", "_sort=-l_extendedprice", "-q", "_limit=5")
    assert(job.source.ref == DatasetRef("parquet", "/data/sf", "lineitem"))
    assert(job.source.query == Seq(
      "l_quantity__gte" -> "30", "_sort" -> "-l_extendedprice", "_limit" -> "5"))
  }

  test("-o op:pk fuses op and key; --pk overrides") {
    val (j1, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d", "-o", "upsert:city")
    assert(j1.target.get.op == WriteOp.Upsert && j1.target.get.pk == Seq("city"))
    val (j2, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "-o", "update:x", "--pk", "k1,k2")
    assert(j2.target.get.pk == Seq("k1", "k2"))
  }

  test("--st shorthand sets source and target; self-update detected shape") {
    val (job, _) = parse("--st", "parquet/a/t", "-o", "update", "--pk", "id")
    assert(job.source.ref == job.target.get.ref)
  }

  test("--mkeys emits correlated #field# pairs; modifiers parsed") {
    val (job, _) = parse("-s", "parquet/a/b", "-m", "parquet/a/m",
      "--mkeys", "city", "--mq", "pop__gte=100", "--mmd", "s2m",
      "--mrm", "--munwind", "--mma", "geo")
    val m = job.merger.get
    assert(m.query == Seq("city" -> "#city#", "pop__gte" -> "100"))
    assert(m.direction == MergeDirection.S2M)
    assert(m.requireMatch && m.unwind && !m.matchOne)
    assert(m.mergeAs.contains("geo"))
  }

  test("--mrules/--mrules-scm parse into the merge-rule stage") {
    val (job, _) = parse("-s", "parquet/a/b", "-m", "parquet/a/m",
      "--mkeys", "city", "--mrules", "sum", "--mrules-scm", "pop,area")
    val r = job.merger.get.mergeRule.get
    assert(r.name == "sum" && r.args == Seq("pop", "area"))
    assert(job.merger.get.mergeRule.nonEmpty)
  }

  test("transformer chains parse name:a;b syntax") {
    val (job, _) = parse("-s", "parquet/a/b",
      "--str", "upper:name,set_expr:flag;x > 1")
    assert(job.source.postRead == Seq(
      TransformStage("upper", Seq("name")),
      TransformStage("set_expr", Seq("flag", "x > 1"))))
  }

  test("target partitioning, file sizing, stream, silent flags") {
    val (job, opts) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--partition-by", "dt,country", "--max-records-per-file", "5000",
      "--stream", "-y")
    assert(job.target.get.partitionBy == Seq("dt", "country"))
    assert(job.target.get.maxRecordsPerFile == 5000L)
    assert(opts.stream && opts.silent)
  }

  test("--job-poll requires no source; --jq collected") {
    val (_, opts) = parse("--job-poll", "/tmp/ns", "--jq", "op=create")
    assert(opts.jobPoll.contains("/tmp/ns"))
    assert(opts.jq == Seq("op" -> "create"))
  }

  test("O8 write-once args: repeated single-value flags error; query/mutables repeat") {
    // plain repeat
    intercept[Main.CliError] { parse("-s", "parquet/a/b", "-s", "parquet/a/c") }
    // shorthand sharing the slot
    intercept[Main.CliError] { parse("--st", "parquet/a/b", "-t", "parquet/a/c") }
    intercept[Main.CliError] { parse("-s", "parquet/a/b", "--pk", "k1", "--pk", "k2") }
    // repeatable query flags accumulate
    val (job, _) = parse("-s", "parquet/a/b", "-q", "x=1", "-q", "y=2")
    assert(job.source.query.size == 2)
    // MUTABLE_OPS repeat freely (fail_on_error, silent; base.py:76-84)
    val (job2, opts2) = parse("-s", "parquet/a/b", "-t", "parquet/a/t",
      "--fail-on-error", "false", "--fail-on-error", "true", "-y", "-y")
    assert(job2.target.exists(_.failOnError) && opts2.silent)
  }

  test("--commit parses rename|versioned and rejects anything else") {
    val (j1, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--commit", "versioned")
    assert(j1.target.get.commitMode == "versioned")
    val (j2, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d")
    assert(j2.target.get.commitMode == "rename")
    intercept[Main.CliError] {
      parse("-s", "parquet/a/b", "-t", "parquet/c/d", "--commit", "manifest")
    }
  }

  test("snapshot flags: --commit snapshot, --keep-versions, --at-version, --history, --changelog") {
    val (j, o) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--commit", "snapshot", "--keep-versions", "5")
    assert(j.target.get.commitMode == "snapshot")
    assert(j.target.get.keepVersions == 5)
    intercept[Main.CliError] {
      parse("-s", "parquet/a/b", "-t", "parquet/c/d", "--keep-versions", "0")
    }
    // --at-version is sugar for -q _version=N (resolver-applied)
    val (j2, _) = parse("-s", "parquet/a/b", "--at-version", "3")
    assert(j2.source.query.contains("_version" -> "3"))
    val (_, o3) = parse("-s", "parquet/a/b", "--history")
    assert(o3.history)
    val (_, o4) = parse("-s", "parquet/a/b", "--changelog", "2:5", "--pk", "id")
    assert(o4.changelog.contains((2L, 5L)) && o4.changelogPk == Seq("id"))
    val (_, o5) = parse("-s", "parquet/a/b", "--vacuum", "3")
    assert(o5.vacuum.contains(3))
    intercept[Main.CliError] { parse("-s", "parquet/a/b", "--vacuum", "0") }
    intercept[Main.CliError] {
      parse("-s", "parquet/a/b", "--changelog", "nope")
    }
    assert(!o.history)
  }

  test("r10 lakehouse flags: --dv, --materialize-deletes, --at-timestamp, --changelog FROM:, --rollup") {
    val (j, o) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "-o", "delete", "--pk", "id", "--dv")
    assert(j.target.get.deleteVectors && !o.materializeDeletes)
    val (_, o2) = parse("-s", "parquet/a/b", "--materialize-deletes")
    assert(o2.materializeDeletes)
    val (j3, _) = parse("-s", "parquet/a/b", "--at-timestamp", "1700000000000")
    assert(j3.source.query.contains("_version_ts" -> "1700000000000"))
    val (_, o4) = parse("-s", "parquet/a/b", "--changelog", "3:", "--pk", "id")
    assert(o4.changelog.contains((3L, -1L)))
    intercept[Main.CliError] { // negative TO must not alias the cursor form
      parse("-s", "parquet/a/b", "--changelog", "2:-3", "--pk", "id") }
    intercept[Main.CliError] {
      parse("-s", "parquet/a/b", "--changelog", "-1:", "--pk", "id") }
    val (_, o5) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--stream", "--rollup", "k1,k2;count;sum:v")
    assert(o5.rollup.contains((Seq("k1", "k2"), Seq("count", "sum:v"))))
    intercept[Main.CliError] {
      parse("-s", "parquet/a/b", "-t", "parquet/c/d", "--rollup", "justkeys") }
  }

  test("O5 --cron records the schedule expression on the job spec") {
    val (job, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--cron", "0 3 * * *")
    assert(job.cron.contains("0 3 * * *"))
    intercept[Main.CliError] {
      parse("-s", "parquet/a/b", "--cron", "x", "--cron", "y")
    }
  }

  test("O10 --no-count and --info parse into opts") {
    val (_, opts) = parse("-s", "parquet/a/b", "--no-count", "--info", "backfill")
    assert(opts.noCount && opts.info.contains("backfill"))
  }

  test("--diff/--diff-context/--msg parse into opts") {
    val (_, opts) = parse("-s", "parquet/a/b", "--diff", "parquet/a/c",
      "--diff-context", "id,name", "--msg", "nightly refresh")
    assert(opts.diff.contains("parquet/a/c"))
    assert(opts.diffContext == Seq("id", "name"))
    assert(opts.msg.contains("nightly refresh"))
  }

  test("--lsflat/--drop-ns parse, need no source, and are write-once") {
    val (_, o1) = parse("--lsflat", "parquet//data/sf")
    assert(o1.lsflat.contains("parquet//data/sf"))
    val (_, o2) = parse("--drop-ns", "parquet//tmp/x", "-y")
    assert(o2.dropNs.contains("parquet//tmp/x") && o2.silent)
    intercept[Main.CliError] {
      parse("--lsflat", "parquet/a", "--lsflat", "parquet/b")
    }
  }

  test("--surl/--murl flip datasets to http with _url in the query; --turl rejects") {
    val (j, _) = parse("--surl", "https://x.test/data.json",
      "-m", "parquet/a/m", "--mkeys", "id", "--murl", "https://x.test/m.json")
    assert(j.source.ref.backend == "http")
    assert(j.source.query == Seq("_url" -> "https://x.test/data.json"))
    assert(j.merger.get.ref.backend == "http")
    assert(j.merger.get.query.contains("_url" -> "https://x.test/m.json"))
    intercept[Main.CliError](
      parse("-s", "parquet/a/b", "--turl", "https://x.test/t"))
  }

  test("--ns fills missing ns segments; explicit ns wins") {
    val (j, _) = parse("-s", "parquet/src", "-t", "parquet//tmp/out",
      "--ns", "/data/sf")
    assert(j.source.ref == DatasetRef("parquet", "/data/sf", "src"))
    assert(j.target.get.ref == DatasetRef("parquet", "/tmp", "out"))
  }

  test("--stra/--mtra append args to the last transformer stage") {
    val (j, _) = parse("-s", "parquet/a/b", "--str", "rename:a;b",
      "--stra", "x", "--stra", "y",
      "-m", "parquet/a/m", "--mkeys", "id", "--mtr", "mask:f", "--mtra", "z")
    assert(j.source.postRead.last.args == Seq("a", "b", "x", "y"))
    assert(j.merger.get.postRead.last.args == Seq("f", "z"))
    intercept[Main.CliError](parse("-s", "parquet/a/b", "--stra", "x"))
  }

  test("--tmap lands on the target; --batch aliases file sizing; misc flags") {
    val (j, o) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--tmap", "id BIGINT, name STRING", "--batch", "5000",
      "--show-args", "--log-level", "ERROR", "-a", "k=v", "-a", "w=2",
      "--msg", "note", "--poll-interval", "5")
    assert(j.target.get.tmap.contains("id BIGINT, name STRING"))
    assert(j.target.get.maxRecordsPerFile == 5000L)
    assert(o.showArgs && o.logLevel.contains("ERROR"))
    assert(o.msg.contains("note k=v w=2"))
    // --batch shares the write-once slot with --max-records-per-file
    intercept[Main.CliError](parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--batch", "10", "--max-records-per-file", "20"))
    intercept[Main.CliError](parse("-s", "parquet/a/b", "--poll-interval", "-1"))
    // --job-run needs no source
    val (_, o2) = parse("--job-run")
    assert(o2.jobRun)
  }

  test("reference parity flags: --log/--log_ds/--pretty/--paginate/--profile/--dev/--etl_api") {
    // none of the seven remaining reference flags may throw (base.py:111-143)
    val (j, o) = parse("-s", "parquet/a/b", "-t", "parquet/c/d",
      "--log", "op,written,-msg", "--log_ds", "/tmp/joblogs",
      "--pretty", "--paginate", "keyset", "--profile", "--etl_api",
      "localhost:6544/api")
    // --log changes the _logs projection; --log_ds relocates the dataset
    assert(j.logFields == Seq("op", "written", "-msg"))
    assert(j.logDs.contains("/tmp/joblogs"))
    assert(j.logPretty)
    assert(o.profile)
    // --paginate forwards into the source query as the `_pagination`
    // control (etl.py:251-259), which the compiler treats as a no-op
    assert(j.source.query.contains("_pagination" -> "keyset"))
    // --dev implies pretty log echo (base.py:257-262's dry-run analog)
    val (j2, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d", "--dev")
    assert(j2.logPretty)
    // --pylog2es (base.py:142) accepted with a notice — O11 complete
    val (j3, _) = parse("-s", "parquet/a/b", "-t", "parquet/c/d", "--pylog2es")
    assert(j3.source.ref.uri.nonEmpty)
    // write-once slots still enforced
    intercept[Main.CliError](parse("-s", "parquet/a/b",
      "--log_ds", "x", "--log_ds", "y"))
  }

  test("errors: unknown flag, missing source, bad op, merger sans keys") {
    intercept[Main.CliError](parse("-s", "parquet/a/b", "--bogus"))
    intercept[Main.CliError](parse("-q", "a=b"))
    intercept[IllegalArgumentException](
      parse("-s", "parquet/a/b", "-t", "parquet/c/d", "-o", "smash"))
    intercept[Main.CliError](parse("-s", "parquet/a/b", "-m", "parquet/a/m"))
  }

  test("progress lines of a write job go to the caller's Console.out") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_progress")
    try {
      val (job, opts) = parse("-s", "parquet//root/testdata/sf0.001/nation",
        "-t", s"parquet/$dir/out", "-o", "create")
      val buf = new java.io.ByteArrayOutputStream()
      // no -y: stdin at end of file proceeds, and progress is reported
      Console.withIn(new java.io.ByteArrayInputStream(Array.emptyByteArray)) {
        Console.withOut(buf)(Main.execute(SparkSpec.session, job, opts))
      }
      val out = buf.toString("UTF-8").linesIterator.toSeq
      assert(out.contains("done: 25 rows written"), out.mkString("\n"))
      assert(out.exists(_.startsWith("progress: stage ")), out.mkString("\n"))
    } finally SparkSpec.deleteTree(dir)
  }

  test("session contract: Main.session(Opts) exists; factory write defaults reach the suite session") {
    // perfbench/src/CliBench.scala builds its session by reflecting on
    // this private method — renaming or re-typing it must fail here
    val m = Main.getClass.getDeclaredMethods.filter(m =>
      m.getName.endsWith("session") &&
        m.getParameterTypes.sameElements(Seq(classOf[Main.Opts])))
    assert(m.length == 1, "graft.cli.Main.session(Opts) not found")
    assert(m.head.getReturnType == classOf[org.apache.spark.sql.SparkSession])
    // the shared suite session comes from GraftSession.builder; calling
    // Main.session here would getOrCreate over its confs
    val s = SparkSpec.session
    assert(s.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(s.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[graft.sources.FastLocalFs].getName)
  }
}
