package graft

import graft.cli.Main
import graft.engine.{Metrics, Runner}
import graft.spec.{DatasetRef, JobSpec, SourceSpec, TargetSpec, WriteOp}

/** The engine's job ledger ([[Metrics]]) against an independent
  * witness: a plain SparkListener job counter read with
  * [[awaitQuiet]].
  */
class MetricsSpec extends SparkSpec {

  /** `body`'s result and the Spark jobs started while it ran. */
  private def witnessed[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      awaitQuiet(() => jobs.get())
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private val Nation = DatasetRef("parquet", "/root/testdata/sf0.001", "nation")

  test("the ledger of Runner.execute records every Spark job, each with " +
    "its SQL execution id and a graft. call site") {
    val dir = tempDir("graft_metrics")
    val job = JobSpec(SourceSpec(Nation, query = Seq("n_regionkey__gte" -> "1")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "out"), op = WriteOp.Create)))
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val m = new Metrics(Some(lines.add(_: String)))
    val (res, seen) = witnessed(m.record(spark)(Runner.execute(spark, job)))
    assert(res.written == 20)
    val jobs = m.jobs
    assert(jobs.nonEmpty && jobs.size == seen,
      s"ledger has ${jobs.size} jobs, the witness counted $seen")
    jobs.foreach { j =>
      assert(j.executionId.nonEmpty, s"job ${j.id} has no execution id")
      assert(j.callSite.startsWith("graft."), s"job ${j.id} call site: ${j.callSite}")
      assert(j.endMs.exists(_ >= j.startMs), s"job ${j.id} has no end")
    }
    // one progress line per completed stage; the staged write is counted
    assert(m.stages.nonEmpty && lines.size == m.stages.size)
    assert(m.totals.tasks >= m.stages.size)
    assert(m.totals.outputRecords >= 20)
  }

  test("--profile prints one ledger row per Spark job after the wall clock") {
    val dir = tempDir("graft_profile")
    val (job, opts) = Main.parse(Array("-s", "parquet//root/testdata/sf0.001/nation",
      "-t", s"parquet/$dir/out", "-o", "create", "-y", "--profile"))
    val buf = new java.io.ByteArrayOutputStream()
    val (_, seen) = witnessed(Console.withOut(buf)(Main.execute(spark, job, opts)))
    val out = buf.toString("UTF-8").linesIterator.toSeq
    assert(out.contains("done: 25 rows written"), out.mkString("\n"))
    val wall = out.indexWhere(_.matches("profile: [0-9.]+ s wall-clock"))
    assert(wall >= 0, out.mkString("\n"))
    val rows = out.filter(_.startsWith("profile: job "))
    assert(seen > 0 && rows.size == seen,
      s"${rows.size} ledger rows, the witness counted $seen jobs:\n${out.mkString("\n")}")
    assert(out.indexWhere(_.startsWith("profile: job ")) > wall)
    rows.foreach(r => assert(r.matches(""".* exec=\d+ +graft\..*"""), r))
    assert(out.last.matches("""profile: \d+ stages  tasks=\d+ .*"""), out.last)
  }
}
