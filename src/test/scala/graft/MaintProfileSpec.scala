package graft

import graft.operators.{MaintProfile, Snapshot, WriteOps}
import org.apache.spark.sql.functions._

/** The metadata-scale execution profile (r17, verdict #1): the
  * AQE-off + single-partition-shuffle scoping the r16 bench gate
  * carried in its query body now lives INSIDE the maintenance entry
  * points behind a plan-size gate. The load-bearing law here is the
  * JOB-COUNT PARITY test: a PLAIN caller of the CDC-index pipeline —
  * zero conf twiddling, zero explicit scoping — fires exactly the
  * same Spark jobs as a caller who wraps the whole pipeline in the
  * profile by hand (the r16 gate's shape).
  */
class MaintProfileSpec extends SparkSpec {
  import spark.implicits._

  private def confPair: (String, String) =
    (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.shuffle.partitions"))

  test("scoped sets the profile inside, restores the caller's values " +
    "after — including on throw — and nests as a single scope") {
    val before = confPair
    MaintProfile.scoped(spark) {
      assert(confPair == ("false", "1"))
      // nested scope: already engaged — no second set, and the inner
      // exit must NOT restore early
      MaintProfile.scoped(spark) { assert(confPair == ("false", "1")) }
      assert(confPair == ("false", "1"))
    }
    assert(confPair == before)
    intercept[IllegalStateException] {
      MaintProfile.scoped(spark) { throw new IllegalStateException("boom") }
    }
    assert(confPair == before)
    // engage = false is a pure pass-through
    MaintProfile.scoped(spark, engage = false) { assert(confPair == before) }
  }

  test("r18 ADVICE: isolated hands read paths a maintenance TWIN — " +
    "profile pinned on the twin, caller confs untouched, semantic " +
    "confs mirrored") {
    val before = confPair
    val twin = MaintProfile.sessionFor(spark)
    assert(twin ne spark, "the twin is its own session")
    assert(twin.sparkContext eq spark.sparkContext, "same context")
    assert(twin.conf.get("spark.sql.adaptive.enabled") == "false" &&
      twin.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(confPair == before, "caller confs never move")
    // the twin is cached — repeated read-path calls don't rebuild a
    // SessionState each time
    assert(MaintProfile.sessionFor(spark) eq twin)
    // a semantics-bearing conf set on the CALLER after twin creation
    // mirrors on the next handoff, so literals parse identically
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(MaintProfile.sessionFor(spark)
        .conf.get("spark.sql.session.timeZone") == "America/New_York")
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    MaintProfile.isolated(spark) { m =>
      assert(m eq twin)
      // a query on the CALLER planned mid-isolated-call keeps the
      // caller's job profile — the interference scoped() documents
      // for shared sessions does not exist on this path
      assert(confPair == before)
    }
    assert(confPair == before)
  }

  test("r18 ADVICE: concurrent scoped entries cannot interleave the " +
    "save/restore — one holder at a time, the loser runs unengaged, " +
    "no conf leak after both exit") {
    val before = confPair
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      MaintProfile.scoped(spark) {
        held.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      holderDone.set(true)
    })
    t.start()
    assert(held.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // a second thread's scoped entry while the profile is held must
    // neither block nor race the restore: it runs its body and
    // returns promptly (unengaged), leaving the holder's scope intact
    var loserRan = false
    MaintProfile.scoped(spark) { loserRan = true }
    assert(loserRan)
    assert(confPair == ("false", "1"),
      "the holder's profile must survive the loser's exit")
    release.countDown()
    t.join(30000)
    assert(holderDone.get, "holder thread must have completed")
    assert(confPair == before, "confs restore exactly once, no leak")
  }

  test("the size gate: small plans engage, data-scale plans decline, " +
    "a hint overrides the estimate") {
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("id", "txt")
    assert(MaintProfile.small(tiny))
    assert(!MaintProfile.small(tiny, hint = Some(MaintProfile.SmallBytes + 1)))
    assert(MaintProfile.small(tiny, hint = Some(1024L)))
    val big = spark.range(0, 50000000L).toDF("id")
    assert(!MaintProfile.small(big))
  }

  /** Run the gate-shaped CDC pipeline (bootstrap → mutate through DV
    * delete + append upsert → drain) and return the SEQUENCE of Spark
    * jobs it fired (each job named by its stages).
    */
  private def pipelineJobs(tag: String, wrapped: Boolean): Seq[String] = {
    val dir = tempDir(s"maintprof_$tag")
    val p = s"$dir/docs.parquet"
    val docs = (0L until 120L)
      .map(i => (i, s"shared prefix token stream number $i tail words"))
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        names.add(js.stageInfos.map(si =>
          si.name.takeWhile(_ != '\n')).mkString("+"))
      }
    }
    def body(): Unit = {
      WriteOps.atomicOverwrite(spark, docs, p, indexBy = Seq("doc_id"),
        maxRecordsPerFile = 40, commitMode = "snapshot", keepVersions = 6)
      def drain() = graft.streaming.CdfStream.cdfToSignatureIndex(
        spark, p, "doc_id", "text", s"$dir/idx", s"$dir/ckpt",
        n = 3, k = 16, bands = 4, startingVersion = Some(1L),
        keepVersions = 6)
      drain()
      Snapshot.deleteByKeys(spark, p,
        docs.filter(col("doc_id") < 10).select("doc_id"), keepVersions = 6)
      Snapshot.upsertAppend(spark, p,
        docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
          .withColumn("text", lit("replaced by a fixed marker sentence")),
        Seq("doc_id"), indexBy = Seq("doc_id"), keepVersions = 6)
      drain()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      if (wrapped) MaintProfile.scoped(spark)(body()) else body()
      awaitQuiet(() => jobs.get())
      names.toArray(Array.empty[String]).toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("job-count parity (r16 verdict #1): a PLAIN caller of the CDC " +
    "maintenance pipeline fires exactly the jobs a hand-scoped caller " +
    "fires — the profile engages inside the entry points") {
    val before = confPair
    val plain = pipelineJobs("plain", wrapped = false)
    val scoped = pipelineJobs("scoped", wrapped = true)
    // not merely the same COUNT — the same job sequence, stage names
    // included: the entry points reproduce the hand-scoped execution
    assert(plain == scoped,
      s"plain API caller fired ${plain.size} jobs " +
        s"[${plain.mkString(" | ")}] vs ${scoped.size} under the " +
        s"hand-scoped profile [${scoped.mkString(" | ")}] — the entry " +
        "points failed to engage it")
    // and neither run may leak the profile into the session
    assert(confPair == before)
  }
}
