package graft

import graft.engine.{Planner, Runner}
import graft.functions.StructUtils
import graft.sources.Resolver
import graft.spec._
import org.apache.spark.sql.functions._

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  test("S12 count honors the _limit cap (min rule, base.py:486-490)") {
    val s = SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "lineitem"),
      Seq("l_returnflag" -> "R", "_limit" -> "10"))
    assert(Runner.count(spark, s) == 10L)
    val noLimit = s.copy(query = Seq("l_returnflag" -> "R"))
    assert(Runner.count(spark, noLimit) > 10L)
  }

  test("S12 metadata-only count: unfiltered snapshot _count runs ZERO Spark jobs") {
    val dir = tempDir("runner_metacount")
    val p = s"$dir/t.parquet"
    val df = (0L until 1234L).map(i => (i, s"v$i")).toDF("id", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 4)
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    // count jobs fired during Runner.count via a listener
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Runner.count(spark, s) == 1234L)
      assert(Runner.count(spark,
        s.copy(query = Seq("_limit" -> "100"))) == 100L)
      awaitQuiet(() => jobs.get())
      assert(jobs.get() == 0,
        s"metadata count must run zero Spark jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(l)
    // a FILTERED count still scans — and agrees with the exact path
    assert(Runner.count(spark,
      s.copy(query = Seq("id__lt" -> "100"))) == 100L)
    // live tombstones disable the fast path but the count stays exact
    graft.operators.Snapshot.deleteByKeys(spark, p,
      (0L until 34L).toDF("id"), keepVersions = 4)
    assert(Runner.count(spark, s) == 1200L)
    // time travel: the pinned pre-delete version still fast-counts
    val (v, _) = graft.operators.Snapshot.resolveVersion(
      new org.apache.hadoop.fs.Path("/").getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(p), None)
    assert(Runner.count(spark,
      s.copy(query = Seq("_version" -> (v - 1).toString))) == 1234L)
  }

  test("plain parquet: Planner.plan with a merger and an unfiltered " +
    "count start ZERO Spark jobs; filtered and csv counts still scan") {
    val dir = tempDir("runner_plain")
    (0L until 500L).map(i => (i, i % 7, s"v$i")).toDF("id", "cust", "txt")
      .repartition(3).write.parquet(s"$dir/src.parquet")
    (0L until 7L).map(c => (c, s"seg$c")).toDF("cust", "seg")
      .write.parquet(s"$dir/cst.parquet")
    (0L until 300L).map(i => (i, (i % 3).toInt, s"p${i % 2}"))
      .toDF("id", "pi", "ps").write.partitionBy("pi", "ps")
      .parquet(s"$dir/hive.parquet")
    spark.read.parquet(s"$dir/src.parquet").write.option("header", "true")
      .csv(s"$dir/src.csv")
    val (job, _) = graft.cli.Main.parse(Array("-s", s"parquet/$dir/src",
      "-m", s"parquet/$dir/cst", "--mkeys", "cust"))
    val src = job.source
    val hive = SourceSpec(DatasetRef("parquet", dir, "hive"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val planned = try {
      val planned = graft.engine.Planner.plan(spark, job)
      assert(Runner.count(spark, src) == 500L)
      assert(Runner.count(spark, src.copy(query = Seq("_limit" -> "100"))) == 100L)
      assert(Runner.count(spark, src.copy(query = Seq("_limit" -> "900"))) == 500L)
      assert(Runner.count(spark, hive) == 300L)
      assert(Runner.count(spark, hive.copy(query = Seq("_limit" -> "7"))) == 7L)
      awaitQuiet(() => jobs.get())
      assert(jobs.get() == 0,
        s"plain-parquet plan and counts must run zero Spark jobs, saw ${jobs.get()}")
      planned
    } finally spark.sparkContext.removeSparkListener(l)
    // the footer totals are the scans' totals, and the plan runs
    assert(spark.read.parquet(s"$dir/hive.parquet").count() == 300L)
    assert(planned.count() == 500L && planned.columns.contains("seg"))
    // a filtered count and a csv count still scan
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Runner.count(spark, src.copy(query = Seq("id__lt" -> "100"))) == 100L)
      assert(Runner.count(spark, hive.copy(query = Seq("pi" -> "1"))) == 100L)
      awaitQuiet(() => jobs.get())
      val filtered = jobs.get()
      assert(filtered >= 2, s"filtered counts must scan, saw $filtered jobs")
      assert(Runner.count(spark, SourceSpec(DatasetRef("csv", dir, "src"))) == 500L)
      awaitQuiet(() => jobs.get())
      assert(jobs.get() > filtered, "a csv count must scan")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("r17 predicate-covered metadata count: interior files decided " +
    "driver-side, boundary files scanned, exact everywhere") {
    import graft.operators.Snapshot
    val dir = tempDir("runner_covcount")
    val p = s"$dir/t.parquet"
    // sorted layout: ids 0..1199 at 200/file → 6 files, tight envelopes
    val df = (0L until 1200L).map(i => (i, i % 7, s"v$i"))
      .toDF("id", "grp", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 6)
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    // range straddling 2 files: 4 interior members from the manifest
    Snapshot.lastMetadataPlan = (-1, -1, -1)
    assert(Runner.count(spark,
      s.copy(query = Seq("id__gte" -> "150", "id__lte" -> "1049"))) == 900L)
    assert(Snapshot.lastMetadataPlan == (4, 2, 6),
      s"expected (covered 4, boundary 2, total 6), " +
        s"got ${Snapshot.lastMetadataPlan}")
    assert(Runner.countPlan(spark,
      s.copy(query = Seq("id__gte" -> "150", "id__lte" -> "1049")))
      .map(t => (t._1, t._2, t._3)).contains(Snapshot.lastMetadataPlan),
      "--dry --count reports the split the count itself used")
    // every exactly-translated op agrees with the closed form
    val cases = Seq(
      Seq("id__lt" -> "777") -> 777L,
      Seq("id__gt" -> "99") -> 1100L,
      Seq("id__in" -> "5,250,999,1200") -> 3L,
      Seq("id__between" -> "100,299") -> 200L,
      Seq("txt__exists" -> "1") -> 1200L,
      Seq("txt__exists" -> "0") -> 0L,
      Seq("id__gte" -> "150", "id__lte" -> "1049", "_limit" -> "42") -> 42L)
    cases.foreach { case (q, want) =>
      assert(Runner.count(spark, s.copy(query = q)) == want, s"query $q") }
    // a predicate that does NOT translate exactly scans — and agrees
    assert(Runner.count(spark,
      s.copy(query = Seq("txt__startswith" -> "v11"))) ==
      (0L until 1200L).count(i => s"v$i".startsWith("v11")))
  }

  test("r17 covered count runs ZERO jobs when no file straddles the " +
    "predicate (partition point; whole-domain range)") {
    import graft.operators.Snapshot
    val dir = tempDir("runner_covzero")
    val p = s"$dir/t.parquet"
    val df = (0L until 900L).map(i => (i, i % 3, s"v$i"))
      .toDF("id", "grp", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      partitionBy = Seq("grp"), indexBy = Seq("id"),
      maxRecordsPerFile = 100, commitMode = "snapshot", keepVersions = 4)
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // partition point: every member of grp=1 is wholly covered by
      // its partition-dir point envelope — zero boundary, zero jobs
      assert(Runner.count(spark,
        s.copy(query = Seq("grp" -> "1"))) == 300L)
      assert(Snapshot.lastMetadataPlan._2 == 0)
      // whole-domain range: all files interior — zero jobs
      assert(Runner.count(spark,
        s.copy(query = Seq("id__gte" -> "0", "id__lte" -> "899"))) == 900L)
      awaitQuiet(() => jobs.get())
      assert(jobs.get() == 0,
        s"fully-covered counts must run zero Spark jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("r17 count version pins: the scan fallback counts the PINNED " +
    "version (ADVICE), and version errors keep the scan path's shape") {
    val dir = tempDir("runner_cntpin")
    val p = s"$dir/t.parquet"
    val df = (0L until 1200L).map(i => (i, s"v$i")).toDF("id", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 6)
    // v+1: DV-delete 100 rows; v+2: append-upsert 50 fresh ids
    graft.operators.Snapshot.deleteByKeys(spark, p,
      (0L until 100L).toDF("id"), keepVersions = 6)
    graft.operators.Snapshot.upsertAppend(spark, p,
      (1200L until 1250L).map(i => (i, s"v$i")).toDF("id", "txt"),
      Seq("id"), indexBy = Seq("id"), keepVersions = 6)
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (head, _) = graft.operators.Snapshot.resolveVersion(fs,
      new org.apache.hadoop.fs.Path(p), None)
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    assert(Runner.count(spark, s) == 1150L) // head, via the scan (tombstones)
    // the PINNED mid version has live tombstones → fast path declines →
    // the fallback must count THAT version, not the head (the r16
    // silent-head bug this pin closes)
    assert(Runner.count(spark,
      s.copy(query = Seq("_version" -> (head - 1).toString))) == 1100L)
    // pre-delete version: tombstone-free, metadata-counted
    assert(Runner.count(spark,
      s.copy(query = Seq("_version" -> (head - 2).toString))) == 1200L)
    // malformed pin / out-of-range ts: loud, from the scan path
    intercept[Exception] { Runner.count(spark,
      s.copy(query = Seq("_version" -> "banana"))) }
    intercept[Exception] { Runner.count(spark,
      s.copy(query = Seq("_version_ts" -> "1970-01-01 00:00:00"))) }
  }

  test("r17 metadata aggregates: min/max/count answer from the " +
    "manifest as a LOCAL relation; undecidable shapes scan, exact") {
    import graft.engine.Planner
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = tempDir("runner_metaagg")
    val p = s"$dir/t.parquet"
    val df = (0L until 1200L)
      .map(i => (i, if (i % 5 == 0) null else s"v$i")).toDF("id", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 6)
    def q(qs: (String, String)*) = Planner.sourceFrame(spark,
      SourceSpec(DatasetRef("parquet", dir, "t"), query = qs))
    def isLocal(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val fast = q("_agg" -> "min:id,max:id,count")
    assert(isLocal(fast), "decidable aggregate must plan locally")
    assert(fast.collect().map(_.toSeq).toSeq == Seq(Seq(0L, 1199L, 1200L)))
    // count of a NULLABLE field is not envelope-decidable → scan, exact
    val cntTxt = q("_agg" -> "count:txt")
    assert(!isLocal(cntTxt))
    assert(cntTxt.head().getLong(0) == 960L)
    // string min/max: truncated bounds are inexact → scan, exact
    val sMin = q("_agg" -> "min:txt")
    assert(!isLocal(sMin))
    assert(sMin.head().getString(0) == "v1") // v0 is null (0 % 5 == 0)
    // live tombstones decline the fast path; the scan stays exact and
    // a PINNED pre-delete version fast-answers again
    graft.operators.Snapshot.deleteByKeys(spark, p,
      (0L until 100L).toDF("id"), keepVersions = 6)
    val afterDel = q("_agg" -> "min:id,count")
    assert(!isLocal(afterDel))
    assert(afterDel.collect().map(_.toSeq).toSeq == Seq(Seq(100L, 1100L)))
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (head, _) = graft.operators.Snapshot.resolveVersion(fs,
      new org.apache.hadoop.fs.Path(p), None)
    val pinned = q("_agg" -> "min:id,count",
      "_version" -> (head - 1).toString)
    assert(isLocal(pinned))
    assert(pinned.collect().map(_.toSeq).toSeq == Seq(Seq(0L, 1200L)))
    // with LIVE tombstones a predicate still composes with the scan
    // (the r18 covered-aggregate plan declines — tombstones subtract
    // unknown amounts); so does a non-partition group key
    assert(!isLocal(q("_agg" -> "min:id", "id__gte" -> "7")))
    assert(!isLocal(q("_agg" -> "min:id", "_group" -> "txt")))
  }

  test("r18 predicate-covered metadata aggregates: covered envelopes " +
    "fold driver-side, only boundary files scan, merges exact; " +
    "demotion per member, zero jobs when fully covered") {
    import graft.engine.Planner
    import graft.operators.Snapshot
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = tempDir("runner_covagg")
    val p = s"$dir/t.parquet"
    val d0 = java.time.LocalDate.of(2020, 1, 1)
    val df = (0L until 1200L)
      .map(i => (i, java.sql.Date.valueOf(d0.plusDays(i / 40)),
        if (i % 5 == 0) null else s"v$i"))
      .toDF("id", "d", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 4,
      statsCols = Seq("d"))
    def q(qs: (String, String)*) = Planner.sourceFrame(spark,
      SourceSpec(DatasetRef("parquet", dir, "t"), query = qs))
    def isLocal(x: org.apache.spark.sql.DataFrame) =
      x.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    // range straddling two files: 4 covered members fold, 2 scan
    Snapshot.lastMetadataPlan = (-1, -1, -1)
    val f = q("_agg" -> "min:d,max:d,count",
      "id__gte" -> "150", "id__lte" -> "1049")
    assert(isLocal(f), "covered aggregate must end as a local relation")
    val want = df.filter(col("id") >= 150 && col("id") <= 1049)
      .agg(min(col("d")), max(col("d")), count(lit(1))).head()
    assert(f.head().toSeq == want.toSeq,
      s"merged (covered fold + boundary scan) must equal the scan: " +
        s"${f.head().toSeq} vs ${want.toSeq}")
    assert(Snapshot.lastMetadataPlan == (4, 2, 6),
      s"expected (covered 4, boundary 2, total 6), " +
        s"got ${Snapshot.lastMetadataPlan}")
    // count(f) on a column with nulls and NO recorded envelope:
    // every kept member DEMOTES to the boundary — exact, not declined
    Snapshot.lastMetadataPlan = (-1, -1, -1)
    val ct = q("_agg" -> "count:txt", "id__lt" -> "500")
    assert(ct.head().getLong(0) ==
      df.filter(col("id") < 500).agg(count(col("txt"))).head().getLong(0))
    assert(Snapshot.lastMetadataPlan._1 == 0 && Snapshot.lastMetadataPlan._2 > 0,
      s"txt has no envelope — all kept members must scan, " +
        s"got ${Snapshot.lastMetadataPlan}")
    // a fully-covered range runs ZERO jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val z = q("_agg" -> "min:id,max:id,count",
        "id__gte" -> "0", "id__lte" -> "1199")
      assert(z.head().toSeq == Seq(0L, 1199L, 1200L))
      awaitQuiet(() => jobs.get())
      assert(jobs.get() == 0,
        s"fully-covered aggregate must run zero jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(l)
    // an EMPTY range: count 0, min/max SQL-null — the scan's answer
    val e = q("_agg" -> "min:d,count", "id__gt" -> "5000")
    assert(e.head().isNullAt(0) && e.head().getLong(1) == 0L)
    // min/max of a STRING column declines the whole plan → scan, exact
    val sm = q("_agg" -> "min:txt", "id__gte" -> "7")
    assert(!isLocal(sm))
    assert(sm.head().getString(0) ==
      df.filter(col("id") >= 7).agg(min(col("txt"))).head().getString(0))
  }

  test("r18 countPlan (--dry provenance): the covered/boundary/total " +
    "split without execution — zero jobs; scan shapes report None") {
    val dir = tempDir("runner_dryplan")
    val p = s"$dir/t.parquet"
    val df = (0L until 1200L).map(i => (i, s"v$i")).toDF("id", "txt")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 4)
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Runner.countPlan(spark, s.copy(query =
        Seq("id__gte" -> "150", "id__lte" -> "1049")))
        .contains((4, 2, 6, 800L)),
        "4 covered files of 200 rows, 2 straddling, 6 total")
      // a predicate that does not translate exactly → scan path → None
      assert(Runner.countPlan(spark, s.copy(query =
        Seq("txt__startswith" -> "v1"))).isEmpty)
      // a plain (non-snapshot) parquet dir → None
      val plainDir = tempDir("runner_dryplain")
      df.write.parquet(s"$plainDir/t.parquet")
      assert(Runner.countPlan(spark,
        SourceSpec(DatasetRef("parquet", plainDir, "t"))).isEmpty)
      awaitQuiet(() => jobs.get())
      // the plain-dir write above runs jobs; the PLAN calls must not
      // add any beyond it
      val afterWrite = jobs.get()
      Runner.countPlan(spark, s.copy(query =
        Seq("id__gte" -> "0", "id__lte" -> "99")))
      awaitQuiet(() => jobs.get())
      assert(jobs.get() == afterWrite,
        "countPlan must classify members without running a job")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("r18 ADVICE: TimestampNTZ metadata min/max fast-paths and " +
    "round-trips the wall-clock external value exactly") {
    import graft.engine.Planner
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import java.time.LocalDateTime
    val dir = tempDir("runner_metantz")
    val p = s"$dir/t.parquet"
    val base = LocalDateTime.of(2021, 3, 14, 9, 26, 53, 589793000)
    val df = (0 until 500)
      .map(i => (i.toLong, base.plusMinutes(i))).toDF("id", "ts")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("ts"), maxRecordsPerFile = 100,
      commitMode = "snapshot", keepVersions = 4)
    val fast = Planner.sourceFrame(spark, SourceSpec(
      DatasetRef("parquet", dir, "t"),
      query = Seq("_agg" -> "min:ts,max:ts,count")))
    assert(fast.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "NTZ min/max must answer from the manifest")
    val row = fast.head()
    // the fast path's EXTERNAL values: the exact wall-clock instants
    // written, nanos truncated to micros (the parquet/domain unit)
    assert(row.getAs[LocalDateTime]("min_ts") ==
      base.withNano(589793000 / 1000 * 1000))
    assert(row.getAs[LocalDateTime]("max_ts") ==
      base.plusMinutes(499).withNano(589793000 / 1000 * 1000))
    assert(row.getAs[Long]("count_all") == 500L)
    // and they equal the scan's answer bit-for-bit
    val scan = Resolver.readParquet(spark, p)
      .agg(min(col("ts")), max(col("ts"))).head()
    assert(row.getAs[LocalDateTime]("min_ts") == scan.get(0))
    assert(row.getAs[LocalDateTime]("max_ts") == scan.get(1))
  }

  test("r18 per-group metadata aggregates: partition-value GROUP BY " +
    "answers from the manifest with ZERO jobs — null partition " +
    "included; non-partition groups and tombstones decline, exact") {
    import graft.engine.Planner
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = tempDir("runner_gmeta")
    val p = s"$dir/t.parquet"
    val df = (0L until 900L)
      .map(i => (i, if (i % 10 == 0) null else s"g${i % 3}", i % 7))
      .toDF("id", "grp", "sub")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      partitionBy = Seq("grp"), indexBy = Seq("id"),
      maxRecordsPerFile = 100, commitMode = "snapshot", keepVersions = 4)
    def q(qs: (String, String)*) = Planner.sourceFrame(spark,
      SourceSpec(DatasetRef("parquet", dir, "t"), query = qs))
    def isLocal(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    val expect = df.groupBy("grp")
      .agg(count(lit(1)).as("count_all"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .collect().map(_.toSeq).toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val grouped = q("_group" -> "grp",
        "_agg" -> "count,min:id,max:id")
      assert(isLocal(grouped), "partition-group aggregate must be local")
      assert(grouped.columns.toSeq ==
        Seq("grp", "count_all", "min_id", "max_id"))
      assert(grouped.collect().map(_.toSeq).toSet == expect,
        "grouped metadata fold must equal the scan's GROUP BY — " +
          "null partition group included")
      awaitQuiet(() => jobs.get())
      assert(jobs.get() == 0,
        s"grouped metadata aggregate must run zero jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(l)
    // `_sort`/`_limit` compose on the local relation and stay exact
    val sorted = q("_group" -> "grp", "_agg" -> "count",
      "_sort" -> "-count_all", "_limit" -> "2")
    assert(sorted.collect().map(_.getAs[Long]("count_all")).toSeq ==
      expect.toSeq.map(_(1).asInstanceOf[Long]).sorted.reverse.take(2))
    // a NON-partition group key needs the rows → scan, exact
    val bySub = q("_group" -> "sub", "_agg" -> "count")
    assert(!isLocal(bySub))
    assert(bySub.collect().map(_.toSeq).toSet ==
      df.groupBy("sub").agg(count(lit(1)).as("count_all"))
        .collect().map(_.toSeq).toSet)
    // live tombstones decline; the pinned pre-delete version fast-paths
    graft.operators.Snapshot.deleteByKeys(spark, p,
      (0L until 30L).toDF("id"), keepVersions = 4)
    assert(!isLocal(q("_group" -> "grp", "_agg" -> "count")))
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (head, _) = graft.operators.Snapshot.resolveVersion(fs,
      new org.apache.hadoop.fs.Path(p), None)
    val pinned = q("_group" -> "grp", "_agg" -> "count,min:id,max:id",
      "_version" -> (head - 1).toString)
    assert(isLocal(pinned))
    assert(pinned.collect().map(_.toSeq).toSet == expect)
  }

  test("r17 covered count on STRING keys: truncated byte-bound " +
    "envelopes prove interior files") {
    import graft.operators.Snapshot
    val dir = tempDir("runner_cntstr")
    val p = s"$dir/t.parquet"
    val df = (0L until 600L).map(i => (i,
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString)).toDF("id", "k")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("k"), maxRecordsPerFile = 50,
      commitMode = "snapshot", keepVersions = 4)
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    Snapshot.lastMetadataPlan = (-1, -1, -1)
    val got = Runner.count(spark,
      s.copy(query = Seq("k__gte" -> "2", "k__lt" -> "8")))
    val want = Resolver.readParquet(spark, p)
      .filter(col("k") >= "2" && col("k") < "8").count()
    assert(got == want)
    val (cov, bnd, tot) = Snapshot.lastMetadataPlan
    assert(cov > 0 && bnd <= 2 && cov + bnd < tot,
      s"string range must cover interior files from byte bounds " +
        s"(covered $cov, boundary $bnd of $tot)")
  }

  test("covered count: IN over a long envelope wider than 2^63 " +
    "(a 64-bit hash key) goes to the boundary scan, exact") {
    val dir = tempDir("runner_widein")
    val p = s"$dir/t.parquet"
    // id * the 64-bit golden ratio spreads every 100-row member's h
    // envelope over nearly the whole long domain
    val df = (0L until 400L).map(i => (i,
      if (i == 7) 1L else if (i == 8) 2L else i * 0x9E3779B97F4A7C15L))
      .toDF("id", "h")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 100,
      commitMode = "snapshot", keepVersions = 4, statsCols = Seq("h"))
    val s = SourceSpec(DatasetRef("parquet", dir, "t"),
      query = Seq("h__in" -> "1,2"))
    assert(Runner.count(spark, s) == 2L)
    assert(Runner.countPlan(spark, s).exists(t => t._1 == 0 && t._2 > 0))
  }

  test("metadata plan on a manifest WITHOUT recorded rows (pre-r16): " +
    "min/max fold from envelopes, counts scan, every answer exact") {
    import graft.engine.Planner
    import graft.operators.Snapshot
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = tempDir("runner_rowless")
    val p = s"$dir/t.parquet"
    val d0 = java.time.LocalDate.of(2020, 1, 1)
    val df = (0L until 1200L)
      .map(i => (i, java.sql.Date.valueOf(d0.plusDays(i / 40))))
      .toDF("id", "d")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      indexBy = Seq("id"), maxRecordsPerFile = 200,
      commitMode = "snapshot", keepVersions = 4, statsCols = Seq("d"))
    // commit the same membership again with every `rows` field dropped:
    // the manifest a writer before r16 would have left
    val root = new Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, vdir) = Snapshot.resolveVersion(fs, root, None)
    val m = Snapshot.manifestAt(fs, vdir).get
    val v2dir = new Path(root, f"_v_${v + 1}%020d")
    graft.operators.ManifestCodec.writeManifest(fs, v2dir,
      m.copy(entries = m.entries.map(_.copy(rows = None))))
    fs.create(new Path(v2dir, graft.operators.Versioned.Marker), false).close()
    Snapshot.clearResolvedCache()
    val s = SourceSpec(DatasetRef("parquet", dir, "t"))
    def q(qs: (String, String)*) =
      Planner.sourceFrame(spark, s.copy(query = qs))
    def isLocal(x: org.apache.spark.sql.DataFrame) =
      x.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    def scan(c: org.apache.spark.sql.Column) = df.filter(c)
      .agg(min(col("id")), max(col("id")), min(col("d")), max(col("d")),
        count(lit(1))).head().toSeq
    val range = Seq("id__gte" -> "150", "id__lte" -> "1049")
    val inRange = col("id") >= 150 && col("id") <= 1049
    // counts need the rows: every kept member scans
    assert(Runner.count(spark, s.copy(query = range)) == 900L)
    assert(Runner.countPlan(spark, s.copy(query = range))
      .contains((0, 6, 6, 0L)))
    // min/max need only envelopes: interior members fold, two scan
    Snapshot.lastMetadataPlan = (-1, -1, -1)
    val mm = q(range :+ ("_agg" -> "min:id,max:id,min:d,max:d"): _*)
    assert(mm.head().toSeq == scan(inRange).take(4))
    assert(Snapshot.lastMetadataPlan == (4, 2, 6),
      s"got ${Snapshot.lastMetadataPlan}")
    val withCount =
      q(range :+ ("_agg" -> "min:id,max:id,min:d,max:d,count"): _*)
    assert(withCount.head().toSeq == scan(inRange))
    // unfiltered: min/max answer locally; a count declines to the scan
    val whole = q("_agg" -> "min:id,max:d")
    assert(isLocal(whole))
    assert(whole.head().toSeq == Seq(0L, java.sql.Date.valueOf(d0.plusDays(29))))
    val cnt = q("_agg" -> "count")
    assert(!isLocal(cnt) && cnt.head().getLong(0) == 1200L)
  }

  test("O2 auto worker sizing: ceil(total/1000) capped at 100") {
    assert(Runner.autoWorkers(0) == 1)
    assert(Runner.autoWorkers(999) == 1)
    assert(Runner.autoWorkers(1001) == 2)
    assert(Runner.autoWorkers(1000000) == 100)
  }

  test("S7 wildcard expansion lists matching datasets") {
    val refs = Resolver.expandWildcard(spark,
      DatasetRef("parquet", "/root/testdata/sf0.001", "*"))
    assert(refs.map(_.name).contains("lineitem"))
    assert(refs.size == 10)
    val some = Resolver.expandWildcard(spark,
      DatasetRef("parquet", "/root/testdata/sf0.001", "*ion"))
    assert(some.map(_.name).toSet == Set("nation", "region"))
  }

  test("O10 confirm gate: 'n' skips the write, 'y' and --silent run it") {
    import graft.cli.Main
    val dir = tempDir("graft_gate")
    def job(name: String) = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, name),
        op = WriteOp.Create)))
    def exists(name: String) =
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$name.parquet"))
    // declined → Skipped, nothing written
    Console.withIn(new java.io.StringReader("n\n")) {
      Main.execute(spark, job("g1"), Main.Opts())
    }
    assert(!exists("g1"))
    // confirmed → written
    Console.withIn(new java.io.StringReader("y\n")) {
      Main.execute(spark, job("g2"), Main.Opts())
    }
    assert(exists("g2"))
    // --silent → no prompt
    Main.execute(spark, job("g3"), Main.Opts(silent = true))
    assert(exists("g3"))
    // EOF / no stdin (scripted run) → proceeds, no silent no-op
    Console.withIn(new java.io.StringReader("")) {
      Main.execute(spark, job("g5"), Main.Opts())
    }
    assert(exists("g5"))
    // empty source (filter matches nothing) → refused before the gate
    val empty = job("g4").copy(source = SourceSpec(
      DatasetRef("parquet", "/root/testdata/sf0.001", "region"),
      query = Seq("r_name" -> "NOPE")))
    Main.execute(spark, empty, Main.Opts(silent = true))
    assert(!exists("g4"))
  }

  test("F6: `-q _count=1` without a target is count mode (base.py:483), not preview") {
    import graft.cli.Main
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.execute(spark, JobSpec(SourceSpec(
        DatasetRef("parquet", "/root/testdata/sf0.001", "region"),
        query = Seq("_count" -> "1"))), Main.Opts())
    }
    assert(out.toString("UTF-8").trim == "5") // region has 5 rows; no preview table
  }

  test("execute makes one pass over the read side (checkpoint + cached count + write)") {
    val dir = tempDir("graft_onepass")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "one_pass"),
        op = WriteOp.Create)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = Runner.execute(spark, job, log = false)
      // listener events are async; give the bus a moment to drain
      Thread.sleep(500)
      assert(res.written == 5)
      // observed breakdown: parquet footer read, batch localCheckpoint
      // (the ONLY pass over the source plan), cached count + AQE stage
      // jobs, temp-dir write. The old shape added a full second
      // computation of the read side for the bookkeeping count.
      assert(jobs.get() <= 6, s"expected <=6 Spark jobs, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("O12 etlSetting: flat + nested lookup from the _settings dataset") {
    val ns = tempDir("graft_settings")
    Seq(("prod", 1000L, ("on", 7)))
      .toDF("env", "batch_size", "limits")
      .select($"env", $"batch_size", $"limits".cast("struct<mode:string,max:int>"))
      .write.parquet(s"$ns/_settings.parquet")
    assert(Runner.etlSetting(spark, ns, "env").contains("prod"))
    assert(Runner.etlSetting(spark, ns, "batch_size").contains(1000L))
    // dotted names reach nested struct fields via the _flat DSL
    assert(Runner.etlSetting(spark, ns, "limits.max").contains(7))
    assert(Runner.etlSetting(spark, ns, "nope").isEmpty)
  }

  test("O3 progress: stage/record events reported during execute") {
    val dir = tempDir("graft_prog")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "prog"),
        op = WriteOp.Create)))
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val res = Runner.execute(spark, job, log = false,
      progress = Some(events.add(_: String)))
    assert(res.written == 5)
    val lines = events.toArray(Array.empty[String])
    assert(lines.nonEmpty, "no progress events observed")
    assert(lines.forall(_.startsWith("progress: stage ")))
    assert(lines.exists(_.contains("records read")))
  }

  test("--stream rejects spec elements the streaming path would drop") {
    import graft.cli.Main
    def run(args: String*): Unit = {
      val (job, opts) = Main.parse(args.toArray)
      Main.execute(spark, job, opts)
    }
    val base = Seq("-s", "parquet//root/testdata/sf0.001/events",
      "-t", "parquet//tmp/graft_stream_rej/out", "--stream")
    intercept[Main.CliError] { run(base ++ Seq("-q", "_sort=ts"): _*) }
    intercept[Main.CliError] { run(base ++ Seq("-q", "_limit=5"): _*) }
    // stateful stage: Spark's streaming analyzer rejects the plan and
    // the CLI translates it (stateless stages now stream — next test)
    intercept[Main.CliError] {
      run(base ++ Seq("--str", "rollup_state:event_type;count"): _*)
    }
    intercept[Main.CliError] {
      run(base ++ Seq("-m", "parquet//root/testdata/sf0.001/nation",
        "--mkeys", "n_nationkey"): _*)
    }
    intercept[Main.CliError] {
      run("-s", "parquet//root/testdata/sf0.001/events",
        "-t", "csv//tmp/graft_stream_rej/out", "--stream")
    }
    // versioned commit mode / versioned-layout target: streamed
    // appends would be invisible to the version resolver
    intercept[Main.CliError] { run(base ++ Seq("--commit", "versioned"): _*) }
    val vdir = tempDir("graft_stream_v")
    graft.operators.WriteOps.atomicOverwrite(spark,
      sf("region"), s"$vdir/out.parquet", commitMode = "versioned")
    intercept[Main.CliError] {
      run("-s", "parquet//root/testdata/sf0.001/events",
        "-t", s"parquet/$vdir/out", "--stream")
    }
  }

  test("--stream runs STATELESS --str stages with batch parity") {
    import graft.cli.Main
    val dir = tempDir("graft_stream_str")
    sf("documents").limit(200).write.parquet(s"$dir/docs.parquet")
    val (job, opts) = Main.parse(Array(
      "-s", s"parquet/$dir/docs",
      "-q", "doc_id__lt=50",
      "--str", "set_expr:up;upper(text)",
      "-q", "_fields=doc_id,up",
      "-t", s"parquet/$dir/out", "--stream"))
    Main.execute(spark, job, opts)
    val got = spark.read.parquet(s"$dir/out.parquet")
    val want = spark.read.parquet(s"$dir/docs.parquet")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), upper(col("text")).as("up"))
    assert(got.columns.toSeq == Seq("doc_id", "up"))
    assert(got.count() == want.count() &&
      got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("versioned commit end-to-end through Runner.execute") {
    val dir = tempDir("graft_vexe")
    val t = TargetSpec(DatasetRef("parquet", dir, "r"), op = WriteOp.Create,
      commitMode = "versioned", skipTimestamp = true)
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")), target = Some(t))
    Runner.execute(spark, job, log = false)
    // second run: upsert through the SAME versioned protocol
    Runner.execute(spark, JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(t.copy(op = WriteOp.Upsert, pk = Seq("r_regionkey")))), log = false)
    val out = graft.sources.Resolver.readParquet(spark, s"$dir/r.parquet")
    assert(out.count() == 5)
    assert(new java.io.File(s"$dir/r.parquet").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("_v_")) == 2)
  }

  test("execute writes a target atomically and logs the job") {
    val dir = tempDir("graft_exec")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "region_copy"),
        op = WriteOp.Create)))
    val res = Runner.execute(spark, job)
    assert(res.written == 5)
    val written = spark.read.parquet(s"$dir/region_copy.parquet")
    assert(written.columns.contains("_etl_ts"))
    assert(written.count() == 5)
    val logs = spark.read.parquet(s"$dir/_logs.parquet")
    assert(logs.count() == 1 && logs.select("op").as[String].head() == "create")
  }

  test("--log projects the _logs record; --log_ds relocates it (W13)") {
    val dir = tempDir("graft_logp")
    val logDir = tempDir("graft_logp_ds")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "rl"),
        op = WriteOp.Create)),
      logDs = Some(logDir), logFields = Seq("op", "written"))
    Runner.execute(spark, job)
    // relocated by --log_ds: nothing in the target ns, record in logDs
    assert(!new java.io.File(s"$dir/_logs.parquet").exists())
    val logs = spark.read.parquet(s"$logDir/_logs.parquet")
    // --log projection applied; uid survives (jobStatus dedup key)
    assert(logs.columns.sorted.toSeq == Seq("op", "uid", "written"))
    assert(logs.select("op").as[String].head() == "create")
  }

  test("job-log compaction folds small files without losing concurrent appends") {
    val dir = tempDir("graft_logc")
    val logPath = s"$dir/_logs.parquet"
    // simulate 70 prior jobs' one-file appends
    import spark.implicits._
    (1 to 70).foreach { i =>
      Seq((s"uid-$i", "s", "t", "create", 1L, "", "", new java.sql.Timestamp(i.toLong)))
        .toDF("uid", "source", "target", "op", "written", "msg", "cron", "ts")
        .coalesce(1).write.mode("append").parquet(logPath)
    }
    // one real job in the same ns triggers the compaction
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "r2"), op = WriteOp.Create)))
    Runner.execute(spark, job)
    val logs = spark.read.parquet(logPath)
    assert(logs.count() == 71, "compaction lost log rows")
    assert(logs.select("uid").distinct().count() == 71)
    val partFiles = new java.io.File(logPath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(partFiles <= 4, s"expected folded log, still $partFiles part files")
    // jobStatus still answers over the compacted log
    assert(Runner.jobStatus(spark, dir, Seq("uid" -> "last")).count() == 1)
  }

  test("O4 fixpoint loop terminates and processes all pending rows") {
    val dir = tempDir("graft_loop")
    sf("events").limit(50).write.parquet(s"$dir/ev.parquet")
    val ref = DatasetRef("parquet", dir, "ev")
    // self-update: mark all rows processed via upsert on event_id
    val job = JobSpec(
      SourceSpec(ref, Seq("_contid__exists" -> "0")),
      target = Some(TargetSpec(ref, op = WriteOp.Upsert, pk = Seq("event_id"))),
      contid = Some("run-1"))
    val res = Runner.runLoop(spark, job)
    assert(res.iterations >= 1)
    val after = spark.read.parquet(s"$dir/ev.parquet")
    assert(after.filter(col("_contid") === "run-1").count() == 50)
    // loop again: nothing pending, 0 iterations
    val res2 = Runner.runLoop(spark, job)
    assert(res2.iterations == 0)
  }

  test("[EXT] partitioned target write: hive layout + partition pruning") {
    val dir = tempDir("graft_part")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "orders")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "orders_p"),
        op = WriteOp.Create, partitionBy = Seq("o_orderstatus"),
        maxRecordsPerFile = 200)))
    Runner.execute(spark, job, log = false)
    val root = new java.io.File(s"$dir/orders_p.parquet")
    assert(root.listFiles().exists(_.getName.startsWith("o_orderstatus=")))
    val back = spark.read.parquet(root.toString)
    val plan = back.filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"))
    assert(back.count() == sf("orders").count())
  }

  test("O3 jobStatus queries the job log with the DSL; uid=last") {
    val dir = tempDir("graft_jobs")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "r1"), op = WriteOp.Create)))
    Runner.execute(spark, job)
    Runner.execute(spark, job.copy(target = Some(
      TargetSpec(DatasetRef("parquet", dir, "r2"), op = WriteOp.Create))))
    assert(Runner.jobStatus(spark, dir).count() == 2)
    val last = Runner.jobStatus(spark, dir, Seq("uid" -> "last"))
    assert(last.count() == 1)
    assert(last.select("target").as[String].head().endsWith("r2"))
    val filtered = Runner.jobStatus(spark, dir, Seq("op" -> "create", "written__gte" -> "5"))
    assert(filtered.count() == 2)
  }

  test("O4 chunked fixpoint: a 40%-of-pending cap converges in 3 real iterations") {
    val dir = tempDir("graft_chunked")
    sf("orders").limit(1000).write.parquet(s"$dir/o.parquet")
    val ref = DatasetRef("parquet", dir, "o")
    // counts 400, 400, 200, 0 — the cap repeats only twice, so the
    // unchanged-twice termination rule never fires early
    val job = JobSpec(
      SourceSpec(ref, Seq("_limit" -> "400"),
        postRead = Seq(graft.spec.TransformStage("set_expr",
          Seq("o_orderpriority", "lower(o_orderpriority)")))),
      target = Some(TargetSpec(ref, op = WriteOp.Upsert, pk = Seq("o_orderkey"))),
      contid = Some("chunk-1"))
    val res = Runner.runLoop(spark, job)
    assert(res.iterations == 3, s"expected 3 iterations, got ${res.iterations}")
    val after = spark.read.parquet(s"$dir/o.parquet")
    assert(after.filter(col("_contid") === "chunk-1").count() == 1000)
    assert(after.filter(col("o_orderpriority") =!= lower(col("o_orderpriority"))).count() == 0)
    // idempotent: nothing pending on a re-run with the same contid
    assert(Runner.runLoop(spark, job).iterations == 0)
  }

  test("O4 non-self-update contid job runs exactly once (no duplicate appends)") {
    val dir = tempDir("graft_once")
    val job = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "region")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "r"), op = WriteOp.Create)),
      contid = Some("run-x"))
    val res = Runner.runLoop(spark, job)
    assert(res.iterations == 1)
    assert(spark.read.parquet(s"$dir/r.parquet").count() == 5)
  }

  test("execute reports batch rows written, not the post-op target total") {
    val dir = tempDir("graft_written")
    val all = JobSpec(
      SourceSpec(DatasetRef("parquet", "/root/testdata/sf0.001", "orders")),
      target = Some(TargetSpec(DatasetRef("parquet", dir, "t"),
        op = WriteOp.Upsert, pk = Seq("o_orderkey"))))
    assert(Runner.execute(spark, all, log = false).written == 1500)
    val small = all.copy(source = all.source.copy(
      query = Seq("o_orderkey__lt" -> "100")))
    // upsert of a 24-row batch into the 1500-row target reports 24
    assert(Runner.execute(spark, small, log = false).written ==
      sf("orders").filter(col("o_orderkey") < 100).count())
  }

  test("§2.7 diff: symmetric difference with context columns") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((2L, "y"), (3L, "z")).toDF("id", "v")
    val d = Runner.diff(a, b)
    assert(rows(d.orderBy("id")) == Seq(Seq(1L, "x", "a"), Seq(3L, "z", "b")))
  }

  test("flat↔nest roundtrip (base.py:298 flat/unflat analog)") {
    val df = Seq((1L, "us", 2.0)).toDF("id", "code", "amt")
      .selectExpr("id", "struct(code, amt) as geo")
    val flat = StructUtils.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "geo_code", "geo_amt"))
    val back = StructUtils.nest(flat)
    assert(back.columns.toSeq == Seq("id", "geo"))
    assert(rows(back.select("geo.code")) == Seq(Seq("us")))
    // name collisions keep both columns flat instead of dropping one
    val clash = Seq((1L, 2L, 3L)).toDF("a", "a_b", "a_b_c")
    val nested = StructUtils.nest(clash)
    assert(nested.columns.toSet == Set("a", "a_b", "a_b_c"))
  }

  test("S10 drop dataset") {
    val dir = tempDir("graft_drop")
    sf("region").write.parquet(s"$dir/r.parquet")
    val ref = DatasetRef("parquet", dir, "r")
    assert(Resolver.drop(spark, ref))
    assert(Resolver.expandWildcard(spark, ref.copy(name = "*")).isEmpty)
  }

  // ── barrier stages and the create promote (Runner.executeInner) ──

  /** 60 docs, 20 of them near-copies of others, with a distinct
    * `score` per doc, as a parquet dataset `docs` under `dir`. */
  private def docs(dir: String): DatasetRef = {
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    (0L until 60L).map { i =>
      val body = (0 until 12).map(j => words(((i * 7 + j * 3) % 10).toInt)).mkString(" ")
      val text = if (i >= 40) s"${words(((i - 40) * 7 % 10).toInt)} " +
        (0 until 12).map(j => words((((i - 40) * 7 + j * 3) % 10).toInt)).mkString(" ")
        else s"doc $i $body"
      (i, text, (i * 37) % 61)
    }.toDF("doc_id", "text", "score").repartition(3)
      .write.parquet(s"$dir/docs.parquet")
    DatasetRef("parquet", dir, "docs")
  }

  private def createJob(src: DatasetRef, tgt: DatasetRef,
                        query: Seq[(String, String)] = Nil,
                        chain: Seq[TransformStage] = Nil,
                        t: TargetSpec => TargetSpec = identity): JobSpec =
    JobSpec(SourceSpec(src, query, chain),
      target = Some(t(TargetSpec(tgt, op = WriteOp.Create))))

  private def outputRecords(body: => Any): Long = {
    val m = new graft.engine.Metrics()
    m.record(spark)(body)
    m.totals.outputRecords
  }

  private def stageSiblings(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.contains("._stage_"))

  test("Runner.execute evaluates the chain before a barrier once per source row") {
    val dir = tempDir("graft_once")
    val src = docs(dir)
    spark.udf.register("graft_tick", udf { (i: Long) =>
      RunnerSpec.ticks.incrementAndGet(); i }.asNondeterministic())
    val job = createJob(src, DatasetRef("parquet", dir, "out"), chain = Seq(
      TransformStage("set_expr", Seq("doc_id", "graft_tick(doc_id)")),
      TransformStage("dedup_keep_best", Seq("score", "doc_id", "text"))))
    RunnerSpec.ticks.set(0)
    val res = Runner.execute(spark, job, log = false)
    assert(RunnerSpec.ticks.get() == 60L,
      s"the chain ran over ${RunnerSpec.ticks.get()} rows for 60 source rows")
    val written = Resolver.readParquet(spark, s"$dir/out.parquet").drop("_etl_ts")
    val lazyPlan = Planner.plan(spark, job)
    assert(res.written == written.count() && written.count() < 60L)
    assert(rows(written.orderBy("doc_id")) == rows(lazyPlan.orderBy("doc_id")))
    assert(stageSiblings(dir).isEmpty)
  }

  test("a sorted source keeps its order through a barrier: expect + limit " +
    "writes what the lazy plan returns") {
    val dir = tempDir("graft_sorted_barrier")
    val src = docs(dir)
    val job = createJob(src, DatasetRef("parquet", dir, "top"),
      query = Seq("_sort" -> "-score"),
      chain = Seq(TransformStage("expect", Seq("score >= 0")),
        TransformStage("limit", Seq("5"))))
    val conf = spark.conf
    val prev = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> conf.getOption(k))
    // several sorted part files, so a stage read back out of order shows
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "8")
    try {
      Runner.execute(spark, job, log = false)
      val top = Resolver.readParquet(spark, s"$dir/top.parquet")
        .select("doc_id").as[Long].collect().toSet
      assert(top == Runner.preview(spark, job, 5).map(_.getAs[Long]("doc_id")).toSet)
      assert(top == (0L until 60L).sortBy(i => -((i * 37) % 61)).take(5).toSet)
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("-o create into an absent target promotes its stage: the rows are " +
    "written once and equal the rewrite path's") {
    val dir = tempDir("graft_promote")
    val src = docs(dir)
    val promoted = outputRecords(Runner.execute(spark,
      createJob(src, DatasetRef("parquet", dir, "p")), log = false))
    // a file-size cap keeps the same rows on the rewrite path
    val rewritten = outputRecords(Runner.execute(spark,
      createJob(src, DatasetRef("parquet", dir, "r"),
        t = _.copy(maxRecordsPerFile = 1000000L)), log = false))
    assert(promoted == 60L, s"promote wrote $promoted records")
    assert(rewritten == 120L, s"rewrite wrote $rewritten records")
    val p = Resolver.readParquet(spark, s"$dir/p.parquet")
    val r = Resolver.readParquet(spark, s"$dir/r.parquet")
    assert(p.schema == r.schema)
    assert(rows(p.drop("_etl_ts").orderBy("doc_id")) ==
      rows(r.drop("_etl_ts").orderBy("doc_id")))
    assert(stageSiblings(dir).isEmpty)
  }

  test("an existing target and a partitioned create keep the rewrite path") {
    val dir = tempDir("graft_no_promote")
    val src = docs(dir)
    val tgt = DatasetRef("parquet", dir, "t")
    Runner.execute(spark, createJob(src, tgt), log = false)
    // create into an existing target appends: stage 60 + rewrite 120
    val again = outputRecords(Runner.execute(spark, createJob(src, tgt), log = false))
    assert(again == 180L, s"create into an existing target wrote $again records")
    assert(Resolver.readParquet(spark, s"$dir/t.parquet").count() == 120L)
    val parted = outputRecords(Runner.execute(spark,
      createJob(src, DatasetRef("parquet", dir, "pt"),
        t = _.copy(partitionBy = Seq("score"))), log = false))
    assert(parted == 120L, s"partitioned create wrote $parted records")
    assert(new java.io.File(s"$dir/pt.parquet").list().exists(_.startsWith("score=")))
    assert(stageSiblings(dir).isEmpty)
  }

  test("a failing barrier leaves no stage dir beside the target") {
    val dir = tempDir("graft_barrier_fail")
    val src = docs(dir)
    val job = createJob(src, DatasetRef("parquet", dir, "t"), chain = Seq(
      TransformStage("set_expr", Seq("s2", "score * 2")),
      TransformStage("expect", Seq("s2 < 0"))))
    val e = intercept[Exception](Runner.execute(spark, job, log = false))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("expect failed")), e.toString)
    assert(stageSiblings(dir).isEmpty, stageSiblings(dir).mkString(", "))
    assert(!new java.io.File(s"$dir/t.parquet").exists())
  }
}

object RunnerSpec {
  /** Rows the `graft_tick` UDF evaluated (local mode: this JVM). */
  val ticks = new java.util.concurrent.atomic.AtomicLong(0)
}
