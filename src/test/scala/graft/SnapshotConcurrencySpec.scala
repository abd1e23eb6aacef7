package graft

import graft.operators.{Compaction, PrunedMerge, Snapshot, WriteOps}
import graft.spec.{DatasetRef, TargetSpec, WriteOp}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Concurrent-writer semantics of the snapshot commit protocol (r11):
  * two REAL threads race through plan → stage → commit with a start
  * barrier, and every outcome must be LINEARIZABLE — the final table
  * equals some serial order of the operations that reported success,
  * retained versions stay readable, fsck stays clean. Non-conflicting
  * pairs (disjoint pruned upserts, DV delete vs disjoint merge,
  * compaction vs append) must BOTH land via the rebase commit;
  * same-file pairs either serialize (the later one re-plans against
  * the winner's head inside its own run) or fail LOUDLY with
  * [[Snapshot.CommitConflictException]] — never a silent lost update.
  */
class SnapshotConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sorted(df: DataFrame): Seq[Seq[Any]] = rows(df.orderBy("id"))

  private type Model = Map[Long, String]

  private def seed(n: Int): Model =
    (0L until n.toLong).map(i => i -> s"v$i").toMap

  private def render(m: Model): DataFrame =
    m.toSeq.sortBy(_._1).toDF("id", "txt")

  /** Race two closures on real threads behind a start barrier; returns
    * per-op outcome (None = success, Some(conflict message)).
    */
  private def race(a: () => Unit, b: () => Unit): (Option[String], Option[String]) = {
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    @volatile var ra: Option[String] = None
    @volatile var rb: Option[String] = None
    def wrap(f: () => Unit, set: Option[String] => Unit): Thread = {
      val th = new Thread(() => {
        barrier.await()
        try f() catch {
          case c: Snapshot.CommitConflictException => set(Some(c.getMessage))
          case t: Throwable => // surface, don't silently pass as success
            set(Some(s"UNEXPECTED ${t.getClass.getSimpleName}: ${t.getMessage}"))
        }
      })
      th.start(); th
    }
    val (ta, tb) = (wrap(a, ra = _), wrap(b, rb = _))
    ta.join(120000); tb.join(120000)
    assert(!ta.isAlive && !tb.isAlive, "racing writer deadlocked")
    Seq(ra, rb).flatten.foreach(m =>
      assert(!m.startsWith("UNEXPECTED"), s"racing writer failed: $m"))
    (ra, rb)
  }

  /** Set up a sorted snapshot table, race the two ops, and assert
    * linearizability: the read equals SOME serial order of the ops
    * that succeeded. `m1`/`m2` are the ops' model transforms.
    */
  private def check(name: String, nRows: Int,
                    op1: String => Unit, m1: Model => Model,
                    op2: String => Unit, m2: Model => Model,
                    requireBoth: Boolean): Unit = {
    val dir = tempDir(s"snap_conc")
    val p = s"$dir/t.parquet"
    val base = seed(nRows)
    WriteOps.atomicOverwrite(spark, render(base), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 5)
    val (r1, r2) = race(() => op1(p), () => op2(p))
    if (requireBoth)
      assert(r1.isEmpty && r2.isEmpty,
        s"$name: both writers must land, got conflicts: $r1 / $r2")
    assert(r1.isEmpty || r2.isEmpty, s"$name: both writers conflicted")
    val accept = Seq(
      (r1.isEmpty && r2.isEmpty, () => m2(m1(base))),
      (r1.isEmpty && r2.isEmpty, () => m1(m2(base))),
      (r1.isEmpty && r2.isDefined, () => m1(base)),
      (r1.isDefined && r2.isEmpty, () => m2(base))
    ).collect { case (ok, m) if ok => sorted(render(m())) }
    val got = sorted(graft.sources.Resolver.readParquet(spark, p))
    assert(accept.contains(got),
      s"$name: final state is not a serial order of the successful ops")
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty,
      s"$name: fsck errors after the race")
  }

  private def spec(dir: String, op: WriteOp = WriteOp.Upsert) =
    TargetSpec(DatasetRef("parquet", dir, "t"), op = op,
      pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
      keepVersions = 5)

  private def prunedWrite(p: String, batch: DataFrame,
                          op: WriteOp = WriteOp.Upsert): Unit = {
    val dir = new Path(p).getParent.toString
    val st = PrunedMerge.merge(spark,
      graft.sources.Resolver.readParquet(spark, p), batch, spec(dir, op), p)
    assert(st.isDefined, "pruned path must engage in this fixture")
  }

  test("disjoint pruned upserts from two threads BOTH land (rebase commit)") {
    def up(ids: Seq[Long], tag: String)(p: String): Unit =
      prunedWrite(p, ids.map(i => (i, s"$tag$i")).toDF("id", "txt"))
    def upM(ids: Seq[Long], tag: String)(m: Model): Model =
      m ++ ids.map(i => i -> s"$tag$i")
    val (a, b) = ((0L until 10L), (350L until 360L))
    check("disjoint-upserts", 400,
      up(a, "A"), upM(a, "A"), up(b, "B"), upM(b, "B"), requireBoth = true)
    // and the serial result is order-independent here — both landed
  }

  test("DV delete racing a disjoint pruned upsert: both land, tombstones apply") {
    def del(ids: Seq[Long])(p: String): Unit = {
      Snapshot.deleteByKeys(spark, p, ids.toDF("id"), keepVersions = 5); ()
    }
    def delM(ids: Seq[Long])(m: Model): Model = m -- ids
    // the merge re-plans ONCE on conflict (the Runner's behavior): a
    // tombstone that landed between its base read and its commit is a
    // loud conflict by design (r12 — rebasing it would anti-join the
    // merge's rewritten rows), and the re-plan reads THROUGH the new
    // tombstone, so both ops land either way the race resolves
    def up(ids: Seq[Long])(p: String): Unit = {
      def once(): Unit =
        prunedWrite(p, ids.map(i => (i, s"U$i")).toDF("id", "txt"))
      try once() catch { case _: Snapshot.CommitConflictException => once() }
    }
    def upM(ids: Seq[Long])(m: Model): Model = m ++ ids.map(i => i -> s"U$i")
    val (kill, band) = ((100L until 120L), (300L until 310L))
    check("dv-vs-upsert", 400,
      del(kill), delM(kill), up(band), upM(band), requireBoth = true)
  }

  test("compaction racing a disjoint pruned insert: both land") {
    // fragment the high band first so compaction has work
    val dir = tempDir("snap_conc_cmp")
    val p = s"$dir/t.parquet"
    val base = seed(400)
    WriteOps.atomicOverwrite(spark, render(base), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 5)
    for (b <- 1 to 3)
      prunedWrite(p, (0L until 5L).map(i => (i + 10000L * b, "frag"))
        .toDF("id", "txt"), WriteOp.Insert)
    val want = base ++
      (1 to 3).flatMap(b => (0L until 5L).map(i => (i + 10000L * b) -> "frag")) ++
      (200000L until 200005L).map(i => i -> "new")
    val (r1, r2) = race(
      () => { Compaction.compact(spark, p, Seq("id"), 1L << 18, keepVersions = 5); () },
      () => prunedWrite(p, (200000L until 200005L).map(i => (i, "new"))
        .toDF("id", "txt"), WriteOp.Insert))
    assert(r1.isEmpty && r2.isEmpty,
      s"compaction and append must both land, got $r1 / $r2")
    assert(sorted(graft.sources.Resolver.readParquet(spark, p)) ==
      sorted(render(want)))
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("same-file pruned upserts: serialized or a LOUD conflict, never a lost update") {
    def up(tag: String)(p: String): Unit =
      prunedWrite(p, (0L until 10L).map(i => (i, s"$tag$i")).toDF("id", "txt"))
    def upM(tag: String)(m: Model): Model =
      m ++ (0L until 10L).map(i => i -> s"$tag$i")
    // both outcomes are legal depending on interleaving; check()
    // accepts any serial order of the successes and rejects silent
    // lost updates (a final state matching neither serial order)
    check("same-file-upserts", 400,
      up("A"), upM("A"), up("B"), upM("B"), requireBoth = false)
  }

  test("same-file DISJOINT-band upserts: BOTH land without a re-plan (append-shaped rebase, r12)") {
    // the r11 verdict's residual #3, closed soundly: two merges
    // touching the SAME file with disjoint pk bands. The lock loser's
    // commitRebase hits the rewritten-file conflict and absorbs it by
    // committing (batch file + batch-key tombstone) at the new seq —
    // no re-plan, no second read of the table — which equals the
    // serial order; disjoint bands make both serial orders agree, so
    // the final state is unique
    def up(tag: String, lo: Long)(p: String): Unit =
      prunedWrite(p, (lo until lo + 5L).map(i => (i, s"$tag$i")).toDF("id", "txt"))
    def upM(tag: String, lo: Long)(m: Model): Model =
      m ++ (lo until lo + 5L).map(i => i -> s"$tag$i")
    check("disjoint-band-same-file", 400,
      up("A", 0L), upM("A", 0L), up("B", 5L), upM("B", 5L),
      requireBoth = true)
  }

  test("same-file OVERLAPPING upserts: loser's append absorbs, result = commit order (r12)") {
    // overlapping bands: the fallback is still sound for a blind
    // replace-by-pk — the result equals the serial (winner, loser)
    // commit order, exactly what a re-plan would compute. check()
    // accepts either serial order and requires both to land.
    def up(tag: String)(p: String): Unit =
      prunedWrite(p, (0L until 10L).map(i => (i, s"$tag$i")).toDF("id", "txt"))
    def upM(tag: String)(m: Model): Model =
      m ++ (0L until 10L).map(i => i -> s"$tag$i")
    check("overlapping-both-land", 400,
      up("A"), upM("A"), up("B"), upM("B"), requireBoth = true)
  }

  test("stale commitRebase against a moved head conflicts loudly; fresh rebase lands") {
    val dir = tempDir("snap_conc_stale")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, render(seed(400)), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 5)
    val root = new Path(p)
    val m1 = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, root, None)._2).get
    // writer A rewrites the low-band file via a pruned upsert
    prunedWrite(p, (0L until 10L).map(i => (i, s"A$i")).toDF("id", "txt"))
    val m2 = Snapshot.manifestAt(fs, Snapshot.resolveVersion(fs, root, None)._2).get
    val victims = m1.entries.map(_.rel).toSet -- m2.entries.map(_.rel).toSet
    assert(victims.nonEmpty, "the merge must have replaced at least one file")
    // writer B, still planned against v1, tries to remove the same file
    val e = intercept[Snapshot.CommitConflictException] {
      Snapshot.commitRebase(fs, root, 1L, victims, Nil,
        m1.schemaDdl, m1.partitionBy, keepVersions = 5)
    }
    assert(e.getMessage.contains("re-plan against the new head"))
    // but a stale-base change touching none of the rewritten files
    // rebases fine onto the moved head
    val v = Snapshot.commitRebase(fs, root, 1L, Set.empty, Nil,
      m1.schemaDdl, m1.partitionBy, keepVersions = 5)
    assert(v == 3L)
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("random concurrent op pairs are linearizable (props extension)") {
    // the SnapshotPropsSpec model ops, raced pairwise: pruned upsert,
    // pruned delete, DV delete over random (possibly overlapping)
    // bands. Any interleaving must yield a serial order of the
    // successes; conflicts are allowed only for overlapping rewrites.
    for (s <- Seq(11, 29, 47)) {
      val rnd = new scala.util.Random(s)
      def band(): Seq[Long] = {
        val lo = rnd.nextInt(380).toLong
        lo until (lo + 5 + rnd.nextInt(40))
      }
      def mkOp(): (String => Unit, Model => Model) = rnd.nextInt(3) match {
        case 0 =>
          val ids = band(); val tag = s"u$s-${rnd.nextInt(100)}-"
          (p => prunedWrite(p, ids.map(i => (i, s"$tag$i")).toDF("id", "txt")),
            m => m ++ ids.map(i => i -> s"$tag$i"))
        case 1 =>
          val ids = band()
          (p => prunedWrite(p,
            ids.map(i => (i, "x")).toDF("id", "txt"), WriteOp.Delete),
            m => m -- ids)
        case 2 =>
          val ids = band()
          (p => { Snapshot.deleteByKeys(spark, p, ids.toDF("id"),
            keepVersions = 5); () },
            m => m -- ids)
      }
      val (op1, m1) = mkOp()
      val (op2, m2) = mkOp()
      check(s"random-pair-$s", 400, op1, m1, op2, m2, requireBoth = false)
    }
  }

  test("a crashed holder's stale commit lock is broken and commits proceed") {
    val dir = tempDir("snap_conc_lock")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, render(seed(10)), p,
      commitMode = "snapshot", keepVersions = 3)
    // plant a lock whose holder died two minutes ago
    val lock = new Path(p, "_commit.lock")
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 2 * 60 * 1000L, -1)
    // the next commit must break the stale lease and land
    WriteOps.atomicOverwrite(spark, render(seed(5)), p,
      commitMode = "snapshot", keepVersions = 3)
    assert(graft.sources.Resolver.readParquet(spark, p).count() == 5)
    assert(!fs.exists(lock), "the winning commit must release the lock")
  }

  test("engine Runner re-plans on commit conflict: same-file racing upserts BOTH land") {
    import graft.spec.{JobSpec, SourceSpec}
    val dir = tempDir("snap_conc_runner")
    val p = s"$dir/t.parquet"
    val base = seed(400)
    WriteOps.atomicOverwrite(spark, render(base), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 8)
    // two batches hitting the SAME low-band file — a direct merge race
    // conflicts for one writer; the Runner path must absorb it by
    // re-planning, so BOTH jobs complete
    def writeBatch(name: String, ids: Seq[Long], tag: String): Unit = {
      ids.map(i => (i, s"$tag$i")).toDF("id", "txt")
        .write.parquet(s"$dir/$name.parquet")
    }
    writeBatch("srcA", 0L until 10L, "A")
    writeBatch("srcB", 3L until 12L, "B")
    def run(name: String): Unit = {
      graft.engine.Runner.execute(spark, JobSpec(
        SourceSpec(DatasetRef("parquet", dir, name)),
        target = Some(TargetSpec(DatasetRef("parquet", dir, "t"),
          op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"),
          commitMode = "snapshot", keepVersions = 8,
          skipTimestamp = true))), log = false)
      ()
    }
    val (r1, r2) = race(() => run("srcA"), () => run("srcB"))
    assert(r1.isEmpty && r2.isEmpty,
      s"Runner must absorb the conflict by re-planning: $r1 / $r2")
    // linearizable: overlap keys 3-9 hold A's or B's value uniformly
    // (whichever job committed second), disjoint keys hold their own
    val got = graft.sources.Resolver.readParquet(spark, p)
      .filter(col("id") < 12).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val aThenB = (0L until 3L).map(i => (i, s"A$i")) ++
      (3L until 12L).map(i => (i, s"B$i"))
    val bThenA = (0L until 10L).map(i => (i, s"A$i")) ++
      (10L until 12L).map(i => (i, s"B$i"))
    assert(got == aThenB || got == bThenA,
      s"not a serial order of the two upserts: $got")
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("materializeDeletes racing a disjoint insert: both land; racing a same-file rewrite is loud") {
    val dir = tempDir("snap_conc_mat")
    val p = s"$dir/t.parquet"
    val base = seed(400)
    WriteOps.atomicOverwrite(spark, render(base), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 8)
    Snapshot.deleteByKeys(spark, p, (100L until 120L).toDF("id"),
      keepVersions = 8)
    // race the fold against an INSERT of brand-new keys. Both ops
    // change the DV set (the fold drops it; the DV-composing merge
    // consolidates it), so the loser sees a PRECISE conflict and — as
    // the Runner does — re-plans once against the new head; after one
    // retry BOTH must land and the final state is the same either way
    def withRetry(f: () => Unit): () => Unit = () =>
      try f() catch { case _: Snapshot.CommitConflictException => f() }
    val (r1, r2) = race(
      withRetry(() => { Snapshot.materializeDeletes(spark, p,
        indexBy = Seq("id"), keepVersions = 8); () }),
      withRetry(() => prunedWrite(p, (700L until 710L).map(i => (i, s"N$i"))
        .toDF("id", "txt"), WriteOp.Insert)))
    assert(r1.isEmpty && r2.isEmpty,
      s"fold and disjoint insert must both land after one re-plan: $r1 / $r2")
    val want = (base -- (100L until 120L)) ++
      (700L until 710L).map(i => i -> s"N$i")
    assert(sorted(graft.sources.Resolver.readParquet(spark, p)) ==
      sorted(render(want)))
    val (_, vdir) = Snapshot.resolveVersion(fs, new Path(p), None)
    assert(Snapshot.manifestAt(fs, vdir).get.deleteEntries.isEmpty)
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
    // a STALE fold racing a same-file rewrite must refuse loudly, not
    // drop the rewrite: simulate with a direct stale rebase
    Snapshot.deleteByKeys(spark, p, Seq(5L).toDF("id"), keepVersions = 8)
    val mBase = Snapshot.manifestAt(fs,
      Snapshot.resolveVersion(fs, new Path(p), None)._2).get
    val vBase = Snapshot.resolveVersion(fs, new Path(p), None)._1
    prunedWrite(p, Seq((0L, "Z")).toDF("id", "txt")) // rewrites a base file
    intercept[Snapshot.CommitConflictException] {
      Snapshot.commitRebase(fs, new Path(p), vBase,
        mBase.entries.map(_.rel).toSet, Nil,
        mBase.schemaDdl, mBase.partitionBy, keepVersions = 8)
    }
    ()
  }

  test("a tombstone committed under a merge is a LOUD conflict, not a silent lost delete (r12)") {
    // the ADVICE scenario, deterministic: a deleteByKeys lands between
    // a merge's base read and its commit; a rebase that kept the new
    // tombstone would anti-join the merge's rewritten files at read
    // and silently delete keys the merge upserted
    val dir = tempDir("snap_conc_tomb")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, render(seed(400)), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 8)
    val root = new Path(p)
    val (vBase, vdir) = Snapshot.resolveVersion(fs, root, None)
    val mBase = Snapshot.manifestAt(fs, vdir).get
    Snapshot.deleteByKeys(spark, p, (0L until 10L).toDF("id"), keepVersions = 8)
    // a merge planned against vBase (no tombstones read) must refuse
    val e = intercept[Snapshot.CommitConflictException] {
      Snapshot.commitRebase(fs, root, vBase, Set.empty, Nil,
        mBase.schemaDdl, mBase.partitionBy, keepVersions = 8,
        baseDeleteRels = Some(Set.empty))
    }
    assert(e.getMessage.contains("deletion vector"))
    // compose-class callers (deletes, compaction, materialization)
    // still rebase straight through the same head move
    val v = Snapshot.commitRebase(fs, root, vBase, Set.empty, Nil,
      mBase.schemaDdl, mBase.partitionBy, keepVersions = 8)
    assert(v > vBase)
  }

  test("OVERLAPPING DV delete vs pruned upsert race: linearizable with one re-plan") {
    // same keys on both sides — the outcome depends on commit order:
    // delete-then-upsert keeps the upserted values, upsert-then-delete
    // removes the keys; both are serial orders check() accepts. The
    // merge retries once (Runner behavior) when the delete wins the
    // race and conflicts it.
    def del(ids: Seq[Long])(p: String): Unit = {
      Snapshot.deleteByKeys(spark, p, ids.toDF("id"), keepVersions = 5); ()
    }
    def delM(ids: Seq[Long])(m: Model): Model = m -- ids
    def up(ids: Seq[Long])(p: String): Unit = {
      def once(): Unit =
        prunedWrite(p, ids.map(i => (i, s"U$i")).toDF("id", "txt"))
      try once() catch { case _: Snapshot.CommitConflictException => once() }
    }
    def upM(ids: Seq[Long])(m: Model): Model = m ++ ids.map(i => i -> s"U$i")
    val band = 100L until 130L
    check("dv-overlap-upsert", 400,
      del(band), delM(band), up(band), upM(band), requireBoth = true)
  }

  test("two waiters racing to break the SAME stale lock: rename arbitration, both commit") {
    val dir = tempDir("snap_conc_break")
    val p = s"$dir/t.parquet"
    WriteOps.atomicOverwrite(spark, render(seed(400)), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 8)
    // plant a crashed holder's lock, then race two disjoint merges:
    // both observe the stale lease; only ONE rename-steal can succeed
    // (the other's rename finds no source), so the lock layer is never
    // double-held — both commits land serially, fsck stays clean
    val lock = new Path(p, "_commit.lock")
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis() - 2 * 60 * 1000L, -1)
    def up(ids: Seq[Long], tag: String)(p0: String): Unit =
      prunedWrite(p0, ids.map(i => (i, s"$tag$i")).toDF("id", "txt"))
    val (r1, r2) = race(() => up(0L until 10L, "A")(p),
      () => up(300L until 310L, "B")(p))
    assert(r1.isEmpty && r2.isEmpty, s"both breakers must commit: $r1 / $r2")
    assert(!fs.exists(lock), "lock released after the race")
    // no leftover break tombstones (the loser's rename never happened,
    // the winner deleted its stolen copy)
    val stray = fs.listStatus(new Path(p)).map(_.getPath.getName)
      .filter(_.startsWith("_commit.lock.broken."))
    assert(stray.isEmpty, s"leftover break tombstones: ${stray.toSeq}")
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }

  test("same-version manifest write loses LOUDLY (exclusive create backstop, r12)") {
    // a fully defeated lock ends with two writers targeting the SAME
    // version dir: the manifest's exclusive create is the backstop —
    // the second write must throw, never interleave bytes so the
    // marker winner publishes the loser's membership
    val dir = tempDir("snap_conc_mexcl")
    val vdir = new Path(dir, f"_v_${2L}%020d")
    val m = Snapshot.Manifest("id BIGINT", Nil, Seq(Snapshot.Entry("a.parquet", 1L)))
    graft.operators.ManifestCodec.writeManifest(fs, vdir, m)
    val e = intercept[java.io.IOException] {
      graft.operators.ManifestCodec.writeManifest(fs, vdir,
        m.copy(entries = Seq(Snapshot.Entry("b.parquet", 2L))))
    }
    assert(e.getMessage.contains("did NOT land"))
    // the winner's bytes are intact
    assert(Snapshot.manifestAt(fs, vdir).get.entries.head.rel == "a.parquet")
  }

  test("SOAK: 8-thread mixed-op fleet (upserts, DV deletes, compaction, vacuum), >=50 commits") {
    // each thread owns a DISJOINT id band and applies its own ops
    // SEQUENTIALLY (with the Runner's re-plan-on-conflict discipline),
    // so the expected final state per band is the thread-local model —
    // exact, whatever the global interleaving. Bands still SHARE
    // files, so merges conflict, rebase, and retry constantly;
    // compaction/vacuum/materialize run concurrently as state-
    // preserving maintenance. Asserts: every op lands within a bounded
    // retry budget, >=50 write commits total, final state exact per
    // band, fsck clean, no leftover lock.
    val nThreads = 8
    val bandSize = 100
    val dir = tempDir("snap_soak")
    val p = s"$dir/t.parquet"
    val nRows = nThreads * bandSize
    val base = seed(nRows)
    WriteOps.atomicOverwrite(spark, render(base), p, indexBy = Seq("id"),
      maxRecordsPerFile = 40, commitMode = "snapshot", keepVersions = 3)
    val retries = new java.util.concurrent.atomic.AtomicInteger
    val commits = new java.util.concurrent.atomic.AtomicInteger
    def withRetry(f: => Unit): Unit = {
      var a = 0
      var done = false
      while (!done) {
        try { f; done = true } catch {
          case _: Snapshot.CommitConflictException =>
            a += 1; retries.incrementAndGet()
            assert(a < 50, "op never landed after 50 re-plans")
            Thread.sleep(2L + a)
        }
      }
    }
    val soakSpec = TargetSpec(DatasetRef("parquet", dir, "t"),
      op = WriteOp.Upsert, pk = Seq("id"), indexBy = Seq("id"),
      commitMode = "snapshot", keepVersions = 3)
    // per-thread scripted ops over the OWN band; the model applies
    // them in the same thread-local order
    final case class ThreadRun(idx: Int) extends Runnable {
      val lo: Long = idx.toLong * bandSize
      var model: Model = base.filter { case (k, _) => k >= lo && k < lo + bandSize }
      @volatile var failure: Option[Throwable] = None
      private val rnd = new scala.util.Random(1000 + idx)
      private def subBand(): Seq[Long] = {
        val s = lo + rnd.nextInt(bandSize - 10)
        s until math.min(lo + bandSize, s + 5 + rnd.nextInt(20))
      }
      def run(): Unit = try {
        for (op <- 0 until 10) {
          rnd.nextInt(10) match {
            case n if n < 4 => // pruned upsert of a sub-band
              val ids = subBand(); val tag = s"t$idx-$op-"
              withRetry {
                val st = PrunedMerge.merge(spark,
                  graft.sources.Resolver.readParquet(spark, p),
                  ids.map(i => (i, s"$tag$i")).toDF("id", "txt"),
                  soakSpec, p)
                assert(st.isDefined, "pruned path must engage in the soak")
              }
              commits.incrementAndGet()
              model = model ++ ids.map(i => i -> s"$tag$i")
            case n if n < 6 => // append-shaped upsert (merge-on-read, r12)
              val ids = subBand(); val tag = s"a$idx-$op-"
              withRetry {
                Snapshot.upsertAppend(spark, p,
                  ids.map(i => (i, s"$tag$i")).toDF("id", "txt"),
                  Seq("id"), indexBy = Seq("id"), keepVersions = 3); ()
              }
              commits.incrementAndGet()
              model = model ++ ids.map(i => i -> s"$tag$i")
            case n if n < 8 => // DV key delete of a sub-band
              val ids = subBand()
              withRetry {
                Snapshot.deleteByKeys(spark, p, ids.toDF("id"),
                  keepVersions = 3); ()
              }
              commits.incrementAndGet()
              model = model -- ids
            case 8 => // compaction (state-preserving maintenance)
              withRetry {
                Compaction.compact(spark, p, Seq("id"), 4096L,
                  keepVersions = 3); ()
              }
            case _ => // locked standalone vacuum
              Snapshot.vacuumLocked(fs, new Path(p), 3)
          }
        }
      } catch { case t: Throwable => failure = Some(t) }
    }
    val runs = (0 until nThreads).map(ThreadRun.apply)
    val threads = runs.map(r => new Thread(r))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "soak writer deadlocked")
    runs.foreach(r => r.failure.foreach(t => throw t))
    assert(commits.get() >= 50, s"only ${commits.get()} write commits")
    // final state: the union of the thread-local band models, exactly
    val want = runs.flatMap(_.model).toMap
    assert(sorted(graft.sources.Resolver.readParquet(spark, p)) ==
      sorted(render(want)),
      "final state must equal the per-band thread-sequential models")
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty,
      "fsck errors after the soak")
    assert(!fs.exists(new Path(p, "_commit.lock")), "leftover commit lock")
    info(s"soak: ${commits.get()} write commits, ${retries.get()} re-plans")
  }

  test("lock contention: 2 threads x 3 sequential disjoint merges all land") {
    val dir = tempDir("snap_conc_many")
    val p = s"$dir/t.parquet"
    val base = seed(600)
    WriteOps.atomicOverwrite(spark, render(base), p, indexBy = Seq("id"),
      maxRecordsPerFile = 50, commitMode = "snapshot", keepVersions = 8)
    def worker(bands: Seq[Seq[Long]], tag: String)(p0: String): Unit =
      bands.foreach(ids =>
        prunedWrite(p0, ids.map(i => (i, s"$tag$i")).toDF("id", "txt")))
    val aBands = Seq(0L until 10L, 100L until 110L, 200L until 210L).map(_.toSeq)
    val bBands = Seq(400L until 410L, 500L until 510L, 590L until 600L).map(_.toSeq)
    val (r1, r2) = race(() => worker(aBands, "A")(p), () => worker(bBands, "B")(p))
    assert(r1.isEmpty && r2.isEmpty, s"all six merges must land: $r1 / $r2")
    val want = base ++
      aBands.flatten.map(i => i -> s"A$i") ++ bBands.flatten.map(i => i -> s"B$i")
    assert(sorted(graft.sources.Resolver.readParquet(spark, p)) ==
      sorted(render(want)))
    // six incremental commits on top of v1
    assert(Snapshot.committed(fs, new Path(p)).map(_._1).max == 7L)
    assert(Snapshot.fsck(spark, p).filter(col("severity") === "error").isEmpty)
  }
}
