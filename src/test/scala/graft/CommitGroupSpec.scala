package graft

import graft.operators.{Snapshot, WriteOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-table atomic commit groups (r14): a write-ahead intent makes
  * a set of single-table incremental commits land all-or-nothing
  * across crashes — before the intent is durable nothing commits;
  * after it, [[Snapshot.recoverGroups]] rolls the remainder forward.
  * The crash points are driven through the
  * [[Snapshot.groupCrashAfterParts]] hook.
  */
class CommitGroupSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path("/").getFileSystem(hconf)

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  private def seed(p: String, tag: String): Unit =
    WriteOps.atomicOverwrite(spark,
      (0L until 20L).map(i => (i, s"$tag$i")).toDF("id", "txt"),
      p, indexBy = Seq("id"), commitMode = "snapshot", keepVersions = 10)

  private def headV(p: String): Long =
    Snapshot.resolveVersion(fs, new Path(p), None)._1

  /** Stage one upsert-append batch per table, return the group parts. */
  private def stageParts(a: String, b: String,
                         tag: String): Seq[Snapshot.StagedCommit] =
    Seq(a, b).map { p =>
      val Some((bv, m, entries, _)) = Snapshot.stageUpsertAppend(spark, p,
        Seq((3L, s"$tag-3"), (99L, s"$tag-99")).toDF("id", "txt"), Seq("id"),
        indexBy = Seq("id")): @unchecked
      Snapshot.StagedCommit(p, bv, Set.empty, entries, m.schemaDdl,
        m.partitionBy, 10)
    }

  test("happy path: one commit per table, intent cleaned, contents land") {
    val dir = tempDir("cgrp_ok")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    val (va0, vb0) = (headV(a), headV(b))
    val vs = Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    assert(vs == Seq(va0 + 1, vb0 + 1), "exactly ONE commit per table")
    assert(graft.sources.Resolver.readParquet(spark, a)
      .filter(col("id") === 3L).select("txt").as[String].head() == "g1-3")
    assert(graft.sources.Resolver.readParquet(spark, b)
      .filter(col("id") === 99L).count() == 1)
    // intent + witnesses removed on success (only the coordinator's
    // consistent-read pins persist)
    assert(!fs.exists(new Path(s"$dir/_txn")) ||
      fs.listStatus(new Path(s"$dir/_txn"))
        .forall(_.getPath.getName == "_GROUP_VERSIONS"))
  }

  test("combined delete+assert is ONE commit; removal tombstone and batch compose by seq") {
    val dir = tempDir("cgrp_one")
    val p = s"$dir/t.parquet"
    seed(p, "X")
    val v0 = headV(p)
    val (_, dm, delEntries, nDel) = Snapshot.stageDeleteKeys(spark, p,
      Seq(0L, 1L).toDF("id"))
    val Some((bv, m, upsEntries, _)) = Snapshot.stageUpsertAppend(spark, p,
      Seq((1L, "back"), (50L, "new")).toDF("id", "txt"), Seq("id"),
      indexBy = Seq("id")): @unchecked
    assert(nDel == 2 && dm.schemaDdl == m.schemaDdl)
    Snapshot.commitGroup(hconf, s"$dir/_txn", Seq(Snapshot.StagedCommit(
      p, bv, Set.empty, delEntries ++ upsEntries, m.schemaDdl,
      m.partitionBy, 10)))
    assert(headV(p) == v0 + 1, "delete + assert must land as ONE commit")
    val got = graft.sources.Resolver.readParquet(spark, p)
    // 0 deleted; 1 deleted then re-asserted by the same-seq batch; 50 new
    assert(got.filter(col("id") === 0L).isEmpty)
    assert(rows(got.filter(col("id").isin(1L, 50L)).orderBy("id")
      .select("txt")) == Seq(Seq("back"), Seq("new")))
    assert(got.count() == 20L)
  }

  test("crash BEFORE the intent is durable: neither table commits; torn intent is age-swept") {
    val dir = tempDir("cgrp_torn")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    val (va0, vb0) = (headV(a), headV(b))
    // a conflicting participant fails the CHECK phase — zero commits,
    // zero intents
    val parts = stageParts(a, b, "g1")
    val bad = parts.head.copy(removedRels = Set("no/such-file.parquet"))
    intercept[IllegalArgumentException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", Seq(bad, parts(1)))
    }
    assert(headV(a) == va0 && headV(b) == vb0, "conflict must commit NOTHING")
    assert(!fs.exists(new Path(s"$dir/_txn")) ||
      !fs.listStatus(new Path(s"$dir/_txn")).exists(
        _.getPath.getName.startsWith("_GROUP_")),
      "the intent must not be written before the checks pass")
    // a TORN intent (crash mid-write: no end marker) proves no commit
    // happened; recovery sweeps it once aged and touches no table
    val txn = new Path(s"$dir/_txn")
    fs.mkdirs(txn)
    val torn = new Path(txn, "_GROUP_0000000000000_torn")
    val out = fs.create(torn, true)
    out.write("graft-commit-group-v1\nP\tgarbage".getBytes("UTF-8"))
    out.close()
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 0,
      "a FRESH torn intent is left alone (its writer may be alive)")
    fs.setTimes(torn, System.currentTimeMillis() - 20 * 60 * 1000L, -1)
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    assert(!fs.exists(torn) && headV(a) == va0 && headV(b) == vb0,
      "torn-intent recovery must sweep the record and commit NOTHING")
  }

  test("crash AFTER the intent, before any commit: recovery lands BOTH") {
    val dir = tempDir("cgrp_fwd0")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    val (va0, vb0) = (headV(a), headV(b))
    Snapshot.groupCrashAfterParts = 0
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    } finally Snapshot.groupCrashAfterParts = -1
    assert(headV(a) == va0 && headV(b) == vb0, "crash before commits: nothing yet")
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    assert(headV(a) == va0 + 1 && headV(b) == vb0 + 1,
      "roll-forward must land BOTH participants")
    assert(graft.sources.Resolver.readParquet(spark, a)
      .filter(col("id") === 99L).count() == 1)
    assert(graft.sources.Resolver.readParquet(spark, b)
      .filter(col("id") === 99L).count() == 1)
  }

  test("crash BETWEEN the two commits: recovery completes exactly the missing one") {
    val dir = tempDir("cgrp_fwd1")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    val (va0, vb0) = (headV(a), headV(b))
    Snapshot.groupCrashAfterParts = 1
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    } finally Snapshot.groupCrashAfterParts = -1
    assert(headV(a) == va0 + 1 && headV(b) == vb0,
      "exactly the first (root-sorted) participant committed")
    // recovery is IDEMPOTENT and completes only the unapplied table
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    assert(headV(a) == va0 + 1 && headV(b) == vb0 + 1,
      "recovery must commit b WITHOUT re-committing a")
    val upA = graft.sources.Resolver.readParquet(spark, a)
      .filter(col("id").isin(3L, 99L))
    val upB = graft.sources.Resolver.readParquet(spark, b)
      .filter(col("id").isin(3L, 99L))
    assert(canon(upA) == canon(upB) && upA.count() == 2,
      "both tables converge to the group's asserted rows")
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 0, "nothing pending")
  }

  test("pure-add recovery rebases over a commit that landed between crash and recovery") {
    val dir = tempDir("cgrp_rebase")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    Snapshot.groupCrashAfterParts = 1
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    } finally Snapshot.groupCrashAfterParts = -1
    // an unrelated writer commits to the UNAPPLIED table first
    Snapshot.deleteByKeys(spark, b, Seq(7L).toDF("id"), keepVersions = 10)
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    val gotB = graft.sources.Resolver.readParquet(spark, b)
    assert(gotB.filter(col("id") === 99L).count() == 1,
      "the group's batch must land on the moved head")
    assert(gotB.filter(col("id") === 7L).isEmpty,
      "the interleaved delete must survive the rebase")
  }

  test("stale intent after ALL commits + compaction/vacuum before recovery: witnesses prove applied") {
    val dir = tempDir("cgrp_wit")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    // crash AFTER both commits land but BEFORE intent cleanup (hook
    // value == parts.size) — the stale-intent window
    Snapshot.groupCrashAfterParts = 2
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    } finally Snapshot.groupCrashAfterParts = -1
    val txn = new Path(s"$dir/_txn")
    assert(fs.listStatus(txn).exists(_.getPath.getName.startsWith("_GROUP_")),
      "the intent must have survived the crash")
    assert(fs.listStatus(txn).count(_.getPath.getName.startsWith("_GAPPLIED_")) == 2,
      "both participants must carry applied witnesses")
    // a COMPACTION now rewrites every rel the intent recorded, and a
    // full vacuum reclaims the old pool files — the r14 membership
    // heuristic would see both participants 'unapplied' with staged
    // files gone and roll the group BACK (or re-commit a stale delta)
    Seq(a, b).foreach { p =>
      graft.operators.Compaction.compact(spark, p, Seq("id"),
        targetFileBytes = 1L << 30)
      val dd = Snapshot.dataDir(new Path(p))
      fs.listStatus(dd).filter(_.isFile).foreach(s =>
        fs.setTimes(s.getPath, System.currentTimeMillis() - 20 * 60 * 1000L, -1))
      Snapshot.vacuumLocked(fs, new Path(p), keepVersions = 1)
    }
    val (va, vb) = (headV(a), headV(b))
    val (ca, cb) = (canon(graft.sources.Resolver.readParquet(spark, a)),
      canon(graft.sources.Resolver.readParquet(spark, b)))
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    assert(headV(a) == va && headV(b) == vb,
      "recovery must NOT re-commit a witnessed participant")
    assert(canon(graft.sources.Resolver.readParquet(spark, a)) == ca &&
      canon(graft.sources.Resolver.readParquet(spark, b)) == cb,
      "content untouched by recovery")
    assert(ca.exists(_.contains("g1-3")) && cb.exists(_.contains("g1-99")),
      "the group's rows are present (they committed before the crash)")
    assert(!fs.exists(txn) || fs.listStatus(txn)
      .forall(_.getPath.getName == "_GROUP_VERSIONS"),
      "intent and witnesses cleaned")
  }

  test("crash between commits + compaction of the committed participant: witness keeps it applied, the other lands") {
    val dir = tempDir("cgrp_wit2")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    Snapshot.groupCrashAfterParts = 1
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    } finally Snapshot.groupCrashAfterParts = -1
    // participants commit in root-sorted order: `a` committed (and is
    // witnessed), `b` did not
    val txn = new Path(s"$dir/_txn")
    assert(fs.listStatus(txn).count(_.getPath.getName.startsWith("_GAPPLIED_")) == 1)
    // compaction + full vacuum on the COMMITTED one erases both its
    // intent rels and the old pool files — pre-witness recovery saw
    // 'A unapplied with files gone' and rolled the whole group back,
    // silently losing B's pending commit
    graft.operators.Compaction.compact(spark, a, Seq("id"),
      targetFileBytes = 1L << 30)
    val dda = Snapshot.dataDir(new Path(a))
    fs.listStatus(dda).filter(_.isFile).foreach(s =>
      fs.setTimes(s.getPath, System.currentTimeMillis() - 20 * 60 * 1000L, -1))
    Snapshot.vacuumLocked(fs, new Path(a), keepVersions = 1)
    val va = headV(a)
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    assert(headV(a) == va, "witnessed participant must not re-commit")
    val gotB = graft.sources.Resolver.readParquet(spark, b)
    assert(gotB.filter(col("id") === 99L).count() == 1,
      "the unapplied participant must roll forward")
    assert(canon(graft.sources.Resolver.readParquet(spark, a))
      .exists(_.contains("g1-3")), "a's group rows survive compaction")
    assert(!fs.exists(txn) || fs.listStatus(txn)
      .forall(_.getPath.getName == "_GROUP_VERSIONS"))
  }

  test("crash between a commit and its WITNESS + compaction before recovery: expected-version proof, no duplicates") {
    // the r15 residual window: participant a committed, crashed before
    // the witness create, and a compaction rewrote a's head membership
    // before recovery ran. Without the intent's recorded EXPECTED
    // version (r16), the membership heuristic reads a as unapplied and
    // re-commits the pure-add delta — duplicating its rows.
    val dir = tempDir("cgrp_expv")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    seed(a, "A"); seed(b, "B")
    val va0 = headV(a)
    Snapshot.groupCrashBeforeWitness = 0
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, s"$dir/_txn", stageParts(a, b, "g1"))
    } finally Snapshot.groupCrashBeforeWitness = -1
    val txn = new Path(s"$dir/_txn")
    assert(fs.listStatus(txn)
      .count(_.getPath.getName.startsWith("_GAPPLIED_")) == 0,
      "the crash must land BEFORE any witness")
    assert(headV(a) == va0 + 1 && headV(b) == headV(b),
      "a committed, b did not")
    // compaction rewrites a's membership — the added rels leave the
    // HEAD manifest (the historical _v_ keeps them)
    graft.operators.Compaction.compact(spark, a, Seq("id"),
      targetFileBytes = 1L << 30)
    val va = headV(a)
    assert(Snapshot.recoverGroups(hconf, s"$dir/_txn") == 1)
    assert(headV(a) == va,
      "expected-version proof must keep the committed participant applied")
    val gotA = graft.sources.Resolver.readParquet(spark, a)
    assert(gotA.filter(col("id") === 3L).count() == 1,
      "NO duplicate rows from a re-committed pure-add delta")
    assert(gotA.filter(col("id") === 3L).select("txt").as[String].head() == "g1-3")
    val gotB = graft.sources.Resolver.readParquet(spark, b)
    assert(gotB.filter(col("id") === 99L).count() == 1, "the sibling lands")
    // pins advanced: recovery PROVED a's version from the intent and
    // committed b itself — full version knowledge
    val pins = Snapshot.readGroupVersions(hconf, s"$dir/_txn")
    assert(pins.get(a).contains(va0 + 1) && pins.contains(b),
      s"recovery must advance both pins, got $pins")
  }

  test("readGroupConsistent: a reader between a live group's two commits sees no skew") {
    val dir = tempDir("cgrp_consist")
    val (a, b) = (s"$dir/a.parquet", s"$dir/b.parquet")
    val txn = s"$dir/_txn"
    seed(a, "A"); seed(b, "B")
    Snapshot.commitGroup(hconf, txn, stageParts(a, b, "g1"))
    def tagOf(df: org.apache.spark.sql.DataFrame): String =
      df.filter(col("id") === 3L).select("txt").as[String].head()
    val pinned1 = Snapshot.readGroupConsistent(spark, txn)
    assert(pinned1.keySet == Set(a, b), "pins recorded after g1")
    assert(tagOf(pinned1(a)) == "g1-3" && tagOf(pinned1(b)) == "g1-3")
    // g2 crashes BETWEEN its two commits: head of `a` moves to g2
    // while `b` still serves g1 — raw head reads are SKEWED now
    Snapshot.groupCrashAfterParts = 1
    try intercept[IllegalStateException] {
      Snapshot.commitGroup(hconf, txn, stageParts(a, b, "g2"))
    } finally Snapshot.groupCrashAfterParts = -1
    assert(tagOf(graft.sources.Resolver.readParquet(spark, a)) == "g2-3" &&
      tagOf(graft.sources.Resolver.readParquet(spark, b)) == "g1-3",
      "raw head reads ARE skewed mid-group (the state the pins hide)")
    val mid = Snapshot.readGroupConsistent(spark, txn)
    assert(tagOf(mid(a)) == "g1-3" && tagOf(mid(b)) == "g1-3",
      "pinned reads see both tables PRE-g2 — never the skew")
    // recovery rolls g2 forward with full version knowledge (witness
    // for a, fresh commit for b) and advances the pins
    assert(Snapshot.recoverGroups(hconf, txn) == 1)
    val post = Snapshot.readGroupConsistent(spark, txn)
    assert(tagOf(post(a)) == "g2-3" && tagOf(post(b)) == "g2-3",
      "pinned reads see both tables POST-g2 after recovery")
  }
}
