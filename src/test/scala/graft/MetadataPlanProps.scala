package graft

import graft.engine.{Planner, Runner}
import graft.operators.Snapshot
import graft.spec.{DatasetRef, SourceSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded differential test of the snapshot metadata plane: random
  * conjunctions of exactly-translated predicates (eq/gt/gte/lt/lte/
  * in/between/exists over a long, a date and a nullable string
  * column, plus the partition column in the partitioned variant) are
  * answered three ways and compared with a plain scan of the same
  * version, filtered by the test's own Column predicates:
  *
  *   - `Runner.count` equals the scan's filtered count;
  *   - `Planner.sourceFrame` with `_agg min:id,max:id,min:d,max:d,
  *     count,count:k` equals the scan's aggregates;
  *   - `Runner.countPlan`'s covered + boundary members never exceed
  *     the total, and its covered rows never exceed the count.
  *
  * Each table is queried at its head, which carries a live
  * deletion-vector delete (the metadata plan declines, the scan
  * answers), and pinned to the tombstone-free version before it (the
  * metadata plan answers). Seeds are fixed, so a failure replays.
  */
class MetadataPlanProps extends SparkSpec {
  import MetadataPlanProps.Pred
  import spark.implicits._

  private val D0 = java.time.LocalDate.of(2020, 1, 1)
  private val N = 1200L

  private def date(id: Long) = java.sql.Date.valueOf(D0.plusDays(id / 40))
  // nulls cluster in ids 300..599, so some members are null-free in k
  private def key(id: Long): String =
    if (id >= 300 && id < 600 && id % 3 == 0) null else f"k$id%05d"

  private def genPred(rnd: scala.util.Random, partitioned: Boolean): Pred = {
    val cols = if (partitioned) Vector("id", "d", "k", "g")
               else Vector("id", "d", "k")
    val c = cols(rnd.nextInt(cols.size))
    // a random id in a slightly widened domain, and its typed renderings
    def rid(): Long = rnd.nextLong(N + 40) - 20
    val (render, typed): (Long => String, Long => Any) = c match {
      case "id" => (i => i.toString, i => i)
      case "d" => (i => date(i).toString, i => date(i))
      case "k" => (i => f"k$i%05d", i => f"k$i%05d")
      case _ => (i => (i % 4).toString, i => (i % 4).toInt)
    }
    val ops = Vector("eq", "gt", "gte", "lt", "lte", "in", "between", "exists")
    ops(rnd.nextInt(ops.size)) match {
      case "exists" =>
        if (rnd.nextBoolean()) Pred(s"${c}__exists" -> "1", col(c).isNotNull)
        else Pred(s"${c}__exists" -> "0", col(c).isNull)
      case "in" =>
        // a contiguous run sometimes spans a whole member (IN coverage)
        val lo = rid()
        val vs =
          if (rnd.nextBoolean()) (lo until lo + rnd.nextInt(60) + 1).toSeq
          else Seq.fill(rnd.nextInt(4) + 1)(rid())
        Pred(s"${c}__in" -> vs.map(render).mkString(","),
          col(c).isin(vs.map(typed): _*))
      case "between" =>
        val a = rid(); val b = a + rnd.nextInt(400)
        Pred(s"${c}__between" -> s"${render(a)},${render(b)}",
          col(c).between(lit(typed(a)), lit(typed(b))))
      case op =>
        val v = rid()
        val l = lit(typed(v))
        val cond = op match {
          case "eq" => col(c) === l
          case "gt" => col(c) > l
          case "gte" => col(c) >= l
          case "lt" => col(c) < l
          case _ => col(c) <= l
        }
        Pred((if (op == "eq") c else s"${c}__$op") -> render(v), cond)
    }
  }

  private val Aggs = "min:id,max:id,min:d,max:d,count,count:k"

  private def scanAggs(df: DataFrame): Seq[Any] =
    df.agg(min("id"), max("id"), min("d"), max("d"), count(lit(1)),
      count("k")).head().toSeq

  /** Write the table, DV-delete a head of ids, and return (dir, pinned
    * pre-delete version).
    */
  private def build(partitioned: Boolean, rnd: scala.util.Random)
      : (String, Long) = {
    val dir = tempDir(if (partitioned) "mplan_part" else "mplan")
    val p = s"$dir/t.parquet"
    val df = (0L until N).map(i => (i, date(i), key(i), (i % 4).toInt))
      .toDF("id", "d", "k", "g")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      partitionBy = if (partitioned) Seq("g") else Nil,
      indexBy = Seq("id"), maxRecordsPerFile = if (partitioned) 50 else 100,
      commitMode = "snapshot", keepVersions = 4, statsCols = Seq("d", "k"))
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pinned = Snapshot.committed(fs, new Path(p)).last._1
    Snapshot.deleteByKeys(spark, p,
      (0L until rnd.nextInt(80).toLong + 1L).toDF("id"), keepVersions = 4)
    (dir, pinned)
  }

  private def check(partitioned: Boolean, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val (dir, pinned) = build(partitioned, rnd)
    val p = s"$dir/t.parquet"
    for (at <- Seq(Some(pinned), None)) {
      val scan = Snapshot.readAt(spark, p, at)
      val pin = at.map(v => "_version" -> v.toString).toSeq
      for (step <- 0 until 10) {
        val preds = Seq.fill(rnd.nextInt(3) + 1)(genPred(rnd, partitioned))
        val q = preds.map(_.pair) ++ pin
        val ctx = s"seed=$seed partitioned=$partitioned at=$at step=$step " +
          s"query=$q"
        val want = scanAggs(scan.filter(preds.map(_.col).reduce(_ && _)))
        val s = SourceSpec(DatasetRef("parquet", dir, "t"), query = q)
        val n = Runner.count(spark, s)
        assert(n == want(4), s"count $n != scan ${want(4)}: $ctx")
        val got = Planner.sourceFrame(spark,
          s.copy(query = q :+ ("_agg" -> Aggs))).head().toSeq
        assert(got == want, s"aggregates $got != scan $want: $ctx")
        Runner.countPlan(spark, s).foreach { case (c, b, t, rows) =>
          assert(c + b <= t, s"split ($c, $b, $t) overflows: $ctx")
          assert(rows <= n, s"covered rows $rows > count $n: $ctx")
        }
      }
      if (partitioned) {
        val g = Planner.sourceFrame(spark, SourceSpec(
          DatasetRef("parquet", dir, "t"),
          query = pin :+ ("_group" -> "g") :+ ("_agg" -> "count,min:id,max:d")))
        val wantG = scan.groupBy("g")
          .agg(count(lit(1)), min("id"), max("d")).collect().map(_.toSeq).toSet
        assert(g.collect().map(_.toSeq).toSet == wantG,
          s"grouped aggregates differ: seed=$seed at=$at")
      }
    }
  }

  test("metadata counts and aggregates equal the scan: sorted snapshot table") {
    for (seed <- Seq(5, 29, 71)) check(partitioned = false, seed)
  }

  test("metadata counts and aggregates equal the scan: partitioned snapshot table") {
    for (seed <- Seq(13, 47)) check(partitioned = true, seed)
  }

  test("escaped string partition values: filtered counts and the _group " +
    "metadata aggregate equal the scan") {
    val dir = tempDir("mplan_esc")
    val p = s"$dir/t.parquet"
    val vals = Seq("a:b", "x/y", "100%", "plain", null)
    val df = (0L until 400L).map(i => (i, vals((i % vals.size).toInt)))
      .toDF("id", "s")
    graft.operators.WriteOps.atomicOverwrite(spark, df, p,
      partitionBy = Seq("s"), indexBy = Seq("id"), maxRecordsPerFile = 40,
      commitMode = "snapshot", keepVersions = 4)
    val scan = Snapshot.readAt(spark, p, None)
    def src(q: (String, String)*) = SourceSpec(DatasetRef("parquet", dir, "t"), query = q)
    for ((q, c) <- Seq(
        Seq("s" -> "a:b") -> (col("s") === "a:b"),
        Seq("s" -> "x/y") -> (col("s") === "x/y"),
        Seq("s__in" -> "100%,a:b") -> col("s").isin("100%", "a:b"),
        Seq("s__gte" -> "a:b", "id__lt" -> "200") -> (col("s") >= "a:b" && col("id") < 200),
        Seq("s__exists" -> "0") -> col("s").isNull)) {
      val want = scan.filter(c).count()
      assert(want > 0, s"empty case $q")
      assert(Runner.count(spark, src(q: _*)) == want, s"count of $q")
    }
    val g = Planner.sourceFrame(spark, src("_group" -> "s", "_agg" -> "count,min:id,max:id"))
    assert(g.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "the partition-group aggregate must answer from the manifest")
    val wantG = scan.groupBy("s").agg(count(lit(1)), min("id"), max("id"))
      .collect().map(_.toSeq).toSet
    assert(g.collect().map(_.toSeq).toSet == wantG)
  }
}

object MetadataPlanProps {
  /** One conjunct: its DSL pair and the scan-side Column. */
  private final case class Pred(pair: (String, String), col: Column)
}
