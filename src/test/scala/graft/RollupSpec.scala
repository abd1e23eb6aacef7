package graft

import graft.ext.RollupOps
import graft.ext.RollupOps.Agg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental rollup maintenance laws: any batching/ordering of
  * summarize+merge finishes to the direct grouped aggregate; merge is
  * associative; disjoint states concatenate; the transformer stages
  * mirror the API.
  */
class RollupSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("l_returnflag", "l_linestatus")
  private val aggs = RollupOps.parse(Seq(
    "count", "count:l_tax", "sum:l_quantity", "min:l_shipdate",
    "max:l_extendedprice", "avg:l_discount"))

  private lazy val li = sf("lineitem")

  private def finished(states: Seq[DataFrame]): Seq[Seq[Any]] =
    rows(RollupOps.finish(RollupOps.merge(states, keys), keys, aggs)
      .orderBy(keys.map(col): _*))
      // double-valued columns rounded the way the driver gate rounds,
      // so FP association across batchings cannot flake the law
      .map(_.map {
        case d: Double => math.rint(d * 1e9) / 1e9
        case v => v
      })

  private lazy val direct = finished(Seq(RollupOps.summarize(li, keys, aggs)))

  test("maintenance law: k-batch incremental == direct, several batchings") {
    for (k <- Seq(2, 3, 5)) {
      val states = (0 until k).map(i =>
        RollupOps.summarize(li.filter(col("l_orderkey") % k === i), keys, aggs))
      assert(finished(states) == direct, s"batching k=$k diverged")
      assert(finished(states.reverse) == direct, s"reversed k=$k diverged")
    }
  }

  test("merge is associative and handles groups absent from one side") {
    val a = RollupOps.summarize(li.filter(col("l_returnflag") === "A"), keys, aggs)
    val b = RollupOps.summarize(li.filter(col("l_returnflag") === "R"), keys, aggs)
    val c = RollupOps.summarize(li.filter(col("l_returnflag") === "N"), keys, aggs)
    val left = RollupOps.merge(Seq(RollupOps.merge(Seq(a, b), keys), c), keys)
    val right = RollupOps.merge(Seq(a, RollupOps.merge(Seq(b, c), keys)), keys)
    assert(finished(Seq(left)) == finished(Seq(right)))
    assert(finished(Seq(left)) == direct) // disjoint union covers all
  }

  test("maintain() folds batches one at a time to the same rollup") {
    val batches = (0 until 4).map(i => li.filter(col("l_orderkey") % 4 === i))
    val state = batches.foldLeft(Option.empty[DataFrame])((acc, b) =>
      Some(RollupOps.maintain(acc, b, keys, aggs)))
    assert(finished(Seq(state.get)) == direct)
  }

  test("count:f skips nulls; avg of an all-null group is null") {
    import spark.implicits._
    val df = Seq(("g1", Some(1.0)), ("g1", None), ("g2", None))
      .toDF("k", "v")
    val st = RollupOps.summarize(df, Seq("k"),
      RollupOps.parse(Seq("count", "count:v", "avg:v")))
    val got = rows(RollupOps.finish(st, Seq("k"),
      RollupOps.parse(Seq("count", "count:v", "avg:v"))).orderBy("k"))
    assert(got == Seq(Seq("g1", 2L, 1L, 1.0), Seq("g2", 1L, 0L, null)))
  }

  test("hll distinct-count states: incremental union == direct sketch; ≈ exact") {
    // COUNT DISTINCT is the aggregate exact partial states cannot
    // cover; the HLL sketch union is exact over the sketch algebra
    // (register-wise max), so incremental must equal direct EXACTLY
    val aggsH = RollupOps.parse(Seq("count", "hll:l_partkey"))
    val states = (0 until 3).map(i =>
      RollupOps.summarize(li.filter(col("l_orderkey") % 3 === i), keys, aggsH))
    val inc = rows(RollupOps.finish(RollupOps.merge(states, keys), keys, aggsH)
      .orderBy(keys.map(col): _*))
    val dir = rows(RollupOps.finish(RollupOps.summarize(li, keys, aggsH),
      keys, aggsH).orderBy(keys.map(col): _*))
    assert(inc == dir, "sketch union must equal the one-shot sketch")
    // and the estimate tracks the exact distinct count (HLL++ default
    // lgConfigK=12 ⇒ ~1.6% rsd; 5% bound is > 3σ)
    val exact = li.groupBy(keys.map(col): _*)
      .agg(countDistinct(col("l_partkey")).as("x"))
      .orderBy(keys.map(col): _*).select("x").as[Long].collect()
    inc.map(_.last.asInstanceOf[Long]).zip(exact).foreach { case (e, x) =>
      assert(math.abs(e - x) <= math.max(2.0, 0.05 * x),
        s"hll estimate $e vs exact $x")
    }
  }

  test("maintainPruned rewrites only intersecting state files; result == direct") {
    val dir = tempDir("graft_rollpm")
    val statePath = s"$dir/state.parquet"
    val k = Seq("l_orderkey") // many groups → many indexed files
    val a = RollupOps.parse(Seq("count", "sum:l_quantity"))
    val (oldHalf, newHalf) =
      (li.filter($"l_orderkey" % 2 === 0), li.filter($"l_orderkey" % 2 === 1))
    // seed: indexed snapshot state over the even-key facts, many files
    graft.operators.WriteOps.atomicOverwrite(spark,
      RollupOps.summarize(oldHalf, k, a)
        .withColumn("__batch_id", lit(0L)).withColumn("__run_id", lit("r0")),
      statePath, indexBy = k, maxRecordsPerFile = 100, commitMode = "snapshot")
    // batch touches a narrow key band (some existing groups + new odd keys)
    val batch = newHalf.filter($"l_orderkey" < 200)
      .unionAll(oldHalf.filter($"l_orderkey" < 100))
    val stats = RollupOps.maintainPruned(spark, statePath, batch, k, a,
      meta = Seq("__batch_id" -> lit(1L), "__run_id" -> lit("r0")))
    assert(stats.exists(st => st.filesRewritten > 0 &&
      st.filesRewritten < st.filesTotal),
      s"pruned maintenance must rewrite a strict file subset, got $stats")
    // law: pruned-maintained state finishes to the direct aggregate
    val got = rows(RollupOps.finish(
      graft.sources.Resolver.readParquet(spark, statePath)
        .drop("__batch_id", "__run_id"), k, a).orderBy(k.map(col): _*))
    val want = rows(RollupOps.finish(RollupOps.summarize(
      oldHalf.unionAll(batch), k, a), k, a).orderBy(k.map(col): _*))
    assert(got == want)
    // untouched rows keep their old markers; touched rows carry batch 1
    val marks = graft.sources.Resolver.readParquet(spark, statePath)
      .groupBy("__batch_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(marks.keySet == Set(0L, 1L), s"mixed markers expected, got $marks")
    // footer bound: the max recorded marker certifies from metadata
    // alone — the streaming idempotence check's zero-data-rows path —
    // and mixed markers (0 and 1 across files) bound to the max
    assert(RollupOps.footerMaxLong(spark, statePath, "__batch_id")
      .contains(1L))
    // an unknown column cannot certify; a non-snapshot layout cannot
    assert(RollupOps.footerMaxLong(spark, statePath, "__nope").isEmpty)
    val plain = s"$dir/plain.parquet"
    li.limit(10).write.parquet(plain)
    assert(RollupOps.footerMaxLong(spark, plain, "l_orderkey").isEmpty)
  }

  test("maintainPruned preserves NULL-keyed group state (null-safe prefilter + semi join)") {
    val dir = tempDir("graft_rollnull")
    val statePath = s"$dir/state.parquet"
    val k = Seq("g")
    val a = RollupOps.parse(Seq("count", "sum:v"))
    // seed state: six named groups + NULL, small files so the merge
    // has a strict subset to prune
    val seed = (Seq.tabulate(12)(i => (Some(('a' + i % 6).toChar.toString),
      i.toLong)) ++ Seq((None, 10L), (None, 20L))).toDF("g", "v")
    graft.operators.WriteOps.atomicOverwrite(spark,
      RollupOps.summarize(seed, k, a)
        .withColumn("__batch_id", lit(0L)).withColumn("__run_id", lit("r0")),
      statePath, indexBy = k, maxRecordsPerFile = 2, commitMode = "snapshot")
    // the batch touches the NULL group and 'a'
    val batch = Seq((None, 100L), (Some("a"), 5L)).toDF("g", "v")
    val st = RollupOps.maintainPruned(spark, statePath, batch, k, a,
      meta = Seq("__batch_id" -> lit(1L), "__run_id" -> lit("r0")))
    assert(st.isDefined)
    val got = rows(RollupOps.finish(
      graft.sources.Resolver.readParquet(spark, statePath)
        .drop("__batch_id", "__run_id"), k, a).orderBy(asc_nulls_first("g")))
    val want = rows(RollupOps.finish(RollupOps.summarize(
      seed.unionAll(batch), k, a), k, a).orderBy(asc_nulls_first("g")))
    assert(got == want,
      s"NULL group state must merge, not be replaced: $got vs $want")
  }

  test("transformer stages mirror the API") {
    val viaStages = graft.functions.Transformers.apply(li, Seq(
      graft.spec.TransformStage("rollup_state",
        Seq("l_returnflag,l_linestatus", "count", "sum:l_quantity")),
      graft.spec.TransformStage("rollup_finish",
        Seq("l_returnflag,l_linestatus", "count", "sum:l_quantity"))))
    val api = RollupOps.finish(
      RollupOps.summarize(li, keys, RollupOps.parse(Seq("count", "sum:l_quantity"))),
      keys, RollupOps.parse(Seq("count", "sum:l_quantity")))
    assert(rows(viaStages.orderBy(keys.map(col): _*)) ==
      rows(api.orderBy(keys.map(col): _*)))
  }
}
