package graft

import org.apache.spark.sql.functions._
import graft.ext.{Retrieval, TextAnalysis}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sf("documents")

  test("persisted bm25 index: search == from-scratch bm25TopK") {
    val path = tempDir("bm25spec")
    Retrieval.writeBm25Index(docs, path)
    val fromIndex =
      Retrieval.searchBm25Index(spark, path, "fast hash join dup", topK = 25)
        .as[(Long, Double)].collect().toSeq
    val fromScratch =
      TextAnalysis.bm25TopK(docs, "fast hash join dup", topK = 25)
        .as[(Long, Double)].collect().toSeq
    assert(fromIndex == fromScratch)
    assert(fromIndex.nonEmpty)
  }

  test("persisted bm25 index: term filter pushes into the postings scan") {
    val path = tempDir("bm25spec2")
    Retrieval.writeBm25Index(docs, path)
    val q = Retrieval.searchBm25Index(spark, path, "fast dup", topK = 5)
    val scan = q.queryExecution.executedPlan.toString()
    // the In(term, ...) predicate must reach the parquet source, where
    // the term-sorted row-group envelopes turn it into footer skipping
    assert(scan.contains("PushedFilters") && scan.contains("term"))
  }

  test("hardNegatives: per-query scores ≡ single-query bm25TopK; positive excluded; k bound") {
    val pairs = Seq((0L, "fast hash join", 3L), (1L, "slow scan filter", 7L))
      .toDF("q_id", "query", "pos_id")
    val neg = Retrieval.hardNegatives(docs, pairs, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // bound and exclusion
    assert(neg.groupBy(_._1).forall(_._2.size <= 5))
    assert(!neg.exists { case (q, d, _, _) =>
      (q == 0L && d == 3L) || (q == 1L && d == 7L) })
    // ranks are 1..n per query in score order
    neg.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted == (1L to rs.size).toSeq) }
    // law: the multi-query batch scorer agrees with the single-query
    // scorer on each query's ranking once the positive is removed
    for ((q, query, pos) <- Seq((0L, "fast hash join", 3L),
        (1L, "slow scan filter", 7L))) {
      val single = TextAnalysis.bm25TopK(docs, query, topK = 6)
        .as[(Long, Double)].collect().toSeq
        .filterNot(_._1 == pos).take(5)
      val batch = neg.filter(_._1 == q).sortBy(_._4).map(t => (t._2, t._3))
      assert(batch == single, s"q=$q: $batch vs $single")
    }
  }

  test("rrfFuse: hand-checked fusion, missing ids, list-order determinism") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq(a, b), topK = 10, c = 60)
      .as[(Long, Double, Long)].collect().toSeq
    def r(x: Double) = math.round(x * 1e6) / 1e6
    val exp = Seq(
      (10L, r(1.0 / 61 + 1.0 / 62), 2L),
      (20L, r(1.0 / 62 + 1.0 / 61), 2L),
      (30L, r(1.0 / 63), 1L),
      (40L, r(1.0 / 63), 1L))
    // 10 and 20 tie exactly (same contributions, swapped) → id breaks it
    assert(got == exp.sortBy { case (id, s, _) => (-s, id) })
    // fusing in the same list order twice is bit-identical
    val again = Retrieval.rrfFuse(Seq(a, b), topK = 10, c = 60)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == again)
  }

  test("blocklistFilter: counts, types, verdict, word-level exactness") {
    val d = Seq(
      (1L, "spam spam casino tonight"),
      (2L, "a classy glass of water"),   // 'ass' substring must NOT match
      (3L, "clean text only"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistFilter(d, Seq("spam", "casino", "ass"))
      .select("doc_id", "n_blocked", "n_blocked_types", "blocked")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, true),   // spam x2 + casino; 2 distinct types
      (2L, 0L, 0L, false),
      (3L, 0L, 0L, false),
      (4L, 0L, 0L, false)))
  }
}
