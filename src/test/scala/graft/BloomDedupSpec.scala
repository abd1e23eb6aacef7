package graft

import org.apache.spark.sql.functions._
import graft.ext.{BloomDedup, TextDedup}

/** Laws for the Bloom-gated incremental exact dedup: the filter is an
  * optimization, never a semantics change — every path must equal the
  * plain anti-join against the seen set.
  */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sf("documents")
  private lazy val seen = docs.filter($"doc_id" < 100)
  private lazy val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 300)

  /** Reference semantics: within-batch exact dedup minus texts the
    * corpus already holds, computed with a plain (no-filter) anti-join.
    */
  private def plainAntiJoin = {
    val seenKeys = seen.select(lower(trim($"text")).as("__t__")).distinct()
    TextDedup.exact(
      batch.join(seenKeys, lower(trim($"text")) === $"__t__", "left_anti"),
      "text", "doc_id")
  }

  test("dedupAgainst equals the plain anti-join (no false negatives)") {
    val bf = BloomDedup.train(seen, "text", 1000L)
    val got = BloomDedup.dedupAgainst(batch, seen, bf, "doc_id", "text")
    assert(rows(got.orderBy("doc_id")) == rows(plainAntiJoin.orderBy("doc_id")))
  }

  test("filter round-trips through the filesystem") {
    val bf = BloomDedup.train(seen, "text", 1000L)
    val path = tempDir("graft_bloom_rt") + "/f.bloom"
    BloomDedup.writeFilter(spark, bf, path)
    val back = BloomDedup.readFilter(spark, path)
    val got = BloomDedup.dedupAgainst(batch, seen, back, "doc_id", "text")
    assert(rows(got.orderBy("doc_id")) == rows(plainAntiJoin.orderBy("doc_id")))
  }

  test("candidates is a superset of the true duplicates, bounded by fpp") {
    val bf = BloomDedup.train(seen, "text", 1000L, fpp = 0.01)
    val cand = BloomDedup.candidates(batch, bf, "text")
      .select("doc_id").as[Long].collect().toSet
    val trueDups = batch
      .join(seen.select(lower(trim($"text")).as("__t__")).distinct(),
        lower(trim($"text")) === $"__t__", "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(trueDups.subsetOf(cand), "Bloom filter produced a false negative")
    // fpp bound with generous slack (fpp=1% over a few hundred rows)
    val falsePos = cand.size - trueDups.size
    assert(falsePos <= math.max(5, (0.05 * batch.count()).toInt),
      s"$falsePos false positives exceeds the fpp envelope")
  }

  test("sharded train/dedup equals the broadcast path") {
    val path = tempDir("graft_bloom_sh")
    BloomDedup.trainSharded(seen, "text", path, shards = 4,
      expectedItemsPerShard = 500L)
    val got = BloomDedup.dedupAgainstSharded(batch, seen, path, 4,
      "doc_id", "text")
    assert(rows(got.orderBy("doc_id")) == rows(plainAntiJoin.orderBy("doc_id")))
  }

  private def antiJoin(b: org.apache.spark.sql.DataFrame,
                       s: org.apache.spark.sql.DataFrame) =
    TextDedup.exact(b.join(s.select(lower(trim($"text")).as("__t__")).distinct(),
      lower(trim($"text")) === $"__t__", "left_anti"), "text", "doc_id")

  /** The batch plus 20 copies of seen texts under fresh ids. */
  private lazy val planted = batch.unionByName(
    seen.orderBy("doc_id").limit(20).withColumn("doc_id", $"doc_id" + 100000))

  test("planted copies of seen texts are removed, as by the anti-join") {
    val bf = BloomDedup.train(seen, "text", 1000L)
    val got = BloomDedup.dedupAgainst(planted, seen, bf, "doc_id", "text")
    assert(rows(got.orderBy("doc_id")) == rows(antiJoin(planted, seen).orderBy("doc_id")))
    assert(got.filter($"doc_id" >= 100000).isEmpty)
  }

  test("a sharded filter retrained at the same path is read afresh") {
    val path = tempDir("graft_bloom_retrain")
    val other = docs.filter($"doc_id" >= 300)
    BloomDedup.trainSharded(other, "text", path, shards = 4,
      expectedItemsPerShard = 500L)
    BloomDedup.dedupAgainstSharded(planted, other, path, 4, "doc_id", "text").count()
    BloomDedup.trainSharded(seen, "text", path, shards = 4,
      expectedItemsPerShard = 500L)
    val got = BloomDedup.dedupAgainstSharded(planted, seen, path, 4,
      "doc_id", "text")
    assert(rows(got.orderBy("doc_id")) == rows(antiJoin(planted, seen).orderBy("doc_id")))
  }

  test("an empty seen set trains empty filters and removes nothing as seen") {
    val none = seen.filter(lit(false))
    assert(!BloomDedup.train(none, "text", 100L).mightContainLong(0L))
    val path = tempDir("graft_bloom_empty")
    BloomDedup.trainSharded(none, "text", path, shards = 2,
      expectedItemsPerShard = 100L)
    val got = BloomDedup.dedupAgainstSharded(batch, none, path, 2, "doc_id", "text")
    assert(rows(got.orderBy("doc_id")) ==
      rows(TextDedup.exact(batch, "text", "doc_id").orderBy("doc_id")))
  }

  test("oversized filter request fails loudly instead of OOMing") {
    intercept[IllegalArgumentException] {
      BloomDedup.train(seen, "text", expectedItems = 100_000_000_000L)
    }
  }
}
