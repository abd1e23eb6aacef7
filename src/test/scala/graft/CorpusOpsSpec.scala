package graft

import org.apache.spark.sql.functions._
import graft.ext.{CorpusOps, TextDedup}

/** Laws for the corpus-assembly operators. The value-level oracle is
  * the DuckDB replay in `oracleSql` (q_chunk/q_pack/q_mix_sample/
  * q_shuffle/q_pii); these specs pin the invariants that make those
  * oracles meaningful — token conservation, permutation-ness,
  * partitioning-independence of the distributed prefix-sum — on data
  * shapes the sf tables don't exercise (duplicates, empties, skew).
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = sf("documents")

  // ── withGlobalOffset ──────────────────────────────────────────────

  test("withGlobalOffset equals the single-partition exclusive cumsum") {
    val df = docs.select($"doc_id", length($"text").cast("long").as("w"))
    val got = CorpusOps.withGlobalOffset(df, "doc_id", "w", "off")
      .select("doc_id", "off")
    val exp = df.withColumn("off", coalesce(
        sum($"w").over(org.apache.spark.sql.expressions.Window
          .orderBy("doc_id").rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("doc_id", "off")
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty)
  }

  test("withGlobalOffset is independent of the bucket count") {
    val df = docs.select($"doc_id", lit(1L).as("w"))
    val a = CorpusOps.withGlobalOffset(df, "doc_id", "w", "off", numParts = 1)
    val b = CorpusOps.withGlobalOffset(df, "doc_id", "w", "off", numParts = 7)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("withGlobalOffset orders by string keys (md5 order)") {
    val df = docs.select(md5($"doc_id".cast("string")).as("h"), lit(1L).as("w"))
    val got = CorpusOps.withGlobalOffset(df, "h", "w", "r", numParts = 5)
    // offsets of weight-1 rows in hash order are exactly 0..n-1
    val n = df.count()
    assert(got.agg(min("r"), max("r"), countDistinct("r")).as[(Long, Long, Long)]
      .head() == ((0L, n - 1, n)))
  }

  test("withGlobalOffset: analytic hex boundaries ≡ sampled boundaries") {
    // md5-keyed offsets must be identical whether the bucket
    // boundaries come from the zero-action analytic hex quantiles or
    // the sampled approxQuantile — boundaries affect parallelism only
    val df = docs.select(md5($"doc_id".cast("string")).as("h"), lit(1L).as("w"))
    val a = CorpusOps.withGlobalOffset(df, "h", "w", "r", uniformHexKey = true)
    val b = CorpusOps.withGlobalOffset(df, "h", "w", "r", uniformHexKey = false)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  // ── temperatureSample ─────────────────────────────────────────────

  test("temperatureSample drops NULL-source rows instead of NPEing") {
    val d = docs.limit(40).withColumn("src",
      when($"doc_id" % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s"), ($"doc_id" % 3).cast("string"))))
    val out = CorpusOps.temperatureSample(d, "doc_id", "src", alpha = 0.5)
    assert(out.filter($"src".isNull).isEmpty) // nulls carry weight 0
    assert(out.count() > 0)
    // all-null degenerate: empty result, no crash
    val allNull = d.withColumn("src", lit(null).cast("string"))
    assert(CorpusOps.temperatureSample(allNull, "doc_id", "src", 0.5).isEmpty)
  }

  // ── chunkTokens ───────────────────────────────────────────────────

  test("chunkTokens: chunks tile the token stream with the given overlap") {
    val out = CorpusOps.chunkTokens(docs, "doc_id", "text", 30, 10)
    val toks = docs.select($"doc_id", size(TextDedup.tokens($"text")).cast("long").as("n"))
      .filter($"n" > 0)
    // per-doc: chunk_id dense 0..k-1, every chunk ≤30 tokens, the sum of
    // (n_tokens - overlap·[not last]) reconstructs the doc token count
    val agg = out.groupBy("doc_id").agg(
      count("*").as("k"), max("chunk_id").as("maxc"),
      sum("n_tokens").as("s"), max("n_tokens").as("mx"), min("n_tokens").as("mn"))
    val j = agg.join(toks, "doc_id")
    assert(j.filter($"maxc" =!= $"k" - 1).isEmpty, "chunk ids not dense")
    assert(j.filter($"mx" > 30 || $"mn" < 1).isEmpty, "chunk size out of range")
    assert(j.filter($"s" - ($"k" - 1) * 10 =!= $"n").isEmpty,
      "token conservation with overlap failed")
    // chunk_text token count matches n_tokens
    val bad = out.filter(
      size(split($"chunk_text", " ")) =!= $"n_tokens" && $"chunk_text" =!= "")
    assert(bad.isEmpty, "chunk_text token count mismatch")
  }

  test("chunkTokens rejects bad parameters and drops empty docs") {
    intercept[IllegalArgumentException] {
      CorpusOps.chunkTokens(docs, "doc_id", "text", 10, 10)
    }
    val empty = Seq((1L, ""), (2L, "   "), (3L, "one two")).toDF("doc_id", "text")
    val out = CorpusOps.chunkTokens(empty, "doc_id", "text", 5, 1)
    assert(rows(out.orderBy("doc_id")) == Seq(Seq(3L, 0L, "one two", 2L)))
  }

  // ── packSequences ─────────────────────────────────────────────────

  test("packSequences: every sequence is exactly seqLen except the last") {
    val out = CorpusOps.packSequences(docs, "doc_id", "text", 64).cache()
    val total = docs.select(sum(size(TextDedup.tokens($"text"))).cast("long")).head().getLong(0)
    val perSeq = out.groupBy("seq_id").agg(sum("n_toks").as("t"))
    val lastSeq = (total - 1) / 64
    assert(perSeq.filter($"seq_id" < lastSeq && $"t" =!= 64L).isEmpty,
      "non-final sequence not exactly seqLen")
    assert(perSeq.agg(sum("t")).head().getLong(0) == total, "token total not conserved")
    // per-doc contributions are contiguous and complete
    val perDoc = out.groupBy("doc_id").agg(
      sum("n_toks").as("t"), min("doc_start").as("st"))
    val toks = docs.select($"doc_id", size(TextDedup.tokens($"text")).cast("long").as("n"))
      .filter($"n" > 0)
    assert(perDoc.join(toks, "doc_id").filter($"t" =!= $"n" || $"st" =!= 0L).isEmpty,
      "doc span not fully packed")
    out.unpersist()
  }

  test("packAttentionSpans: spans tile each sequence and agree with packSequences") {
    val spans = CorpusOps.packAttentionSpans(docs, "doc_id", "text", 64).cache()
    // tiling law: spans start at 0 and seq_starts(i) == running sum of
    // span_toks before i (each span begins where the previous ended)
    assert(spans.filter($"seq_starts"(0) =!= 0L).isEmpty,
      "first span must start at 0")
    val bad = spans.filter(!forall(
      zip_with($"seq_starts",
        transform($"span_toks", (_, i) =>
          aggregate(slice($"span_toks", lit(1), i), lit(0L), (a, x) => a + x)),
        (s, c) => s === c), identity))
    assert(bad.isEmpty, "seq_starts must equal the running sum of span_toks")
    // totals agree with packSequences per sequence
    val flat = CorpusOps.packSequences(docs, "doc_id", "text", 64)
      .groupBy("seq_id").agg(count("*").as("k"), sum("n_toks").as("t"))
    val j = spans.select($"seq_id", $"n_docs", $"n_toks").join(flat, "seq_id")
    assert(j.filter($"n_docs" =!= $"k" || $"n_toks" =!= $"t").isEmpty,
      "span totals disagree with packSequences")
    assert(spans.count() == flat.count(), "sequence sets differ")
    spans.unpersist()
  }

  // ── mixtureSample ─────────────────────────────────────────────────

  test("mixtureSample: integer weights exact, fractional within binomial bounds") {
    val n = docs.count()
    val bySrc = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val out = CorpusOps.mixtureSample(docs, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.25, "src3" -> 0.0))
    val got = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!got.contains("src3"), "weight-0 source must vanish")
    for ((s, c) <- bySrc if s != "src0" && s != "src1" && s != "src3")
      assert(got(s) == c, s"default-weight source $s resampled")
    // fractional parts: mean w·n, 4-sigma binomial tolerance
    def within(s: String, w: Double): Unit = {
      val base = bySrc(s); val mean = w * base
      val sd = math.sqrt(base * 0.5) // p(1-p) ≤ .25; be generous
      assert(math.abs(got.getOrElse(s, 0L) - mean) <= 4 * sd + 1,
        s"$s: got ${got.getOrElse(s, 0L)} want ~$mean")
    }
    within("src0", 2.5); within("src1", 0.25)
    // determinism: same call twice → identical rows
    val again = CorpusOps.mixtureSample(docs, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.25, "src3" -> 0.0))
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  // ── shuffleRank ───────────────────────────────────────────────────

  test("shuffleRank is a deterministic permutation of 1..n") {
    val out = CorpusOps.shuffleRank(docs, "doc_id").cache()
    val n = docs.count()
    assert(out.agg(min("shuffle_rank"), max("shuffle_rank"),
      countDistinct("shuffle_rank")).as[(Long, Long, Long)].head() == ((1L, n, n)))
    // a different seed produces a different order (overwhelmingly)
    val other = CorpusOps.shuffleRank(docs, "doc_id", seed = "epoch2")
    val same = out.join(other.withColumnRenamed("shuffle_rank", "r2"), "doc_id")
      .filter($"shuffle_rank" === $"r2").count()
    assert(same < n / 10, s"seeds nearly agree: $same/$n fixed points")
    out.unpersist()
  }

  // ── trainingShards / writeTrainingShards ──────────────────────────

  test("trainingShards: round-robin shards are exact and partition the epoch") {
    val out = CorpusOps.trainingShards(docs, "doc_id", "text", 64, 8).cache()
    // every sequence lands on exactly one shard, shard = seq % 8
    assert(out.filter(pmod($"seq_id", lit(8L)) =!= $"shard_id").isEmpty)
    val sizes = out.select("seq_id", "shard_id").distinct()
      .groupBy("shard_id").count().select("count").as[Long].collect()
    assert(sizes.length == 8 && sizes.max - sizes.min <= 1,
      s"round-robin shards not balanced: ${sizes.toSeq}")
    // packing follows the epoch order: same doc set as packSequences,
    // token totals conserved
    val total = docs.select(sum(size(graft.ext.TextDedup.tokens($"text")))
      .cast("long")).head().getLong(0)
    assert(out.agg(sum("n_toks")).head().getLong(0) == total)
    out.unpersist()
  }

  test("writeTrainingShards lays out hive shards replaying the epoch order") {
    val dir = tempDir("graft_shards")
    try {
      CorpusOps.writeTrainingShards(docs, "doc_id", "text", 64, 4, dir)
      val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet
      assert(dirs == Set("shard_id=0", "shard_id=1", "shard_id=2", "shard_id=3"))
      val back = spark.read.parquet(dir)
      val direct = CorpusOps.trainingShards(docs, "doc_id", "text", 64, 4)
      assert(back.count() == direct.count())
      assert(back.select("seq_id", "doc_id", "doc_start", "n_toks", "shard_id")
        .except(direct.select("seq_id", "doc_id", "doc_start", "n_toks", "shard_id"))
        .isEmpty)
      // each shard file is sorted: a sequential read replays seq order
      for (f <- new java.io.File(dir, "shard_id=0").listFiles()
             if f.getName.endsWith(".parquet")) {
        val seqs = spark.read.parquet(f.getPath).select("seq_id").as[Long]
          .collect()
        assert(seqs.sameElements(seqs.sorted), s"${f.getName} not in seq order")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ── tfidf ─────────────────────────────────────────────────────────

  test("tfidf matches the brute-force definition on a toy corpus") {
    val toy = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date date date")).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.tfidf(toy, "doc_id", "text")
      .orderBy("doc_id", "token")
    def idf(df: Long) = math.log(4.0 / (df + 1)) + 1 // N=3
    val exp = Seq(
      (1L, "apple", 2L, 2L, 2 * idf(2)), (1L, "banana", 1L, 2L, idf(2)),
      (2L, "banana", 1L, 2L, idf(2)), (2L, "cherry", 1L, 1L, idf(1)),
      (3L, "apple", 1L, 2L, idf(2)), (3L, "date", 3L, 1L, 3 * idf(1)))
    assert(rows(got) == exp.map(t => Seq(t._1, t._2, t._3, t._4, t._5)))
    // minDocFreq drops the df=1 tail
    val pruned = graft.ext.TextAnalysis.tfidf(toy, "doc_id", "text", minDocFreq = 2)
    assert(pruned.select("token").distinct().as[String].collect().toSet ==
      Set("apple", "banana"))
  }

  // ── piiStats ──────────────────────────────────────────────────────

  test("piiStats and chunkTokens treat NULL text as empty") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("a@b.io")))
      .toDF("doc_id", "text")
    val pii = CorpusOps.piiStats(df)
      .select("doc_id", "n_emails", "has_pii").orderBy("doc_id")
    assert(rows(pii) == Seq(Seq(1L, 0L, false), Seq(2L, 1L, true)))
    assert(CorpusOps.chunkTokens(df, "doc_id", "text", 5, 1)
      .filter($"doc_id" === 1L).isEmpty)
  }

  test("piiStats counts emails/urls/ips/phones and flags has_pii") {
    val df = Seq(
      (1L, "write a@b.io or c.d+x@e-f.org, see https://x.y/z?q=1 HTTP://up.example"),
      (2L, "host 10.0.0.7 and 255.255.255.255 but not 999.999.999.999 nor 1.2.3.456"),
      (3L, "call +1 415 555 0133 or (020) 7946-0958"),
      (4L, "nothing here"),
      (5L, "release 1.2.3.4 is out")).toDF("doc_id", "text")
    val got = CorpusOps.piiStats(df)
      .select("doc_id", "n_emails", "n_urls", "n_ips", "n_phones", "has_pii")
      .orderBy("doc_id")
    assert(rows(got) == Seq(
      Seq(1L, 2L, 2L, 0L, 0L, true),
      Seq(2L, 0L, 0L, 2L, 0L, true),   // 999.* and 1.2.3.456 rejected
      Seq(3L, 0L, 0L, 0L, 2L, true),
      Seq(4L, 0L, 0L, 0L, 0L, false),
      Seq(5L, 0L, 0L, 1L, 0L, true)))  // version strings: documented tradeoff
  }

  test("takeTokenBudget keeps the epoch-order prefix, overshoots ≤ 1 doc") {
    val d = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"), (4L, "j"))
      .toDF("doc_id", "text")
    // replay the op's own order: md5("graft:"+id) ascending
    val order = d.select($"doc_id",
        md5(concat(lit("graft:"), $"doc_id".cast("string"))).as("h"))
      .orderBy("h").select("doc_id").as[Long].collect().toSeq
    val lens = Map(1L -> 3L, 2L -> 2L, 3L -> 4L, 4L -> 1L)
    val budget = 5L
    // expected: docs whose exclusive running total is < budget
    var run = 0L
    val want = order.flatMap { id =>
      val keep = run < budget; run += lens(id); if (keep) Some(id) else None
    }.toSet
    val got = CorpusOps.takeTokenBudget(d, "doc_id", "text", budget)
    assert(got.select("doc_id").as[Long].collect().toSet == want)
    // kept token mass reaches the budget but overshoots by < one doc
    val kept = got.agg(sum("n_toks")).as[Long].head()
    assert(kept >= budget && kept - budget < lens.values.max)
    // budget beyond the corpus keeps everything
    assert(CorpusOps.takeTokenBudget(d, "doc_id", "text", 1000L).count() == 4)
  }

  test("RegexCounts ≡ size(regexp_extract_all) on the documents table") {
    import org.apache.spark.sql.functions.{coalesce, element_at, lit, size, regexp_extract_all}
    val res = Seq(CorpusOps.EmailRe, CorpusOps.UrlRe,
      CorpusOps.Ipv4Re, CorpusOps.PhoneRe)
    // augment real docs so every pattern actually fires somewhere
    val docs = sf("documents").withColumn("text",
      org.apache.spark.sql.functions.concat($"text",
        org.apache.spark.sql.functions.when($"doc_id" % 3 === 0,
          lit(" x@y.io https://a.b 10.0.0.1 +1 415 555 0100")).otherwise(lit(""))))
    val counts = graft.functions.TextExprs.regexCounts($"text", res)
    val anyMismatch = res.zipWithIndex.map { case (re, i) =>
      coalesce(element_at($"__pc__", i + 1), lit(0L)) =!=
        coalesce(size(regexp_extract_all($"text", lit(re), lit(0))).cast("long"), lit(0L))
    }.reduce(_ || _)
    assert(docs.withColumn("__pc__", counts).filter(anyMismatch).count() == 0)
  }

  test("piiRedact: all four kinds redacted, chain order, NULL passthrough") {
    val d = Seq(
      (1L, "mail a.b@x.io or see https://h.io/p?x=1 now"),
      (2L, "host 10.0.0.1 call +1 415 555 0100 end"),
      // the URL pattern runs BEFORE the IP pattern, so an IP inside a
      // URL is consumed by <URL> and never double-redacted
      (3L, "fetch http://10.0.0.1/secret then ping 10.0.0.2"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = CorpusOps.piiRedact(d).orderBy("doc_id")
      .select("text").as[String].collect().toSeq
    assert(got(0) == "mail <EMAIL> or see <URL> now")
    assert(got(1) == "host <IP> call <PHONE> end")
    assert(got(2) == "fetch <URL> then ping <IP>")
    assert(got(3) == null)
    // redacted output carries no residual PII
    val rescan = CorpusOps.piiStats(CorpusOps.piiRedact(d))
    assert(rescan.filter($"has_pii").count() == 0)
  }

  test("leakSafeSplits: near-dups co-travel, singletons split like hash_split") {
    import graft.ext.{CorpusOps, TextDedup}
    val docs = sf("documents").limit(300)
    val out = CorpusOps.leakSafeSplits(docs, "doc_id", "text",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).cache()
    assert(out.count() == 300)
    // THE law: no mined near-dup pair straddles two splits
    val pairs = TextDedup.minhashPairs(docs, "doc_id", "text")
    val sp = out.select($"doc_id", $"split")
    val straddle = pairs
      .join(sp.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("split", "sa"), "id_a")
      .join(sp.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("split", "sb"), "id_b")
      .filter($"sa" =!= $"sb").count()
    assert(straddle == 0, s"$straddle near-dup pairs straddle splits")
    // singletons (never in any pair) split exactly like a plain
    // hash_split on their own id
    val inPairs = pairs.select($"id_a".as("doc_id"))
      .union(pairs.select($"id_b".as("doc_id"))).distinct()
    val singles = out.join(inPairs, Seq("doc_id"), "left_anti")
    val plain = docs.select($"doc_id",
      graft.functions.Transformers.hashSplitColumn($"doc_id", "md5",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("plain"))
    assert(singles.join(plain, "doc_id")
      .filter($"split" =!= $"plain").count() == 0)
    // all three splits materialize at this slice (weights are sane)
    assert(out.select("split").distinct().count() == 3)
    out.unpersist()
  }

  test("leakSafeSplits from a signature index == from text (and the CLI plumbing)") {
    import graft.ext.{CorpusOps, TextDedup}
    import graft.spec.TransformStage
    val docs = sf("documents").limit(300)
    val idxDir = tempDir("lss_idx") + "/idx"
    TextDedup.writeSignatureIndex(docs, "doc_id", "text", idxDir)
    val w = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val fromText = CorpusOps.leakSafeSplits(docs, "doc_id", "text", w)
      .select("doc_id", "split")
    val fromIdx = CorpusOps.leakSafeSplits(docs, "doc_id", "text", w,
      indexPath = Some(idxDir)).select("doc_id", "split")
    assert(fromText.except(fromIdx).count() == 0 &&
      fromIdx.except(fromText).count() == 0,
      "index-reuse path must produce the identical split assignment")
    // CLI stage grammar: index= option reuses the same path
    val t = graft.functions.Transformers
    val cliIdx = t.resolve(TransformStage("split_leakfree",
      Seq("doc_id", "text", "split", s"index=$idxDir",
        "train:0.9", "val:0.05", "test:0.05")))(docs)
      .select("doc_id", "split")
    assert(cliIdx.except(fromText).count() == 0 &&
      fromText.except(cliIdx).count() == 0)
    // pairs_from_index stage == minhashPairs from text
    val cliPairs = t.resolve(TransformStage("pairs_from_index", Seq(idxDir)))(docs)
      .select("id_a", "id_b")
    val textPairs = TextDedup.minhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
    assert(cliPairs.except(textPairs).count() == 0 &&
      textPairs.except(cliPairs).count() == 0)
  }
}
