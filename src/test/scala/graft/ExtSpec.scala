package graft

import graft.ext._
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (3L, "completely different content about spark engines and query planners here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")
  ).toDF("doc_id", "text")

  test("tokens + shingles") {
    val sh = docs.filter($"doc_id" === 1L)
      .select(TextDedup.shingles($"text", 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh.contains("the quick brown") && sh.contains("river bank today"))
    assert(sh.size == 12) // 14 tokens -> 12 shingles, all distinct
    val empty = Seq(Tuple1("a b")).toDF("text")
      .select(TextDedup.shingles($"text", 3)).as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("lmScore: hand-computed add-k probabilities, OOV bucket, empty doc") {
    val train = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // minCount=1: vocab {a:3, b:1, c:1}, N=5, V=3, denom = 5 + 0.5*4 = 7
    val full = TextAnalysis.lmScore(train, train, addK = 0.5, minCount = 1L)
      .orderBy("doc_id")
      .select("n_toks", "cross_entropy", "perplexity")
      .as[(Long, Double, Double)].collect().toSeq
    val ce1 = -(math.log(3.5 / 7) * 2 + math.log(1.5 / 7)) / 3
    val ce2 = -(math.log(3.5 / 7) + math.log(1.5 / 7)) / 2
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(full == Seq((3L, r4(ce1), r4(math.exp(ce1))),
                       (2L, r4(ce2), r4(math.exp(ce2)))))
    // minCount=2 prunes b and c into the shared OOV bucket:
    // vocab {a:3}, N=3, V=1, denom = 3 + 0.5*2 = 4
    val pruned = TextAnalysis.lmScore(train, train, addK = 0.5, minCount = 2L)
      .orderBy("doc_id").select("cross_entropy").as[Double].collect().toSeq
    val oov = math.log(0.5 / 4)
    assert(pruned == Seq(r4(-(math.log(3.5 / 4) * 2 + oov) / 3),
                         r4(-(math.log(3.5 / 4) + oov) / 2)))
    // zero-token target doc: n_toks 0, NULL scores (never dropped)
    val tgt = Seq((9L, "a unseen"), (10L, "  ")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(train, tgt, addK = 0.5, minCount = 1L)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) == 2L &&
      out(0).getDouble(2) == r4(-(math.log(3.5 / 7) + math.log(0.5 / 7)) / 2))
    assert(out(1).getLong(1) == 0L && out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("dupSpans: cross-doc hits, overlap + adjacency merge, short docs skipped") {
    val d = Seq(
      (1L, "a b c d e"),               // "a b c","b c d" shared with doc 2
      (2L, "a b c d z"),
      (3L, "m n o m n o m n o"),       // self-repeat: every 3-gram duplicated
      (4L, "p q"),                     // shorter than n -> no grams
      (5L, "totally unique words only here")
    ).toDF("doc_id", "text")
    val spans = TextDedup.dupSpans(d, "doc_id", "text", n = 3, minOccur = 2L)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // docs 1,2: hits at pos 0,1 merge into [0,4); doc 3: "m n o" at
    // 0,3,6 plus the rotations at 1,2,4,5 all duplicated -> one [0,9)
    assert(spans == Seq((1L, 0L, 4L, 4L), (2L, 0L, 4L, 4L),
                        (3L, 0L, 9L, 9L)))
    // gap between duplicated grams splits spans: the shared 3-gram
    // sits at pos 0 and pos 4 of doc 7 (gap > 0 after [0,3))
    val d2 = Seq((6L, "a b c"), (7L, "a b c q a b c")).toDF("doc_id", "text")
    val s2 = TextDedup.dupSpans(d2, "doc_id", "text", n = 3, minOccur = 2L)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end").as[(Long, Long, Long)]
      .collect().toSeq
    assert(s2 == Seq((6L, 0L, 3L), (7L, 0L, 3L), (7L, 4L, 7L)))
  }

  test("lmScore2: hand-computed bigram probabilities, unseen context, short docs") {
    val train = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // bigrams: (a,b):3, (b,a):1, (b,c):1; contexts: a→3, b→2; V=3 (a,b,c)
    // denom(a) = 3 + 0.5*4 = 5; denom(b) = 2 + 0.5*4 = 4
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val out = TextAnalysis.lmScore2(train, train, "doc_id", "text")
      .orderBy("doc_id")
      .select("n_bigrams", "cross_entropy").as[(Long, Double)].collect().toSeq
    val ce1 = -(math.log(3.5 / 5) * 2 + math.log(1.5 / 4)) / 3
    val ce2 = -(math.log(3.5 / 5) + math.log(1.5 / 4)) / 2
    assert(out == Seq((3L, r4(ce1)), (2L, r4(ce2))))
    // unseen context c → p = k/(0 + k*(V+1)) = 1/4; 1-token doc → nulls
    val tgt = Seq((8L, "c a"), (9L, "a")).toDF("doc_id", "text")
    val o2 = TextAnalysis.lmScore2(train, tgt, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(o2(0).getLong(1) == 1L &&
      o2(0).getDouble(2) == r4(-math.log(0.25)))
    assert(o2(1).getLong(1) == 0L && o2(1).isNullAt(2) && o2(1).isNullAt(3))
  }

  test("lmModel + lmScoreWith ≡ lmScore; empty model has a defined floor") {
    val train = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val split = TextAnalysis.lmScoreWith(
      TextAnalysis.lmModel(train, minCount = 2L), train, addK = 0.5)
    val direct = TextAnalysis.lmScore(train, train, addK = 0.5, minCount = 2L)
    assert(split.orderBy("doc_id").collect().toSeq ==
      direct.orderBy("doc_id").collect().toSeq)
    // empty model (minCount too high): every token is OOV at p = k/k = 1
    val empty = TextAnalysis.lmScoreWith(
      TextAnalysis.lmModel(train, minCount = 99L), train)
    assert(empty.select("cross_entropy").as[Double].collect().toSeq ==
      Seq(0.0, 0.0))
  }

  test("removeDupSpans cuts all copies, passes unique text through") {
    val d = Seq(
      (1L, "a b c d e"),               // spans [0,4) shared with doc 2
      (2L, "a b c d z"),
      (3L, "m n o m n o m n o"),       // fully duplicated -> empty
      (4L, "totally unique words only here"),
      (5L, null.asInstanceOf[String])  // NULL cleans to ""
    ).toDF("doc_id", "text")
    val out = TextDedup.removeDupSpans(d, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "e", 4L), (2L, "z", 4L), (3L, "", 9L),
      (4L, "totally unique words only here", 0L), (5L, "", 0L)))
  }

  test("sampleK: deterministic subset of exact size, planned as top-k") {
    val d = sf("documents")
    val s1 = Sampling.sampleK(d, "doc_id", 10)
    val s2 = Sampling.sampleK(d, "doc_id", 10)
    val ids1 = s1.select("doc_id").as[Long].collect().toSet
    assert(ids1.size == 10 && ids1 == s2.select("doc_id").as[Long].collect().toSet)
    // a different seed is an independent draw
    assert(Sampling.sampleK(d, "doc_id", 10, seed = "other")
      .select("doc_id").as[Long].collect().toSet != ids1)
    // k >= corpus: everything survives
    assert(Sampling.sampleK(d, "doc_id", 1000000).count() == d.count())
    // scale shape: per-partition heap + k-row merge, not a global sort
    assert(s1.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("samplePerStratum: exactly n per stratum, deterministic") {
    val d = sf("documents")
    val out = Sampling.samplePerStratum(d, "source", "doc_id", 3)
    val sizes = out.groupBy("source").count()
      .select("count").as[Long].collect().toSeq
    assert(sizes.nonEmpty && sizes.forall(_ == 3))
    assert(out.orderBy("doc_id").collect().toSeq ==
      Sampling.samplePerStratum(d, "source", "doc_id", 3)
        .orderBy("doc_id").collect().toSeq)
  }

  test("histogram: equi-width buckets, max in top bucket, degenerate input") {
    val d = (0 until 16).map(_.toDouble).toDF("v")
    val h = graft.ext.Profile.histogram(d, "v", 4)
      .orderBy("bucket")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(h.map(r => (r._1, r._2)) ==
      Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 4L))) // v=15 (max) clamps into bucket 3
    assert(h.head._3 == 0.0 && h.last._4 == 15.0)
    // min == max: everything in bucket 0
    val one = Seq(7.0, 7.0).toDF("v")
    assert(graft.ext.Profile.histogram(one, "v", 4)
      .as[(Long, Long, Double, Double)].collect().toSeq == Seq((0L, 2L, 7.0, 7.0)))
  }

  test("rolling: trailing range frame counts same-second peers, drops old") {
    val ev = Seq(
      (1L, 7L, 0L, 1.0), (2L, 7L, 1800L, 2.0), (3L, 7L, 3600L, 4.0),
      (4L, 7L, 3601L, 8.0),    // event 1 (t=0) now outside [1, 3601]
      (5L, 9L, 3600L, 16.0)    // other user unaffected
    ).toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    val out = graft.ext.EventWindows.rolling(ev, 3600L)
      .orderBy("event_id")
      .select("event_id", "n_window", "sum_window")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1L, 1.0), (2L, 2L, 3.0), (3L, 3L, 7.0),
      (4L, 3L, 14.0), (5L, 1L, 16.0)))
  }

  test("funnel: strictly-ordered stages, per-user, order matters") {
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      (2L, "click", 1L), (2L, "view", 2L),              // click BEFORE view
      (3L, "view", 1L), (3L, "purchase", 2L),           // skips click
      (4L, "error", 1L)                                 // never enters
    ).toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    val out = graft.ext.EventWindows.funnel(ev,
      Seq("view", "click", "purchase")).head()
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((3L, 1L, 1L)))
    // same-timestamp events do NOT advance the funnel (strict >)
    val tie = Seq((1L, "view", 5L), (1L, "click", 5L))
      .toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
    val t = graft.ext.EventWindows.funnel(tie, Seq("view", "click")).head()
    assert((t.getLong(0), t.getLong(1)) == ((1L, 0L)))
  }

  test("sourceOverlap: normalized paragraph sharing across source pairs") {
    val d = Seq(
      ("s1", "Unique lead.\n\nShared   BOILERPLATE here."),
      ("s2", "shared boilerplate here.\n\nOther body."),   // re-wrapped copy
      ("s3", "Nothing in common."),
      ("s4", "Shared boilerplate here.\n\nOther body.")    // shares with both
    ).toDF("source", "text")
    val out = graft.ext.TextAnalysis.sourceOverlap(d)
      .orderBy("src_a", "src_b")
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("s1", "s2", 1L), ("s1", "s4", 1L), ("s2", "s4", 2L)))
  }

  test("md5Prefix64 ≡ conv(substring(md5(x),1,15),16,10) on arbitrary bytes") {
    val d = sf("documents").limit(200)
      .select(col("doc_id"), col("text").cast("binary").as("b"))
    val cmp = d.select(
        graft.functions.TextExprs.md5Prefix64(col("b"), 15).as("fast"),
        conv(substring(md5(col("b")), 1, 15), 16, 10).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(cmp.count() == 0)
    // short inputs and the full 15-digit range
    val edge = Seq(Array[Byte](), Array[Byte](0), "gram8chr".getBytes("UTF-8"))
      .toDF("b")
    val ec = edge.select(
        graft.functions.TextExprs.md5Prefix64(col("b"), 15).as("fast"),
        conv(substring(md5(col("b")), 1, 15), 16, 10).cast("long").as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(ec.count() == 0)
  }

  test("weightedSampleK: deterministic, weight-proportional, top-k plan") {
    val d = (1 to 200).map(i =>
      (i.toLong, if (i <= 100) 9L else 1L)).toDF("doc_id", "w")
    val s1 = Sampling.weightedSampleK(d, "w", "doc_id", 50)
    val ids1 = s1.select("doc_id").as[Long].collect().toSet
    assert(ids1.size == 50)
    assert(ids1 == Sampling.weightedSampleK(d, "w", "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet)
    // 9:1 weights on half the corpus: the heavy half must dominate
    assert(ids1.count(_ <= 100) > 30, s"heavy picks: ${ids1.count(_ <= 100)}")
    // one overwhelming weight is effectively always drawn
    val heavy = d.withColumn("w",
      when($"doc_id" === 7L, lit(100000L)).otherwise(lit(1L)))
    assert(Sampling.weightedSampleK(heavy, "w", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSet.contains(7L))
    // NULL / non-positive weights are dropped, never sampled
    val mixed = Seq((1L, java.lang.Long.valueOf(5L)),
      (2L, java.lang.Long.valueOf(0L)), (3L, java.lang.Long.valueOf(-4L)),
      (4L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "w")
    assert(Sampling.weightedSampleK(mixed, "w", "doc_id", 10)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    // scale shape: per-partition heap + k-row merge, not a global sort
    assert(s1.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("exact dedup keeps first doc per text") {
    val out = TextDedup.exact(docs, "text", "doc_id")
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("jaccardPairs finds near-dups, not unrelated docs") {
    val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .orderBy("id_a", "id_b")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j14 = TextDedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .filter($"id_a" === 1 && $"id_b" === 4)
      .select("jaccard").as[Double].head()
    assert(j14 == 1.0) // identical docs
  }

  test("minhashPairs == jaccardPairs on the documents table (LSH recall)") {
    val d = sf("documents")
    val exact = TextDedup.jaccardPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b", "jaccard").collect().toSet
    val lsh = TextDedup.minhashPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b", "jaccard").collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact)
    // banding trades recall for cost: 8 bands of 16 rows finds a subset
    // of what 16 bands of 8 find, yet still every planted verbatim copy
    // (J = 1, so its signature agrees in every band)
    val copies = d.unionByName(d.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    def lshAt(bands: Int) =
      TextDedup.minhashPairs(copies, "doc_id", "text", 3, 0.8, bands = bands)
        .select("id_a", "id_b", "jaccard").collect().toSet
    val (lsh16, lsh8) = (lshAt(16), lshAt(8))
    val planted = lsh16.filter(r => r.getLong(1) - r.getLong(0) == 1000000L)
    assert(planted.nonEmpty && planted.forall(_.getDouble(2) == 1.0))
    assert(lsh8.subsetOf(lsh16) && planted.subsetOf(lsh8))
    // signature reuse: mining from the persisted index finds the same
    // pairs without re-deriving signatures from text
    val idxDir = tempDir("graft_sigidx")
    TextDedup.writeSignatureIndex(d, "doc_id", "text", idxDir, n = 3)
    val fromIdx = TextDedup.minhashPairsFromIndex(spark, idxDir, 0.8)
      .select("id_a", "id_b", "jaccard").collect().toSet
    assert(fromIdx == exact)
  }

  test("components + dedupCorpus: transitive chains collapse to min id") {
    // chain: 1~2, 2~4 (all near-identical); 3 unrelated
    val comps = TextDedup.components(
      Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b"))
    assert(comps.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 1L), (4L, 1L)))
    // the distributed propagation path (forced) agrees with union-find
    val dist = TextDedup.components(
      Seq((1L, 2L), (2L, 4L), (7L, 6L)).toDF("id_a", "id_b"), driverMaxPairs = 0L)
    assert(dist.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 1L), (2L, 1L), (4L, 1L), (6L, 6L), (7L, 6L)))
    val kept = TextDedup.dedupCorpus(docs, "doc_id", "text", 3, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 and 4 are near-dups of 1; 3 survives
    // corpus-level: dedup removes exactly one doc per pair-component
    val d = sf("documents")
    val pairs = TextDedup.minhashPairs(d, "doc_id", "text", 3, 0.8)
    val nCompsLosers = TextDedup.components(pairs)
      .filter($"id" =!= $"label").count()
    assert(TextDedup.dedupCorpus(d, "doc_id", "text", 3, 0.8).count() ==
      d.count() - nCompsLosers)
  }

  test("repetition stats: duplicate lines and repeated 3-grams measured") {
    val t = Seq(
      (1L, "alpha beta\nalpha beta\ngamma delta"),          // 1 of 3 lines repeats
      (2L, "one two three one two three one two three"),    // 9 toks, 7 grams, 2 distinct... compute
      (3L, "all lines unique\nno repeats here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(t).orderBy("doc_id")
      .select("dup_line_frac", "dup_3gram_frac")
      .as[(Double, Double)].collect().toSeq
    assert(r(0)._1 == 0.3333) // 3 lines, 2 distinct
    // doc 2: 9 tokens -> 7 3-gram occurrences, 3 distinct -> 1 - 3/7
    assert(r(1)._2 == 0.5714)
    assert(r(2) == (0.0, 0.0))
    assert(r(3) == (0.0, 0.0)) // empty doc: both zero, no NaN
  }

  test("gopher filter: each rule fires on its crafted doc, clean doc passes") {
    val good = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away to find some food for the long cold winter season ahead"
    val t = Seq(
      (1L, good),                                           // passes all rules
      (2L, "too short"),                                    // n_words
      (3L, ("pneumonoultramicroscopics " * 15).trim),       // word_len (avg > 10)
      (4L, good + " # # # # # # # # # # # # # # # #"),      // symbol_ratio
      (5L, good + " " + ("421 175 993 777 388 119 222 555 666 888 " * 2).trim), // alpha_ratio
      (6L, "cat dog bird fish horse cow sheep goat pig duck hen owl"), // stopwords
      (7L, (good + "\n") * 8 + good),                       // dup_lines
      (8L, "the big red cat and " * 12)                     // dup_3grams
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherFilter(t, minWords = 10)
      .select("doc_id", "gopher_keep", "gopher_reason")
      .as[(Long, Boolean, Option[String])].collect().sortBy(_._1)
    assert(r(0) == ((1L, true, None)))
    assert(r.tail.forall(!_._2))
    assert(r.tail.map(_._3.get).toSeq == Seq("n_words", "word_len",
      "symbol_ratio", "alpha_ratio", "stopwords", "dup_lines", "dup_3grams"))
    // gopherKeep returns the passing rows with the original schema
    val kept = TextAnalysis.gopherKeep(t.withColumn("extra", lit(1)))
    assert(kept.columns.toSeq == Seq("doc_id", "text", "extra"))
  }

  test("linear score: sigmoid of mean weight, unknown tokens 0, empty doc = bias") {
    val model = Seq(("good", 2.0), ("bad", -2.0)).toDF("token", "weight")
    val t = Seq(
      (1L, "good good good good"),   // mean 2.0  -> sigmoid(2)
      (2L, "bad bad"),               // mean -2.0 -> sigmoid(-2)
      (3L, "good bad"),              // mean 0    -> 0.5
      (4L, "unseen words only here"),// mean 0    -> 0.5
      (5L, "")                       // no toks   -> sigmoid(bias)=0.5
    ).toDF("doc_id", "text")
    val r = TextAnalysis.linearScore(t, model)
      .orderBy("doc_id").select("doc_id", "n_toks", "score", "quality_keep")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    def sig(x: Double) = BigDecimal(1.0 / (1.0 + math.exp(-x)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r == Seq(
      (1L, 4L, sig(2), true), (2L, 2L, sig(-2), false), (3L, 2L, 0.5, true),
      (4L, 4L, 0.5, true), (5L, 0L, 0.5, true)))
    // nonzero bias shifts the empty/unseen docs
    val b = TextAnalysis.linearScore(t, model, bias = -1.0)
      .filter($"doc_id" === 5L).select("score").as[Double].head()
    assert(b == sig(-1))
  }

  test("global line dedup: first occurrence wins, order kept, no line twice") {
    val t = Seq(
      (1L, "shared header\nunique one\nshared footer"),
      (2L, "shared header\nunique two\nshared footer\nunique two b"),
      (3L, "shared header\nshared footer"),                // loses every line
      (4L, "  \nunique four\n\nshared header")             // blanks ignored
    ).toDF("doc_id", "text")
    val r = TextDedup.dedupLines(t, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "shared header\nunique one\nshared footer", 3L, 0L),
      (2L, "unique two\nunique two b", 2L, 2L),
      (4L, "unique four", 1L, 1L)))
    // law on the sf table: across the whole output, every line is unique
    val lines = TextDedup.dedupLines(docs, "text", "doc_id")
      .select(explode(split($"text", "\n")).as("l"))
    assert(lines.count() == lines.distinct().count(),
      "a duplicate line survived global dedup")
    // and surviving line multisets are a subset of the originals per doc
    val before = docs.select($"doc_id",
      explode(split($"text", "\n")).as("l")).groupBy("doc_id", "l").count()
    val after = TextDedup.dedupLines(docs, "text", "doc_id")
      .select($"doc_id", explode(split($"text", "\n")).as("l"))
      .groupBy("doc_id", "l").count()
    assert(after.join(before, Seq("doc_id", "l"), "left_anti").isEmpty,
      "dedup invented a line")
  }

  test("paragraph dedup: normalized key, first wins, original text kept") {
    val t = Seq(
      (1L, "Cookie  banner text\n\nunique body one"),
      (2L, "cookie banner TEXT\n\nunique body two"),  // same para, case/ws noise
      (3L, "COOKIE BANNER TEXT"),                     // loses its only para
      (4L, "unique body four\n\n\n\nunique body four b") // \n{2,} one break
    ).toDF("doc_id", "text")
    val r = TextDedup.dedupParagraphs(t, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "Cookie  banner text\n\nunique body one", 2L, 0L),
      (2L, "unique body two", 1L, 1L),
      (4L, "unique body four\n\nunique body four b", 2L, 0L)))
    // law on the sf table: surviving normalized paragraphs are unique
    val paras = TextDedup.dedupParagraphs(
      docs.withColumn("text",
        regexp_replace($"text", " (of|and|to|in) ", "\n\n")),
      "text", "doc_id")
      .select(explode(split($"text", "\n{2,}")).as("p"))
      .select(lower(trim(regexp_replace($"p", "\\s+", " "))).as("k"))
    assert(paras.count() == paras.distinct().count(),
      "a duplicate normalized paragraph survived")
  }

  test("scriptRatios: known mixes, residual bucket, empty doc") {
    val t = Seq(
      (1L, "hello world"),          // pure latin
      (2L, "привет 99"),            // cyrillic + digits
      (3L, "你好 hello!"),          // han + latin + punct residual
      (4L, "   "),                  // whitespace-only → all zeros
      (5L, "สวัสดี")                // pure thai
    ).toDF("doc_id", "text")
    val r = TextAnalysis.scriptRatios(t).orderBy("doc_id")
      .as[(Long, Long, Double, Double, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(r(0) == (1L, 10L, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    assert(r(1) == (2L, 8L, 0.0, 0.0, 0.75, 0.0, 0.0, 0.25, 0.0))
    assert(r(2) == (3L, 8L, 0.625, 0.25, 0.0, 0.0, 0.0, 0.0, 0.125))
    assert(r(3) == (4L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    assert(r(4) == (5L, 6L, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0))
    // law: ratios sum to ~1 on every non-empty sf doc
    val sums = TextAnalysis.scriptRatios(docs).filter($"n_cp" > 0)
      .select(($"latin_ratio" + $"han_ratio" + $"cyrillic_ratio" +
        $"arabic_ratio" + $"thai_ratio" + $"digit_ratio" +
        $"other_ratio").as("s"))
      .agg(min($"s"), max($"s")).as[(Double, Double)].head()
    assert(sums._1 > 0.998 && sums._2 < 1.002, s"ratio sum out of band: $sums")
  }

  test("winnowing: shared-substring guarantee, density, punct-insensitivity") {
    val k = 8; val w = 10
    // deterministic pseudo-random letter strings with a planted shared run
    def randStr(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val shared = randStr(1, k + w - 1)   // exactly the guarantee length
    val t = Seq(
      (1L, randStr(2, 120) + shared + randStr(3, 120)),
      (2L, randStr(4, 120) + shared + randStr(5, 120)),
      (3L, randStr(6, 260)))
    val fps = TextDedup.winnowFingerprints(t.toDF("doc_id", "text"),
      "doc_id", "text", k, w)
    val byDoc = fps.groupBy("id").count().as[(Long, Long)].collect().toMap
    // guarantee: docs 1,2 share >= 1 fingerprint
    val sharedFps = fps.filter($"id" === 1).select("fp")
      .intersect(fps.filter($"id" === 2).select("fp"))
    assert(sharedFps.count() >= 1, "winnowing guarantee violated")
    // density: each window min covers at most w windows
    val nWindows = 260 - k + 1 - w + 1
    assert(byDoc(3L) >= nWindows / w, s"too few fingerprints: ${byDoc(3L)}")
    // punctuation/case/whitespace-insensitive: same fingerprint set
    val noisy = Seq((1L, "Hello, World! This is Fine."),
      (2L, "helloworldthisisfine")).toDF("doc_id", "text")
    val nf = TextDedup.winnowFingerprints(noisy, "doc_id", "text", k, w)
    assert(rows(nf.filter($"id" === 1).select("fp").orderBy("fp")) ==
      rows(nf.filter($"id" === 2).select("fp").orderBy("fp")))
  }

  test("bm25TopK: rare-term ranking, absence, query-dup invariance") {
    val t = Seq(
      (1L, "dup dup fast"),                 // rare term twice, short doc
      (2L, "fast join join hash slow"),     // common terms only
      (3L, "slow scan nothing relevant")    // no query terms
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bm25TopK(t, "fast dup", topK = 10)
      .as[(Long, Double)].collect().toSeq
    // doc 3 has no query term — absent; doc 1 wins on the rare term
    assert(r.map(_._1) == Seq(1L, 2L))
    assert(r.forall(_._2 > 0))
    // repeated query terms are deduped — identical scores
    val r2 = TextAnalysis.bm25TopK(t, "fast fast dup dup", topK = 10)
      .as[(Long, Double)].collect().toSeq
    assert(r == r2)
    // sf corpus: every top-25 hit for a rare-term query contains it
    val hits = TextAnalysis.bm25TopK(docs, "dup", topK = 25)
      .join(docs, "doc_id")
      .filter(!array_contains(TextDedup.tokens($"text"), "dup"))
    assert(hits.isEmpty, "a doc without the only query term scored")
  }

  test("winnowFps expression ≡ explode+window formulation (incl. unicode)") {
    // The fused per-row WinnowFps expression replaced the exploded
    // posexplode + window-min + collect_set plan in r8. This law pins
    // the two bit-identical on mixed fixtures: real sf docs, a doc
    // with non-ASCII chars (stripped by \W like the Java regex does),
    // an empty doc, a doc exactly at / just under the k+w-1 floor,
    // and an all-punctuation doc.
    val k = 6; val w = 7
    def randStr(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val edge = Seq(
      (9000001L, "Héllo wörld Ünïcode — ça va? 日本語テキスト mixed ASCII tail " + randStr(21, 80)),
      (9000002L, ""),
      (9000003L, randStr(22, k + w - 1)),        // exactly the floor
      (9000004L, randStr(23, k + w - 2)),        // one under: no window
      (9000005L, "!!! ... ??? ,,, ;;; :::"),     // normalizes to empty
      (9000006L, "MiXeD CaSe_with_underscores AND 123 digits " + randStr(24, 60)))
      .toDF("doc_id", "text")
    val fixture = sf("documents").limit(200).select($"doc_id", $"text")
      .union(edge)
    val fused = TextDedup.winnowFingerprints(fixture, "doc_id", "text", k, w)
    // the r7 exploded formulation, verbatim
    val norm = lower(regexp_replace($"text", "\\W+", ""))
    val grams = fixture
      .select($"doc_id".as("id"), norm.as("__s__"))
      .filter(length($"__s__") >= k + w - 1)
      .select($"id", $"__s__",
        posexplode(sequence(lit(0), length($"__s__") - k)).as(Seq("__i__", "__z__")))
      .select($"id", $"__i__",
        (length($"__s__") - k + 1 - w).as("__last__"),
        graft.functions.TextExprs.md5Prefix64(
          $"__s__".substr($"__i__" + 1, lit(k)).cast("binary"), 15).as("__h__"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("__i__")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val exploded = grams
      .withColumn("__wmin__", min($"__h__").over(win))
      .filter($"__i__" <= $"__last__")
      .groupBy("id").agg(collect_set($"__wmin__").as("__fps__"))
      .select($"id", explode($"__fps__").as("fp"))
    assert(fused.exceptAll(exploded).isEmpty && exploded.exceptAll(fused).isEmpty,
      "fused WinnowFps diverges from the exploded formulation")
    // the empty/short docs drop out of BOTH
    assert(fused.filter($"id".isin(9000002L, 9000004L, 9000005L)).isEmpty)
  }

  test("winnowPairs: planted excerpt found, df cap drops boilerplate") {
    def randStr(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val excerpt = randStr(10, 60)
    val boiler = randStr(11, 60)
    // docs 1 & 2 share a rare excerpt; EVERY doc carries the boilerplate
    val docs = Seq(
      (1L, excerpt + randStr(12, 100) + boiler),
      (2L, randStr(13, 100) + excerpt + boiler),
      (3L, randStr(14, 160) + boiler),
      (4L, randStr(15, 160) + boiler)).toDF("doc_id", "text")
    val pairs = TextDedup.winnowPairs(docs, "doc_id", "text",
      minShared = 2, maxDf = 50)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L),
      "planted excerpt pair not found")
    // with the boilerplate df-capped out (df=4 > 3), only 1-2 survives
    val capped = TextDedup.winnowPairs(docs, "doc_id", "text",
      minShared = 2, maxDf = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(capped.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"df cap failed: $capped")
  }

  test("winnow fingerprint index: pairs-from-index == from-text (incl. CLI stages)") {
    import graft.spec.TransformStage
    val docs = sf("documents").limit(300)
    val idxDir = tempDir("win_idx") + "/fps"
    val t = graft.functions.Transformers
    // index written through the CLI stage (rows pass through)
    val through = t.resolve(TransformStage("winnow_index",
      Seq(idxDir, "doc_id", "text", "8", "10")))(docs)
    assert(through.count() == 300)
    val fromText = TextDedup.winnowPairs(docs, "doc_id", "text",
      minShared = 2, maxDf = 50).select("id_a", "id_b", "n_shared")
    val fromIdx = TextDedup.winnowPairsFromIndex(spark, idxDir,
      minShared = 2, maxDf = 50).select("id_a", "id_b", "n_shared")
    assert(fromText.except(fromIdx).count() == 0 &&
      fromIdx.except(fromText).count() == 0,
      "index path must produce the identical pair set")
    val cli = t.resolve(TransformStage("winnow_pairs_from_index",
      Seq(idxDir, "2", "50")))(docs).select("id_a", "id_b", "n_shared")
    assert(cli.except(fromText).count() == 0 &&
      fromText.except(cli).count() == 0)
  }

  test("c4 clean: every line and doc rule fires on its crafted fixture") {
    val t = Seq(
      (1L, "Good first sentence here.\nAnother fine line follows!\nno punct line\nShort one.\n  A trimmed quote line. "),
      (2L, "Uses javascript for tracking.\nOnly one surviving line here."),
      (3L, "This page contains lorem ipsum filler.\nOtherwise fine text here."),
      (4L, "A config snippet { appears here.\nOtherwise fine text here."),
      (5L, "No terminal punctuation anywhere\nnot even here"),
      (6L, "One good line survives alone.")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(t, minWordsPerLine = 3, minLinesPerDoc = 2)
      .select("doc_id", "text", "n_lines", "n_dropped")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 1: "no punct line" fails punct, "Short one." fails min-words,
    // the trailing line survives trimmed; docs 3/4 die to doc-phrases,
    // doc 5 keeps nothing, docs 2 and 6 keep 1 line < minLinesPerDoc=2
    assert(r == Seq((1L,
      "Good first sentence here.\nAnother fine line follows!\nA trimmed quote line.",
      3L, 2L)))
    // minLinesPerDoc=1 lets the single-surviving-line docs through, and
    // the javascript line is gone from doc 2
    val loose = TextAnalysis.c4Clean(t, minWordsPerLine = 3, minLinesPerDoc = 1)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(loose.map(_._1) == Seq(1L, 2L, 6L))
    assert(loose(1)._2 == "Only one surviving line here.")
  }

  test("decontamination: benchmark n-gram overlap flags docs, others survive") {
    val bench = docs.filter($"doc_id" === 1L)
    val corpus = docs.filter($"doc_id" =!= 1L)
    val flagged = TextDedup.contaminated(corpus, bench, "doc_id", "text", n = 3)
      .select("id").as[Long].collect().toSet
    assert(flagged == Set(2L, 4L)) // share the benchmark's shingles; 3 is clean
    val kept = TextDedup.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
    // minHits above total overlap keeps everything
    assert(TextDedup.decontaminate(corpus, bench, "doc_id", "text",
      n = 3, minHits = 1000).count() == 3)
  }

  test("componentsStar: worst-case chain converges in O(log n) rounds") {
    // a 255-hop path is label propagation's worst case (255 rounds);
    // star contraction must close it in logarithmically many
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = TextDedup.componentsStar(chain)
    assert(labels.filter($"label" =!= 0L).count() == 0) // one component, min 0
    assert(labels.count() == 256)
    assert(rounds <= 12, s"chain-256 took $rounds rounds (want O(log n), not O(diameter))")
  }

  test("simhashPairs: near-identical docs collide, different don't") {
    val pairs = TextDedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical -> hamming 0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairsPortable: blocked mine equals brute over the portable fp") {
    val d = sf("documents").limit(200)
    val blocked = TextDedup.simhashPairsPortable(d, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // brute twin over the same md5-portable fingerprints
    val fp = d.filter(size(TextDedup.tokens($"text")) > 0)
      .select($"doc_id".as("id"), TextDedup.simhashPortable($"text").as("fp"))
    val brute = fp.as("a").join(fp.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        bit_count($"a.fp".bitwiseXOR($"b.fp")).as("hamming"))
      .filter($"hamming" <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked == brute) // pigeonhole blocking is exact
  }

  test("pq train requires ksub seed rows") {
    val e = sf("embeddings").limit(7)
    val ex = intercept[IllegalArgumentException] {
      PqIndex.train(spark, e, m = 8, ksub = 16, iters = 1)
    }
    assert(ex.getMessage.contains("ksub"))
  }

  test("tokenEntropy: uniform > skewed > constant = 0; empty docs drop") {
    val d = Seq(
      (1L, "a b c d"),        // uniform over 4 → ln 4
      (2L, "a a a b"),        // skewed
      (3L, "spam spam spam"), // constant → 0
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(d)
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // empty doc dropped
    assert(out(0)._2 == math.rint(math.log(4) * 1e4) / 1e4)
    val hSkew = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(out(1)._2 - hSkew) < 1e-4)
    assert(out(2)._2 == 0.0)
    assert(out(0)._2 > out(1)._2 && out(1)._2 > out(2)._2)
  }

  test("nfcNormalize: composes decomposed accents; ASCII and null pass through") {
    import graft.functions.TextExprs
    val d = Seq(
      (1L, "café"),          // decomposed → é
      (2L, "plain ascii text"),    // already NFC
      (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select($"id", TextExprs.nfcNormalize($"t").as("n"))
      .orderBy("id").as[(Long, String)].collect()
    assert(d(0)._2 == "café" && d(0)._2.length == 4)
    assert(d(1)._2 == "plain ascii text")
    assert(d(2)._2 == null)
    // normalized twins now dedup together (the motivating property)
    val docs = Seq((1L, "café story"), (2L, "café story"))
      .toDF("doc_id", "text")
    import graft.spec.TransformStage
    val normed = graft.functions.Transformers.apply(docs,
      TransformStage.parseChain("nfc_normalize"))
    assert(TextDedup.exact(normed, "text", "doc_id").count() == 1)
    assert(TextDedup.exact(docs, "text", "doc_id").count() == 2) // without it
  }

  test("topNgramCoverage: most common n-gram, char fraction, overlap counted") {
    val d = Seq(
      (1L, "spam spam spam spam eggs"),        // "spam spam" ×3 (overlapping)
      (2L, "alpha beta gamma delta"),          // all 2-grams unique
      (3L, "one"),                             // < n tokens → no row
      (4L, "Go go GO stop")).toDF("doc_id", "text") // case-folded "go go" ×2
    val out = TextAnalysis.topNgramCoverage(d, "doc_id", "text", n = 2)
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L)) // doc 3 dropped
    val d1 = out(0)
    // joined text "spam spam spam spam eggs" = 24 chars; gram len 9, cnt 3
    assert(d1._2 == "spam spam" && d1._3 == math.rint(3 * 9 / 24.0 * 1e4) / 1e4)
    // unique grams: tie broken to the lexicographically smallest
    assert(out(1)._2 == "alpha beta")
    assert(out(2)._2 == "go go")
  }

  test("containmentPairs: near-subset found where Jaccard misses; superset of jaccard ids") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val d = Seq(
      (1L, base),                                   // the excerpt source
      (2L, base + " " + ("pad%d word ".format(0) * 1) +
        "uniform victor whiskey xray yankee zulu one two three four five six " +
        "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (3L, "entirely unrelated content speaking about other matters entirely " +
        "with many different words and no overlap at all in any shingle"))
      .toDF("doc_id", "text")
    val cont = TextDedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    // doc 1 is fully contained in doc 2 → containment 1.0
    assert(cont.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(cont.head._3 == 1.0)
    // ...but Jaccard misses it (union is ~2× the excerpt)
    assert(TextDedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.8)
      .count() == 0)
    // on the corpus: containment pairs ⊇ jaccard pairs (c/min ≥ c/union)
    val docs = sf("documents").limit(300)
    val cIds = TextDedup.containmentPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val jIds = TextDedup.jaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(jIds.subsetOf(cIds))
  }

  test("meanPool + l2Normalize: element-wise means, order preserved, unit norms") {
    val d = Seq(
      (1L, Array(1f, 2f, 3f)), (1L, Array(3f, 4f, 5f)),   // doc 1: mean (2,3,4)
      (2L, Array(10f, 0f, -2f)))                           // doc 2: itself
      .toDF("doc_id", "embedding")
    val pooled = Similarity.meanPool(d, "doc_id", "embedding")
      .orderBy("doc_id").as[(Long, Seq[Float])].collect()
    assert(pooled.toSeq == Seq((1L, Seq(2f, 3f, 4f)), (2L, Seq(10f, 0f, -2f))))
    // normalized vectors have unit L2 norm; zero vector passes through
    val z = Seq((1L, Array(3f, 4f)), (2L, Array(0f, 0f))).toDF("id", "v")
      .select($"id", Similarity.l2Normalize($"v").as("nv"))
      .orderBy("id").as[(Long, Seq[Float])].collect()
    assert(z(0)._2 == Seq(0.6f, 0.8f))
    assert(z(1)._2 == Seq(0f, 0f))
    // pooling then normalizing a doc's chunks = standard doc embedding
    val doc = Similarity.meanPool(d, "doc_id", "embedding")
      .select($"doc_id", Similarity.l2Normalize($"embedding").as("e"))
    val norms = doc.select(aggregate(transform($"e",
      x => x.cast("double") * x.cast("double")), lit(0.0), (a, v) => a + v))
      .as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-6))
  }

  test("bruteTopKQuantized: int8 search recalls the float brute top-k") {
    val e = sf("embeddings")
    val coded = Similarity.quantizeEmbeddings(e, "vec_id", "embedding")
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val exact = Similarity.bruteTopK(q, e, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.bruteTopKQuantized(q, coded, 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, f"int8 recall@5 $recall%.3f < 0.9")
    assert(quant.size == exact.size)
  }

  test("temperatureSample: alpha=1 identity; alpha<1 flattens source shares") {
    import graft.ext.CorpusOps
    // skewed corpus: src_big 200 docs, src_small 10
    val d = ((0 until 200).map(i => (i.toLong, "src_big")) ++
      (200 until 210).map(i => (i.toLong, "src_small")))
      .toDF("doc_id", "source")
    // alpha = 1: every multiplier is exactly 1 → identity with copy=1
    val id = CorpusOps.temperatureSample(d, "doc_id", "source", alpha = 1.0)
    assert(id.count() == 210 && id.agg(max("copy")).as[Long].head() == 1L)
    // alpha = 0.3: rare source upsampled, dominant source downsampled
    val t = CorpusOps.temperatureSample(d, "doc_id", "source", alpha = 0.3)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(t("src_small") > 10, s"rare source not upsampled: $t")
    assert(t("src_big") < 200, s"dominant source not downsampled: $t")
    // expected total preserved (md5 coins ⇒ near, not exact)
    val total = t.values.sum
    assert(math.abs(total - 210L) < 60, s"total drifted: $total")
    // deterministic
    val t2 = CorpusOps.temperatureSample(d, "doc_id", "source", alpha = 0.3)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(t == t2)
    intercept[IllegalArgumentException](
      CorpusOps.temperatureSample(d, "doc_id", "source", alpha = 0.0))
  }

  test("int8 quantization: codes bounded, round-trip cosine ≈ 1, zero vector safe") {
    val e = sf("embeddings").limit(100)
    val q = Similarity.quantizeEmbeddings(e, "vec_id", "embedding")
    assert(q.columns.toSeq == Seq("vec_id", "scale", "codes"))
    val bounds = q.select(array_max(col("codes")).as("mx"), array_min(col("codes")).as("mn"))
      .agg(max("mx"), min("mn")).as[(Int, Int)].head()
    assert(bounds._1 <= 127 && bounds._2 >= -127)
    // every vector's max |code| is exactly 127 (symmetric scale is tight)
    assert(q.filter(greatest(array_max(col("codes")), -array_min(col("codes"))) =!= 127)
      .count() == 0)
    // dequantized cosine vs the original ≥ 0.999 for every row
    val back = Similarity.dequantizeEmbeddings(q, outCol = "deq")
      .join(e, "vec_id")
      .select(Similarity.cosine(col("deq"), col("embedding")).as("c"))
    assert(back.agg(min("c")).as[Double].head() >= 0.999)
    // all-zero vector: scale 1, all-zero codes (no div-by-zero)
    val z = Seq((1L, Array.fill(8)(0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeEmbeddings(z, "vec_id", "embedding")
      .select("scale", "codes").as[(Double, Seq[Int])].head()
    assert(zq._1 == 1.0 && zq._2.forall(_ == 0))
  }

  test("dedupCorpusKeepBest: keeps the highest-scored copy per cluster") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", 10L),
      (2L, "the quick brown fox jumps over the lazy dog today", 99L), // best dup
      (3L, "the quick brown fox jumps over the lazy dog today", 50L),
      (4L, "completely different content about entirely other things", 5L))
      .toDF("doc_id", "text", "score")
    val kept = TextDedup.dedupCorpusKeepBest(d, "doc_id", "text", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L)) // highest score wins; singleton survives
    // tie on score → smallest id
    val tied = d.withColumn("score", lit(7L))
    assert(TextDedup.dedupCorpusKeepBest(tied, "doc_id", "text", "score")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    // min-id semantics recovered with score = -id
    val asMin = TextDedup.dedupCorpusKeepBest(
      d.withColumn("score", -col("doc_id")), "doc_id", "text", "score")
      .select("doc_id").as[Long].collect().toSet
    assert(asMin == TextDedup.dedupCorpus(d, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet)
  }

  test("cosine + bruteTopK: self-similarity 1, ranks ordered") {
    val e = sf("embeddings")
    val q = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val out = Similarity.bruteTopK(q, e, 5)
    val ranks = out.groupBy("q_id").agg(count(lit(1)).as("n"), max("rank").as("mr"))
      .select("n", "mr").as[(Long, Int)].collect()
    assert(ranks.forall(_ == (5L, 5)))
    // self-cosine check
    val self = e.limit(1)
      .select(Similarity.cosine($"embedding", $"embedding")).as[Double].head()
    assert(math.abs(self - 1.0) < 1e-9)
  }

  test("cosinePairs refuses brute O(n²) above the row ceiling") {
    val e = sf("embeddings")
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(e, 0.5, maxRows = 10)
    }
    assert(ex.getMessage.contains("lshPairs"))
  }

  test("lshPairs is a subset of cosinePairs and catches planted dups") {
    val e = sf("embeddings").limit(100)
    // plant an exact duplicate vector with a new id
    val dup = e.filter($"vec_id" === 0)
      .select(lit(99999L).as("vec_id"), $"embedding", $"label")
    val withDup = e.unionByName(dup)
    val brute = Similarity.cosinePairs(withDup, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshPairs(withDup, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.contains((0L, 99999L)))
    assert(lsh.subsetOf(brute) && lsh.contains((0L, 99999L)))
  }

  test("cosineClusters/dedupByCosine: one representative per near-dup cluster") {
    val e = sf("embeddings").limit(100)
    // plant two exact duplicates of vec 0 — {0, 99998, 99999} must form
    // one cluster labeled by the smallest id, with only 0 kept
    val dups = e.filter($"vec_id" === 0)
      .select(explode(array(lit(99998L), lit(99999L))).as("vec_id"),
        $"embedding", $"label")
    val withDups = e.unionByName(dups)
    val cl = Similarity.cosineClusters(withDups, 0.999)
      .select("vec_id", "cluster", "keep")
      .as[(Long, Long, Boolean)].collect()
    val byId = cl.map(r => r._1 -> r).toMap
    assert(Seq(0L, 99998L, 99999L).forall(id => byId(id)._2 == 0L))
    assert(byId(0L)._3 && !byId(99998L)._3 && !byId(99999L)._3)
    // every cluster keeps exactly its smallest member
    cl.groupBy(_._2).foreach { case (label, rows) =>
      assert(rows.filter(_._3).map(_._1).toSeq == Seq(label))
    }
    // dedup = the kept rows, original schema
    val kept = Similarity.dedupByCosine(withDups, 0.999)
    assert(kept.columns.toSeq == withDups.columns.toSeq)
    assert(kept.count() == cl.count(_._3))
    // the LSH scale path agrees on the planted exact-dup cluster
    val lshKept = Similarity.dedupByCosine(withDups, 0.999, exact = false)
      .select("vec_id").as[Long].collect().toSet
    assert(lshKept.contains(0L) && !lshKept.contains(99998L) && !lshKept.contains(99999L))
  }

  test("semantic decontamination: planted benchmark copy is flagged and dropped") {
    val e = sf("embeddings").limit(100)
    val bench = e.filter($"vec_id" < 3)
    // corpus with an exact copy of benchmark vec 0 under a fresh id
    val copy = e.filter($"vec_id" === 0)
      .select(lit(7777L).as("vec_id"), $"embedding", $"label")
    val corpus = e.filter($"vec_id" >= 3).unionByName(copy)
    val flagged = Similarity.semanticContaminated(corpus, bench, 0.999)
      .select("id").as[Long].collect().toSet
    assert(flagged.contains(7777L))
    val kept = Similarity.semanticDecontaminate(corpus, bench, 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(7777L))
    assert(flagged.union(kept) == corpus.select("vec_id").as[Long].collect().toSet)
    assert(flagged.intersect(kept).isEmpty)
  }

  test("lshTopK: approximate results are a subset of brute-force ranks") {
    val e = sf("embeddings")
    val q = e.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val brute = Similarity.bruteTopK(q, e, 20)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(q, e, 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(approx.nonEmpty)
    assert(approx.forall(_._3 <= 5))
    // every LSH hit at rank<=5 must be a genuinely similar vector:
    // check against the top-20 brute-force set (loose recall bound)
    val hits = approx.map(a => (a._1, a._2)).toSet
    assert(hits.intersect(brute).size >= hits.size / 2)
  }

  test("IVF index: train/assign/search, planted dup found at rank 1") {
    val e = sf("embeddings").limit(200)
    // plant an exact duplicate of vec 0 so recall is testable
    val dup = e.filter($"vec_id" === 0)
      .select(lit(90001L).as("vec_id"), $"embedding", $"label")
    val corpus = e.unionByName(dup)
    val centroids = IvfIndex.train(spark, corpus, k = 8, iters = 2)
    assert(centroids.count() == 8)
    val index = IvfIndex.assign(corpus, centroids)
    assert(index.count() == corpus.count())
    assert(index.select("centroid_id").distinct().count() > 1)
    val q = corpus.filter($"vec_id" === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val hits = IvfIndex.search(q, index, centroids, k = 3)
      .select("vec_id", "rank").as[(Long, Int)].collect().toSeq
    // the exact duplicate shares vec 0's centroid, so it must be rank 1
    assert(hits.contains((90001L, 1)))
    // assignment is a pure map — over a plain scan its whole plan is
    // Project+FileScan: no join, no exchange, no n×k amplification
    val assignPlan =
      IvfIndex.assign(sf("embeddings"), centroids).queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"), s"IVF assign shuffles:\n$assignPlan")
    assert(!assignPlan.contains("Join"), s"IVF assign joins:\n$assignPlan")
  }

  test("ANN index persistence: search from the reloaded index ≡ in-memory") {
    import graft.ext.{IvfIndex, PqIndex}
    val e = sf("embeddings").limit(300)
    val q = e.filter($"vec_id" < 4)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val tmp = java.nio.file.Paths.get(tempDir("graft_ann_rt"))

    // IVF: train once, persist, reload — results identical at PARTIAL
    // nprobe too (persisted lists are the same assignment), and the
    // on-disk layout is one directory per inverted list
    val cents = IvfIndex.train(spark, e, k = 8, iters = 2)
    val ivfPath = tmp.resolve("ivf").toString
    IvfIndex.writeIndex(e, cents, ivfPath)
    assert(new java.io.File(ivfPath + "/lists").listFiles()
      .count(_.getName.startsWith("centroid_id=")) > 1, "not hive-partitioned by list")
    val (index, cents2) = IvfIndex.readIndex(spark, ivfPath)
    val mem = IvfIndex.search(q, IvfIndex.assign(e, cents), cents, k = 5, nprobe = 3)
    val disk = IvfIndex.search(q, index, cents2, k = 5, nprobe = 3)
    assert(disk.except(mem).isEmpty && mem.except(disk).isEmpty)

    // PQ: codebooks + codes round-trip; ADC search identical
    val books = PqIndex.train(spark, e, m = 8, ksub = 16, iters = 1)
    val pqPath = tmp.resolve("pq").toString
    PqIndex.writeIndex(e, books, pqPath)
    val (coded, books2) = PqIndex.readIndex(spark, pqPath)
    val memPq = PqIndex.search(q, PqIndex.encode(e, books).select("vec_id", "codes"),
      books, k = 5)
    val diskPq = PqIndex.search(q, coded, books2, k = 5)
    assert(diskPq.except(memPq).isEmpty && memPq.except(diskPq).isEmpty)

    // CLI stages drive the same path: ann_index passes rows through,
    // ann_search serves the persisted index
    import graft.spec.TransformStage
    val staged = graft.functions.Transformers.resolve(TransformStage("ann_index",
      Seq(tmp.resolve("cli").toString, "ivf", "8")))(e)
    assert(staged.count() == e.count())
    val served = graft.functions.Transformers.resolve(TransformStage("ann_search",
      Seq(tmp.resolve("cli").toString, "ivf", "5", "8")))(q)
    val exact = graft.ext.Similarity.bruteTopK(q, e, 5)
    assert(served.except(exact).isEmpty && exact.except(served).isEmpty)
  }

  test("text analysis: counts, ratios, langid") {
    val t = Seq(
      (1L, "The quick brown fox, it jumps!"),
      (2L, "der hund und die katze sind nicht da"),
      (3L, "el gato y los perros es una casa por aqui"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.analyze(t).orderBy("doc_id")
      .select("ws_tokens", "bpe_tokens", "lang_id")
      .collect().map(_.toSeq)
    assert(out(0) == Seq(6, 8, "en"))  // 6 words + comma + bang
    assert(out(1)(2) == "de")
    assert(out(2)(2) == "es")
    assert(out(3) == Seq(0, 0, "en")) // empty text defaults
  }

  test("single-pass text stats ≡ HOF column formulas on edge-case text") {
    import graft.ext.TextAnalysis._
    val cases = Seq(
      "",                                   // empty
      "   ",                                // whitespace only
      "plain ascii words here",
      "CaSe MiXeD and_underscored 123 mix3d",
      "punct!!! ... ??? ,,,",
      "tabs\tand\nnewlines\r\nmixed",
      "汉字中文字符测试汉字中文字符测试",  // CJK (zh path)
      "mixed 汉字 with english the and of", // mixed CJK/latin
      "éàüñ çœß accented wörds",           // non-ASCII letters
      "ℤ∀x∃y emoji 🎉🎊 symbols",          // surrogates + symbols
      "İstanbul DİACRITIC dotted-I",       // lowercasing edge (tr dotted I)
      "a", "ab", "the the the the")
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val viaExpr = analyze(df).orderBy("doc_id")
      .select("doc_id", "ws_tokens", "bpe_tokens", "punct_ratio",
        "avg_word_len", "stopword_ratio", "lang_id")
      .collect().map(_.toSeq).toSeq
    val t = col("text")
    val viaHof = df
      .withColumn("ws_tokens", wsTokenCount(t))
      .withColumn("bpe_tokens", tokenCount(t))
      .withColumn("punct_ratio", round(punctRatio(t), 4))
      .withColumn("avg_word_len", round(avgWordLen(t), 4))
      .withColumn("stopword_ratio", round(listRatio(t, EnStopwords), 4))
      .withColumn("lang_id", langId(t))
      .orderBy("doc_id")
      .select("doc_id", "ws_tokens", "bpe_tokens", "punct_ratio",
        "avg_word_len", "stopword_ratio", "lang_id")
      .collect().map(_.toSeq).toSeq
    viaExpr.zip(viaHof).zipWithIndex.foreach { case ((e, h), i) =>
      assert(e == h, s"case ${cases(i)}: expr=$e hof=$h")
    }
    // fingerprints too — against the genuinely-HOF tokenizer
    val fpExpr = df.select(contentFingerprint(t)).as[Long].collect().toSeq
    val fpHof = df.select(
      xxhash64(array_join(graft.ext.TextDedup.tokensHof(t), " "))).as[Long].collect().toSeq
    assert(fpExpr == fpHof)
    // single-pass tokenizer ≡ the filter/split HOF chain, per row
    val tokMismatch = df.filter(
      !(graft.ext.TextDedup.tokens(t) <=> graft.ext.TextDedup.tokensHof(t))).count()
    assert(tokMismatch == 0)
    // min-shingle expression ≡ array_min over HOF shingles (tokensHof-based)
    val shHof = array_min(array_distinct(
      when(size(graft.ext.TextDedup.tokensHof(t)) >= 3,
        transform(sequence(lit(0), size(graft.ext.TextDedup.tokensHof(t)) - 3),
          i => concat_ws(" ", slice(graft.ext.TextDedup.tokensHof(t), i + 1, lit(3)))))
        .otherwise(array())))
    val mshMismatch = df.filter(
      !(graft.functions.TextExprs.minShingle(t, 3) <=> shHof)).count()
    assert(mshMismatch == 0)
    // content digest regexp formulation ≡ md5 of HOF token join
    val cdMismatch = df.filter(
      !(contentDigest(t) <=> md5(array_join(graft.ext.TextDedup.tokensHof(t), " "))))
      .count()
    assert(cdMismatch == 0)
  }

  test("vocabulary: token counts and doc frequency") {
    val t = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(t).orderBy($"cnt".desc, $"token")
      .collect().map(_.toSeq).toSeq
    assert(v == Seq(Seq("a", 3L, 2L), Seq("b", 1L, 1L), Seq("c", 1L, 1L)))
  }

  test("encodeTokens: frequency-ranked ids, deterministic ties, OOV=0") {
    // counts: a=4, b=2, c=1, d=1 → ids a=1, b=2, then ties c/d break
    // token-ascending → c=3; with vocabSize=3, d is OOV → 0
    val t = Seq((1L, "a b a c"), (2L, "a d b a")).toDF("doc_id", "text")
    val e = TextAnalysis.encodeTokens(t, "doc_id", "text", vocabSize = 3)
      .orderBy("doc_id", "pos").collect().map(_.toSeq).toSeq
    assert(e == Seq(
      Seq(1L, 0L, 1L), Seq(1L, 1L, 2L), Seq(1L, 2L, 1L), Seq(1L, 3L, 3L),
      Seq(2L, 0L, 1L), Seq(2L, 1L, 0L), Seq(2L, 2L, 2L), Seq(2L, 3L, 1L)))
    // packed variant re-assembles the same stream in position order
    val d = TextAnalysis.encodeDocs(t, "doc_id", "text", vocabSize = 3)
      .orderBy("doc_id").collect()
    assert(d.map(_.getSeq[Long](d.head.fieldIndex("token_ids")).toList).toSeq ==
      Seq(List(1L, 2L, 1L, 3L), List(1L, 0L, 2L, 1L)))
    assert(d.map(_.getAs[Long]("n_toks")).toSeq == Seq(4L, 4L))
    // empty/null docs contribute no rows
    val z = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(TextAnalysis.encodeTokens(z, "doc_id", "text", 5).count() == 0)
  }

  test("pq: codes compress the corpus; ADC top-k recalls brute top-k") {
    import graft.ext.{PqIndex, Similarity}
    val e = sf("embeddings").limit(300).cache()
    val books = PqIndex.train(spark, e, m = 16, ksub = 16, iters = 4)
    assert(books.count() == 16 * 16)
    // every subspace codebook holds dsub = 64/16 = 4 dims
    assert(books.select(size(col("centroid"))).distinct().head().getInt(0) == 4)
    val coded = PqIndex.encode(e, books).select("vec_id", "codes").cache()
    // codes are m entries in [0, ksub)
    assert(coded.filter(size(col("codes")) =!= 16).count() == 0)
    assert(coded.select(explode(col("codes"))).filter(
      col("col") < 0 || col("col") >= 16).count() == 0)
    // deterministic encode
    val again = PqIndex.encode(e, books).select("vec_id", "codes")
    assert(coded.except(again).isEmpty && again.except(coded).isEmpty)
    // ADC recall@10 vs the exact brute twin (random synthetic vectors
    // are PQ's worst case — no cluster structure to exploit)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.bruteTopK(q, e, 10).select("q_id", "vec_id")
    val approx = PqIndex.search(q, coded, books, k = 10).select("q_id", "vec_id")
    val hit = approx.join(exact, Seq("q_id", "vec_id")).count()
    val recall = hit.toDouble / exact.count()
    assert(recall >= 0.4, s"ADC recall@10 = $recall (16 B codes vs 256 B floats)")
    // ADC shortlist + exact refine: near-exact at 4x shortlist
    val refined = PqIndex.searchRefined(q, coded, e, books, k = 10, shortlist = 4)
      .select("q_id", "vec_id")
    val rHit = refined.join(exact, Seq("q_id", "vec_id")).count()
    val rRecall = rHit.toDouble / exact.count()
    assert(rRecall >= 0.7, s"refined recall@10 = $rRecall (floats read only for the shortlist)")
    assert(rRecall >= recall, "refine must not lose recall")
    // IVF-PQ: at nprobe = nlist no list is pruned, so the composed
    // search must equal the unpruned refined search exactly
    val cents = graft.ext.IvfIndex.train(spark, e, k = 8, iters = 2)
    val codedLists = graft.ext.IvfIndex.assign(coded.join(e, "vec_id"), cents)
      .select("vec_id", "codes", "centroid_id")
    val full = PqIndex.searchIvfPq(q, codedLists, e, books, cents,
      k = 10, nprobe = 8, shortlist = 4).select("q_id", "vec_id", "sim", "rank")
    val unpruned = PqIndex.searchRefined(q, coded, e, books, k = 10, shortlist = 4)
      .select("q_id", "vec_id", "sim", "rank")
    assert(full.except(unpruned).isEmpty && unpruned.except(full).isEmpty,
      "nprobe=nlist IVF-PQ must equal the unpruned refined search")
    // pruned probing still recalls most of the exact top-k
    val pruned = PqIndex.searchIvfPq(q, codedLists, e, books, cents,
      k = 10, nprobe = 4, shortlist = 4).select("q_id", "vec_id")
    val pHit = pruned.join(exact, Seq("q_id", "vec_id")).count()
    assert(pHit.toDouble / exact.count() >= 0.3,
      s"IVF-PQ recall@10 at nprobe=4/8 = ${pHit.toDouble / exact.count()}")
    e.unpersist(); coded.unpersist()
  }

  test("signature index round-trips through parquet; CLI stages chain it") {
    import graft.functions.Transformers
    import graft.spec.TransformStage
    val dir = tempDir("graft_sigidx")
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about spark engines")
    ).toDF("doc_id", "text")
    // write_index passes rows through while persisting the index
    val passed = Transformers.apply(old,
      TransformStage.parseChain(s"write_index:$dir/idx"))
    assert(passed.count() == 2)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "fresh unseen content that matches nothing indexed here")
    ).toDF("doc_id", "text")
    val kept = Transformers.apply(batch,
      TransformStage.parseChain(s"dedup_incr:$dir/idx"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(11L))
    // append survivors, then a re-arrival of the survivor is caught
    Transformers.apply(batch.filter($"doc_id" === 11L),
      TransformStage.parseChain(s"write_index:$dir/idx;doc_id;text;3;append"))
      .count()
    val again = Transformers.apply(
      Seq((20L, "fresh unseen content that matches nothing indexed here"))
        .toDF("doc_id", "text"),
      TransformStage.parseChain(s"dedup_incr:$dir/idx"))
    assert(again.count() == 0)
  }

  test("corpusReport: one-row totals, dup rate via distinct texts, null-safe") {
    val t = Seq((1L, "a b a"), (2L, "a b a"), (3L, "c d"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextAnalysis.corpusReport(t).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 4L)
    assert(row.getAs[Long]("n_tokens") == 8L)      // 3 + 3 + 2 + 0
    assert(row.getAs[Long]("distinct_texts") == 3L) // dup text + "" for null
    assert(row.getAs[Long]("vocab") == 4L)          // a b c d
    assert(row.getAs[Double]("avg_tokens") == 2.0)
  }

  test("incremental dedup: new batch flags vs index and earlier in-batch docs") {
    import graft.ext.TextDedup
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about spark engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // dup of old 1
      (11L, "novel content with no match anywhere in the corpus yet"),
      (12L, "novel content with no match anywhere in the corpus yet"), // dup of 11
      (13L, "completely fresh and unrelated text about databases")
    ).toDF("doc_id", "text")
    val oldSh = TextDedup.shingleTable(old, "doc_id", "text", 3)
    val oldBk = TextDedup.bucketTable(oldSh)
    val m = TextDedup.incrementMatches(batch, oldSh, oldBk, "doc_id", "text",
      n = 3, threshold = 0.8)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(m == Seq((10L, 1L), (12L, 11L)))
    // kept side: survivors only, old never touched
    val kept = TextDedup.dedupIncrement(batch, oldSh, oldBk, "doc_id", "text",
      n = 3, threshold = 0.8).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(11L, 13L))
    // batch against an empty index: only in-batch dedup applies
    val none = TextDedup.shingleTable(old.limit(0), "doc_id", "text", 3)
    val m2 = TextDedup.incrementMatches(batch, none, TextDedup.bucketTable(none),
      "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(m2 == Seq((12L, 11L)))
  }

  test("compression ratio: repetitive text compresses below prose; edges") {
    val t = Seq(
      (1L, "spam " * 200),                                   // highly repetitive
      (2L, (1 to 200).map(i => s"w${i * 7919 % 1000}x$i").mkString(" ")), // high-entropy
      (3L, ""), (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = t.select($"doc_id", TextAnalysis.compressionRatio($"text").as("cr"))
      .orderBy("doc_id").collect()
    val rep = r(0).getDouble(1); val rnd = r(1).getDouble(1)
    assert(rep < 0.1 && rnd > 0.3 && rep < rnd,
      s"expected repetitive << random, got $rep vs $rnd")
    assert(r(2).getDouble(1) == 1.0 && r(3).isNullAt(1))
    // deterministic across evaluations
    val again = t.select(TextAnalysis.compressionRatio($"text")).collect()
    assert(again(0).getDouble(0) == rep && again(1).getDouble(0) == rnd)
  }

  test("quality classifier: trained weights replay through linearScore") {
    import graft.ext.QualityClassifier
    val pos = Seq("clean prose words here", "prose words flow clean",
      "here flow clean words", "words prose here flow").toDF("text")
    val neg = Seq("spam casino junk buy", "casino buy junk spam",
      "junk spam buy casino", "buy casino spam junk").toDF("text")
    val m = QualityClassifier.train(pos, neg, "text", vocabSize = 64)
    val w = m.weights.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // learned direction: positive-class tokens outweigh negative-class
    assert(w("clean") > w("spam") && w("prose") > w("casino"))
    // held-out docs classify correctly through the broadcast scorer
    val target = Seq((1L, "clean words prose"), (2L, "casino spam buy"))
      .toDF("doc_id", "text")
    val scored = graft.ext.TextAnalysis
      .linearScore(target, m.weights, "doc_id", "text", bias = m.bias)
      .orderBy("doc_id").collect()
    assert(scored(0).getAs[Boolean]("quality_keep"))
    assert(!scored(1).getAs[Boolean]("quality_keep"))
    // margin equivalence: scorer sigmoid == MLlib formulation
    assert(scored(0).getAs[Double]("score") > 0.5 &&
      scored(1).getAs[Double]("score") < 0.5)
    // one-call convenience path agrees
    val ts = QualityClassifier.trainAndScore(pos, neg, target)
      .orderBy("doc_id").collect()
    assert(ts.map(_.getAs[Boolean]("quality_keep")).toSeq == Seq(true, false))
  }

  test("dsir: unigram+bigram features; target-like docs outscore noise") {
    import graft.ext.Dsir
    // "a b c" → features a, b, c, "a b", "b c"
    val one = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(one.select(explode(Dsir.bucketKeys($"text", 2))).count() == 5)
    assert(Dsir.bucketCounts(one, "text", 2)
      .agg(sum("cnt")).head.getLong(0) == 5)
    // raw = 4 target-looking docs + 4 noise docs; target = the first 4
    val raw = Seq(
      (1L, "wiki style words wiki style"), (2L, "wiki style words"),
      (3L, "words wiki style wiki"), (4L, "wiki words style"),
      (5L, "spam junk casino spam"), (6L, "casino junk spam"),
      (7L, "junk casino spam junk"), (8L, "casino spam junk")
    ).toDF("doc_id", "text")
    val target = raw.filter($"doc_id" <= 4)
    val s = Dsir.score(raw, target, "doc_id", "text", hexDigits = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s.size == 8)
    val tMin = (1L to 4L).map(s).min
    val nMax = (5L to 8L).map(s).max
    assert(tMin > nMax, s"target-like docs must outscore noise: $s")
    // resample: deterministic, k rows, drawn from the scored set
    val r1 = Dsir.resample(raw, target, k = 3).collect()
    val r2 = Dsir.resample(raw, target, k = 3).collect()
    assert(r1.map(_.getLong(0)).toSeq == r2.map(_.getLong(0)).toSeq)
    assert(r1.length == 3)
    // empty docs emit no score row
    val z = raw.union(Seq((9L, "")).toDF("doc_id", "text"))
    assert(Dsir.score(z, target, "doc_id", "text", 2).count() == 8)
    // single-pass slice variant ≡ the generic two-frame path
    val sw = Dsir.scoreWithin(raw, $"doc_id" <= 4, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sw.keySet == s.keySet &&
      sw.forall { case (k2, v) => math.abs(v - s(k2)) < 1e-9 })
    val rw = Dsir.resampleWithin(raw, $"doc_id" <= 4, k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(rw == r1.map(_.getLong(0)).toSeq)
  }

  test("fingerprints: equal for normalized-equal docs") {
    val t = Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val fp = t.select(TextAnalysis.contentFingerprint($"text")).as[Long].collect()
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("event windows: tumbling counts sum to total; sessions split on gap") {
    val ev = sf("events").limit(200)
    val total = ev.count()
    val tw = EventWindows.tumbling(ev, "10 minutes")
    assert(tw.agg(sum("n")).as[Long].head() == total)
    // synthetic session check: 3 events, gap splits at 30 min
    val s = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1.0)
    ).toDF("user_id", "ts", "value")
    val sess = EventWindows.sessions(s, "30 minutes")
    assert(sess.count() == 2)
    assert(sess.orderBy("session_start").select("n").as[Long].collect().toSeq == Seq(2L, 1L))
  }

  test("multimodal: media schema, deterministic stub features, frame sampling") {
    val media = Multimodal.asMedia(
      sf("documents").limit(20), "doc_id", "text", kind = "video")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "kind", "bytes", "meta"))
    val f1 = Multimodal.extractFeatures(spark, media)
    assert(f1.schema("features").dataType.simpleString == "array<float>")
    val a = f1.orderBy("media_id").select("features").as[Seq[Float]].collect()
    val b = Multimodal.extractFeatures(spark, media)
      .orderBy("media_id").select("features").as[Seq[Float]].collect()
    assert(a.toSeq == b.toSeq) // deterministic
    assert(a.forall(_.size == Multimodal.FeatureDim))
    val frames = Multimodal.sampleFrames(media, frameMs = 500L)
    assert(frames.count() > media.count()) // exploded
  }

  test("multimodal: real WAV decode — header metadata exact, PCM16 features real") {
    // synthesize a canonical 44-byte-header WAV: PCM16 mono 8 kHz,
    // 0.5 s of a 440 Hz sine at half scale
    def wav(rate: Int, channels: Int, seconds: Double, hz: Double): Array[Byte] = {
      val n = (rate * seconds).toInt
      val dataLen = n * channels * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * channels * 2).putShort((channels * 2).toShort).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      for (i <- 0 until n; _ <- 0 until channels)
        bb.putShort((16384 * math.sin(2 * math.Pi * hz * i / rate)).toShort)
      bb.array()
    }
    val Some((mime, ch, rate, durMs, feats)) =
      Multimodal.decodeWav(wav(8000, 1, 0.5, 440.0))
    assert(mime == "audio/wav" && ch == 1 && rate == 8000)
    assert(durMs == 500L)
    assert(feats.length == Multimodal.FeatureDim)
    // a half-scale sine: mean |amp| ≈ 2/π · 0.5, RMS ≈ 0.5/√2, real
    // zero crossings, peak ≈ 0.5 — the features came from the samples
    assert(math.abs(feats(0) - 2 / math.Pi * 0.5) < 0.02, s"meanAbs ${feats(0)}")
    assert(math.abs(feats(1) - 0.5 / math.sqrt(2)) < 0.02, s"rms ${feats(1)}")
    assert(feats(2) > 0.05f && feats(3) > 0.45f && feats(3) <= 0.51f)
    // stereo/rate variants round-trip the header
    val Some((_, ch2, rate2, dur2, _)) = Multimodal.decodeWav(wav(44100, 2, 0.25, 1000.0))
    assert(ch2 == 2 && rate2 == 44100 && math.abs(dur2 - 250L) <= 1L)
    // non-WAV bytes refuse
    assert(Multimodal.decodeWav("RIFFxxxxJUNK".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodeWav(Array.fill[Byte](100)(7)).isEmpty)
    // end-to-end through extractFeatures: audio meta replaced with the
    // decoded channels/rate/duration, features from the PCM path
    val rows = Seq((1L, "audio", wav(8000, 1, 0.5, 440.0)),
      (2L, "audio", "not audio at all".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit("application/x-fake").as("mime"),
        lit(0).as("width"), lit(0).as("height"), lit(0L).as("duration_ms")))
    val out = Multimodal.extractFeatures(spark, rows).orderBy("media_id")
      .select("meta.mime", "meta.width", "meta.height", "meta.duration_ms")
      .collect()
    assert(out(0).getString(0) == "audio/wav" && out(0).getInt(1) == 1 &&
      out(0).getInt(2) == 8000 && out(0).getLong(3) == 500L)
    assert(out(1).getString(0) == "application/x-fake") // stub fallback, meta untouched
  }

  test("multimodal: hostile WAV sizes terminate; ISO-BMFF video metadata is real") {
    // a crafted RIFF chunk size near 2^32 used to truncate to a
    // negative Int and either loop forever or throw — now the Long
    // walk just runs off the end and reports not-a-WAV
    val evil = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")).putInt(56)
      .put("WAVE".getBytes("US-ASCII"))
    evil.put("JUNK".getBytes("US-ASCII")).putInt(0xFFFFFFF8) // unsigned 4294967288
    assert(Multimodal.decodeWav(evil.array()).isEmpty)
    // zero-size chunks still advance (8 bytes each), never stall
    val zeros = java.nio.ByteBuffer.allocate(60)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    zeros.put("RIFF".getBytes("US-ASCII")).putInt(52)
      .put("WAVE".getBytes("US-ASCII"))
    for (_ <- 0 until 6) zeros.put("JUNK".getBytes("US-ASCII")).putInt(0)
    assert(Multimodal.decodeWav(zeros.array()).isEmpty)

    // crafted ISO-BMFF: ftyp + moov{mvhd v0, trak{tkhd v0}} (public
    // layout, ISO/IEC 14496-12)
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length) // BE default
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    def mvhdV0(timescale: Int, duration: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(20)
      bb.putInt(0).putInt(0).putInt(0).putInt(timescale).putInt(duration)
      box("mvhd", bb.array())
    }
    def tkhdV0(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.position(76) // ver/flags + times/ids/duration/reserved + matrix
      bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed point
      box("tkhd", bb.array())
    }
    val mp4 = box("ftyp", "isomiso2avc1".getBytes("US-ASCII")) ++
      box("moov", mvhdV0(1000, 5000) ++ box("trak", tkhdV0(640, 360)) ++
        box("trak", tkhdV0(0, 0))) // audio track: 0×0, must not win the max
    val Some((mime, w, h, ms)) = Multimodal.decodeMp4(mp4)
    assert(mime == "video/mp4" && w == 640 && h == 360 && ms == 5000L)
    // v1 mvhd: 64-bit duration at payload+24
    val mvhd1 = {
      val bb = java.nio.ByteBuffer.allocate(36)
      bb.put(1.toByte).position(20); bb.putInt(90000).putLong(270000L)
      box("mvhd", bb.array())
    }
    val mp4v1 = box("ftyp", "isom".getBytes("US-ASCII")) ++ box("moov", mvhd1)
    assert(Multimodal.decodeMp4(mp4v1).map(_._4).contains(3000L))
    // non-BMFF refuses → stub path
    assert(Multimodal.decodeMp4("nowhere near an mp4".getBytes).isEmpty)
    // end-to-end: video rows get real meta, stat features
    val rows = Seq((1L, "video", mp4), (2L, "video", "plain text".getBytes("UTF-8")))
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit("application/x-fake").as("mime"),
        lit(0).as("width"), lit(0).as("height"), lit(0L).as("duration_ms")))
    val out = Multimodal.extractFeatures(spark, rows).orderBy("media_id")
      .select("meta.mime", "meta.width", "meta.height", "meta.duration_ms")
      .collect()
    assert(out(0).getString(0) == "video/mp4" && out(0).getInt(1) == 640 &&
      out(0).getInt(2) == 360 && out(0).getLong(3) == 5000L)
    assert(out(1).getString(0) == "application/x-fake") // stub fallback
  }

  test("multimodal: real JDK resize scales big images, passes the rest through") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "image", png(100, 60)),   // downscale → 50×30
      (2L, "image", png(10, 6)),     // fits → byte-identical passthrough
      (3L, "image", "not an image".getBytes("UTF-8")), // undecodable → passthrough
      (4L, "video", png(100, 60)))   // wrong kind → passthrough
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit("application/x-fake").as("mime"),
        lit(0).as("width"), lit(0).as("height"), lit(0L).as("duration_ms")))
    val out = Multimodal.resizeImages(spark, rows, maxDim = 50)
      .orderBy("media_id")
      .select("media_id", "bytes", "meta.mime", "meta.width", "meta.height")
      .collect()
    val big = out(0)
    assert(big.getString(2) == "image/png" &&
      big.getInt(3) == 50 && big.getInt(4) == 30)
    // the re-encoded payload really is a 50×30 png
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(big.getAs[Array[Byte]](1)))
    assert(dec.getWidth == 50 && dec.getHeight == 30)
    // everything else byte-identical, meta untouched
    for ((r, orig) <- Seq(out(1) -> png(10, 6),
                          out(2) -> "not an image".getBytes("UTF-8"),
                          out(3) -> png(100, 60))) {
      assert(r.getAs[Array[Byte]](1).sameElements(orig))
      assert(r.getString(2) == "application/x-fake")
    }
  }

  // ── BPE tokenizer training/application ─────────────────────────────

  /** Sequential reference BPE (Sennrich ACL'16 learn_bpe shape):
    * overlapping pair counts, greedy left-to-right merge application,
    * ties broken (count desc, lhs asc, rhs asc).
    */
  private def refBpeMergeList(s: List[String], a: String, b: String): List[String] = {
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { buf += (a + b); i += 2 }
      else { buf += s(i); i += 1 }
    }
    buf.toList
  }

  private def refBpeTrain(words: Map[String, Long], k: Int,
                          minCnt: Long): Seq[(String, String)] = {
    var syms: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, c) => w.toList.map(_.toString) -> c }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    while (out.size < k && !stop) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((s, c) <- syms; Seq(a, b) <- s.sliding(2) if s.size >= 2)
        pc((a, b)) += c
      if (pc.isEmpty) stop = true
      else {
        val ((a, b), cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        if (cnt < minCnt) stop = true
        else {
          out += ((a, b))
          syms = syms.map { case (s, c) => refBpeMergeList(s, a, b) -> c }
        }
      }
    }
    out.toSeq
  }

  test("bpe: segmentWord applies merges in order, incl. back-to-back runs") {
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "b")
    val out = Seq("there", "ababab", "bath")
      .toDF("w").select(Bpe.segmentWord($"w", merges).as("t"))
      .as[Seq[String]].collect().toSeq
    assert(out(0) == Seq("the", "r", "e"))   // t+h, then th+e; (e,r) never merged
    assert(out(1) == Seq("ab", "ab", "ab"))  // back-to-back pairs all merge
    assert(out(2) == Seq("b", "a", "th"))    // a+b does NOT fire across the a|t boundary
    // runs of the SAME symbol pair greedily left-to-right — the case
    // the double-space separator exists for (a single-space scheme's
    // first match eats the boundary space the second match needs)
    val runs = Seq("aaaaaa", "aaaaa", "aa")
      .toDF("w").select(Bpe.segmentWord($"w", Seq("a" -> "a")).as("t"))
      .as[Seq[String]].collect().toSeq
    assert(runs(0) == Seq("aa", "aa", "aa"))
    assert(runs(1) == Seq("aa", "aa", "a"))
    assert(runs(2) == Seq("aa"))
  }

  test("bpe: distributed train == sequential reference on word counts") {
    val corpus = docs.union(Seq(
      (5L, "banana bandana cabana and and and another antenna"),
      (6L, "thinking things through the thorough theory")).toDF("doc_id", "text"))
    val wc = Bpe.wordCounts(corpus).as[(String, Long)].collect().toMap
    val expect = refBpeTrain(wc, k = 12, minCnt = 2L)
    val got = Bpe.train(corpus, "text", numMerges = 12, minPairCount = 2L)
    assert(got == expect)
    assert(got.nonEmpty && got.size <= 12)
    // encode with the trained merges: token mass is conserved per char
    val enc = Bpe.encode(corpus, "text", got)
      .as[(String, Long)].collect().toMap
    val charMass = wc.toSeq.map { case (w, c) => w.length * c }.sum
    assert(enc.toSeq.map { case (t, c) => t.length * c }.sum == charMass)
    // early stop: an impossible floor yields no merges
    assert(Bpe.train(corpus, "text", 5, minPairCount = 1000000L).isEmpty)
  }

  test("bpe: fused encode expression == unfused replace-chain, bit for bit") {
    // corpus with runs, unicode (dropped/lowercased), digits, 1-char
    // words, and words shorter than every merge pattern
    val corpus = docs.union(Seq(
      (7L, "aaaa aaa aa a BANANA bandana Ångström ſtraße"),
      (8L, "the theory of the thing 42 x _under_score the"),
      (9L, ""), (10L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val merges = Bpe.train(corpus.na.drop(Seq("text")), "text",
      numMerges = 16, minPairCount = 1L)
    assert(merges.nonEmpty)
    for (ms <- Seq(Seq.empty[(String, String)], merges.take(1),
                   merges, Seq("a" -> "a", "aa" -> "aa", "aa" -> "a"))) {
      val fused = Bpe.encode(corpus.na.drop(Seq("text")), "text", ms)
        .as[(String, Long)].collect().toMap
      val unfused = Bpe.encodeUnfused(corpus.na.drop(Seq("text")), "text", ms)
        .as[(String, Long)].collect().toMap
      assert(fused == unfused, s"merge list $ms")
    }
  }

  test("bpe/ppl CLI stages: train table, encode round-trip, bucket labels") {
    import graft.spec.TransformStage
    val t = graft.functions.Transformers
    val trained = t.resolve(TransformStage("bpe_train", Seq("5", "text", "2")))(docs)
      .orderBy("merge_rank").as[(Int, String, String)].collect().toSeq
    assert(trained.size == 5 && trained.map(_._1) == Seq(1, 2, 3, 4, 5))
    val mergesArg = trained.map { case (_, a, b) => s"$a+$b" }.mkString(",")
    val vocab = t.resolve(TransformStage("bpe_encode", Seq(mergesArg)))(docs)
    assert(vocab.columns.toSeq == Seq("token", "cnt"))
    assert(vocab.agg(sum(length($"token") * $"cnt")).as[Long].head() ==
      Bpe.wordCounts(docs).agg(sum(length($"word") * $"cnt")).as[Long].head())
    val buckets = t.resolve(TransformStage("ppl_buckets", Seq()))(docs)
    assert(buckets.select("label").distinct().as[String].collect().toSet
      .subsetOf(Set("head", "middle", "tail")))
  }

  test("sentences: boundary heuristic, abbreviations, index, NULL text") {
    val d = Seq(
      (1L, "One two. Three four! Five? Six seven. end"),
      (2L, "Dr. smith stays whole. New one."),  // lowercase after '.' → no split
      (3L, "no boundaries here at all"),
      (4L, "9 lives. 8 more"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.sentences(d)
      .orderBy("doc_id", "sent_idx")
      .as[(Long, Int, String)].collect().toSeq
    assert(got.filter(_._1 == 1L).map(_._3) ==
      Seq("One two.", "Three four!", "Five?", "Six seven. end"))
    assert(got.filter(_._1 == 2L).map(_._3) ==
      Seq("Dr. smith stays whole.", "New one."))
    assert(got.filter(_._1 == 3L).map(_._3) == Seq("no boundaries here at all"))
    assert(got.filter(_._1 == 4L).map(_._3) == Seq("9 lives.", "8 more"))
    assert(got.filter(_._1 == 5L).isEmpty)
    // indices are dense 0-based per doc
    assert(got.filter(_._1 == 1L).map(_._2) == Seq(0, 1, 2, 3))
  }

  test("langid nb: learns crafted languages, empty docs fall to first lang") {
    val corpus = Seq(
      (1L, "aye", "alpha bravo alpha charlie bravo alpha delta"),
      (2L, "aye", "bravo alpha delta charlie alpha bravo alpha"),
      (3L, "zed", "zulu yankee zulu xray yankee zulu whiskey"),
      (4L, "zed", "yankee zulu whiskey xray zulu yankee zulu")
    ).toDF("doc_id", "lang", "text")
    val probe = Seq(
      (10L, null.asInstanceOf[String], "charlie delta alpha bravo"),
      (11L, null.asInstanceOf[String], "whiskey xray zulu yankee"),
      (12L, null.asInstanceOf[String], "")
    ).toDF("doc_id", "lang", "text")
    val got = graft.ext.LangId.trainAndScore(corpus, probe)
      .orderBy("doc_id")
      .as[(Long, String, Double)].collect().toSeq
    assert(got.map(r => r._1 -> r._2) ==
      Seq(10L -> "aye", 11L -> "zed", 12L -> "aye"))
    assert(got(0)._3 < 0 && got(1)._3 < 0 && got(2)._3 == 0.0)
    // determinism: same call twice, identical floats
    val again = graft.ext.LangId.trainAndScore(corpus, probe)
      .orderBy("doc_id").as[(Long, String, Double)].collect().toSeq
    assert(got == again)
  }

  test("retrieval/redact CLI stages: bm25 index+search, pii_redact, url_canon, blocklist") {
    import graft.spec.TransformStage
    val t = graft.functions.Transformers
    val path = tempDir("bm25cli")
    val through = t.resolve(TransformStage("bm25_index", Seq(path)))(docs)
    assert(through.columns.sameElements(docs.columns)) // pass-through
    val hits = t.resolve(TransformStage("bm25_search",
      Seq(path, "quick brown", "5")))(docs)
    assert(hits.columns.toSeq == Seq("doc_id", "score"))
    assert(hits.count() <= 5)
    val red = t.resolve(TransformStage("pii_redact", Seq()))(
      docs.withColumn("text", concat($"text", lit(" a@b.io"))))
    assert(red.filter($"text".contains("a@b.io")).count() == 0)
    val canon = t.resolve(TransformStage("url_canon", Seq("text", "ck")))(docs)
    assert(canon.columns.contains("ck"))
    val bl = t.resolve(TransformStage("blocklist", Seq("quick,missing")))(docs)
    assert(bl.filter($"blocked").count() ==
      docs.filter(array_contains(graft.ext.TextDedup.tokens($"text"), "quick"))
        .count())
  }

  test("stop-shingle cap: capped jaccard/containment ≡ brute force on pruned sets") {
    // Planted boilerplate: every doc ends with the same license block,
    // so one shingle family has df = ndocs. With the cap the pair
    // miners must behave as if those shingles never existed — exactly
    // the 100 TB guard against the O(Σ df²) prefix-join blowup.
    // 30 tokens: long enough that UNCAPPED, unrelated docs clear the
    // 0.5 threshold on boilerplate alone (≈28 shared of ≈38 shingles)
    val boiler = "all rights reserved this document is licensed under " +
      "the apache license version two and may be redistributed only " +
      "with this notice attached in full see the license file for details"
    val bodies = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda", // near-dup of 1
      3L -> "one two three four five six seven eight nine ten",
      4L -> "one two three four five six seven eight nine eleven",      // near-dup of 3
      5L -> "completely different words about rivers mountains and weather patterns"
    )
    val docs = bodies.map { case (i, b) => (i, s"$b $boiler") }
      .toDF("doc_id", "text")
    val cap = 3 // boilerplate shingles hit df 5 > 3; body shingles df ≤ 2
    // Scala brute force over the capped shingle sets
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\W+").filter(_.nonEmpty)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val raw = bodies.map { case (i, b) => i -> shingleSet(s"$b $boiler") }.toMap
    val dfc = raw.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val pruned = raw.view.mapValues(_.filter(s => dfc(s) <= cap)).toMap
    def jac(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / a.union(b).size
    def cont(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / math.min(a.size, b.size)
    val ids = pruned.keys.toSeq.sorted
    val expJ = (for { a <- ids; b <- ids if a < b
      j = jac(pruned(a), pruned(b)) if j >= 0.5 } yield (a, b)).toSet
    val expC = (for { a <- ids; b <- ids if a < b
      c = cont(pruned(a), pruned(b)) if c >= 0.5 } yield (a, b)).toSet
    val gotJ = TextDedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, cap)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotC = TextDedup.containmentPairs(docs, "doc_id", "text", 3, 0.5, cap)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotJ == expJ, s"jaccard: got $gotJ expected $expJ")
    assert(gotC == expC, s"containment: got $gotC expected $expC")
    assert(expJ == Set((1L, 2L), (3L, 4L))) // the true near-dups, nothing else
    // UNCAPPED, the shared boilerplate pulls every pair above 0.5 —
    // the cap is exactly what keeps boilerplate from pairing
    val uncapped = TextDedup.containmentPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size > expC.size)
  }

  test("perplexityBuckets: equal-mass tertiles over ce, NULL for empty docs") {
    val corpus = Seq(
      (1L, "a a a a a a"), (2L, "a a a a a b"), (3L, "a a a a b b"),
      (4L, "a a a b b b"), (5L, "a a b b b c"), (6L, "a b b c c c"),
      (7L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(corpus, corpus, minCount = 1L)
      .orderBy("doc_id")
      .select("doc_id", "cross_entropy", "bucket", "label").collect()
    // ce increases doc 1 → 6 by construction (more rare tokens)
    val ces = out.take(6).map(_.getDouble(1))
    assert(ces.sameElements(ces.sorted))
    assert(out.take(6).map(_.getInt(2)).toSeq == Seq(1, 1, 2, 2, 3, 3))
    assert(out.take(6).map(_.getString(3)).toSeq ==
      Seq("head", "head", "middle", "middle", "tail", "tail"))
    assert(out(6).isNullAt(1) && out(6).isNullAt(2) && out(6).isNullAt(3))
  }
}
