package graft

import graft.ext.UnigramLm
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer laws: the distributed E-step equals an
  * independent sequential reference EXACTLY (fixed-point counts),
  * training is bit-deterministic under repartitioning, planted
  * pieces are learned, Viterbi equals exhaustive enumeration with the
  * documented tie-break, coverage/round-trip hold, and the prune
  * loop converges to the target vocabulary.
  */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[String]) = rows.toDF("text")

  // ── independent sequential reference of the E-step ────────────────
  private def seqExpected(types: Seq[(String, Long)],
                          pieces: Map[String, Double]): Map[String, Long] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Long]
    val maxPiece = if (pieces.isEmpty) 1 else pieces.keys.map(_.length).max
    for ((w, cnt) <- types; n = w.length; if n > 0 && n <= 48) {
      val alpha = Array.fill(n + 1)(0.0); alpha(0) = 1.0
      for (j <- 1 to n; i <- math.max(0, j - maxPiece) until j)
        pieces.get(w.substring(i, j)).foreach(p => alpha(j) += alpha(i) * p)
      val beta = Array.fill(n + 1)(0.0); beta(n) = 1.0
      for (i <- (n - 1) to 0 by -1;
           k <- (i + 1) to math.min(n, i + maxPiece))
        pieces.get(w.substring(i, k)).foreach(p => beta(i) += p * beta(k))
      val z = alpha(n)
      if (z > 0)
        for (i <- 0 until n; k <- (i + 1) to math.min(n, i + maxPiece))
          pieces.get(w.substring(i, k)).foreach { p =>
            val e = alpha(i) * p * beta(k) / z
            if (e > 0) {
              val piece = w.substring(i, k)
              acc(piece) = acc.getOrElse(piece, 0L) +
                math.round(e * cnt * 1e6)
            }
          }
    }
    acc.toMap
  }

  test("distributed E-step ≡ sequential reference, exactly (fixed-point)") {
    val docs = corpus(Seq("the cat sat on the mat", "the cats sat",
      "a mat on a cat", "thematic cats matter"))
    val types = UnigramLm.wordTypes(docs).as[(String, Long)].collect().toSeq
    val pieces = Map("t" -> 0.2, "h" -> 0.1, "e" -> 0.1, "th" -> 0.15,
      "the" -> 0.1, "a" -> 0.1, "c" -> 0.05, "s" -> 0.05, "m" -> 0.05,
      "at" -> 0.1, "o" -> 0.03, "n" -> 0.03, "i" -> 0.02, "r" -> 0.02)
    val dist = UnigramLm.expectedCounts(UnigramLm.wordTypes(docs), pieces)
    val ref = seqExpected(types, pieces)
    assert(dist == ref, s"diff: ${(dist.toSet diff ref.toSet).take(5)}")
  }

  test("training is bit-deterministic, including under repartitioning") {
    val docs = corpus(Seq.tabulate(40)(i => s"banana band bandana ana nab $i"))
    val m1 = UnigramLm.train(docs, vocabSize = 24, emIters = 2)
    val m2 = UnigramLm.train(docs.repartition(17), vocabSize = 24, emIters = 2)
    assert(m1.pieces == m2.pieces)
  }

  test("planted pieces are learned and dominate the encode") {
    // 'ab' and 'cd' are the only repeating units — the model must
    // prefer them over characters
    // maxLen=2 keeps whole words out of the inventory — this tiny
    // corpus has so few types that length-6 pieces would otherwise be
    // the degenerate whole-word optimum (real corpora drown that out)
    val docs = corpus(Seq.fill(30)("ababab cdcdcd ababcd"))
    val m = UnigramLm.train(docs, vocabSize = 8, emIters = 3, maxLen = 2)
    assert(m.pieces.contains("ab") && m.pieces.contains("cd"))
    assert(m.pieces("ab") > m.pieces("a") && m.pieces("cd") > m.pieces("c"))
    val toks = UnigramLm.encode(docs, "text", m)
      .orderBy(desc("cnt"), asc("token")).as[(String, Long)].collect()
    assert(toks.take(2).map(_._1).toSet == Set("ab", "cd"),
      s"encode should ride the planted units, got ${toks.take(4).toSeq}")
  }

  test("viterbi ≡ exhaustive enumeration with the lexicographic tie-break") {
    val rnd = new scala.util.Random(5)
    val costs: Map[String, Long] = Map("a" -> 900000L, "b" -> 1100000L,
      "ab" -> 1400000L, "ba" -> 1400000L, "aba" -> 2300000L, "bb" -> 2200000L)
    def enumerate(w: String): Seq[(List[String], Long)] = {
      if (w.isEmpty) Seq((Nil, 0L))
      else (1 to w.length).flatMap { k =>
        val span = w.substring(0, k)
        val c = costs.get(span).orElse(if (k == 1) Some(100L * 1000000L) else None)
        c.toSeq.flatMap(pc =>
          enumerate(w.substring(k)).map { case (rest, rc) => (span :: rest, pc + rc) })
      }
    }
    for (_ <- 1 to 60) {
      val w = Seq.fill(1 + rnd.nextInt(9))(if (rnd.nextBoolean()) 'a' else 'b').mkString
      val (toks, cost) = UnigramLm.viterbi(w, costs)
      val all = enumerate(w)
      val minCost = all.map(_._2).min
      val want = all.filter(_._2 == minCost).map(_._1.mkString("|")).min
      assert(cost == minCost, s"$w: cost $cost vs $minCost")
      assert(toks.mkString("|") == want, s"$w: ${toks.mkString("|")} vs $want")
    }
  }

  test("coverage and round-trip: every char representable, concat restores the word") {
    val docs = corpus(Seq("zebra quilt jumps", "vexing wizards quickly"))
    val m = UnigramLm.train(docs, vocabSize = 40, emIters = 2)
    val chars = "zebraquiltjumpsvexingwizardsckly".toSet
    assert(chars.forall(c => m.pieces.contains(c.toString)))
    val segs = UnigramLm.segmentTypes(docs, "text", m.costs)
      .as[(String, String, Long, Long)].collect()
    segs.foreach { case (w, toks, _, _) =>
      assert(toks.split('|').mkString == w, s"round-trip broke on $w: $toks") }
  }

  test("prune converges to the target vocabulary; single chars exempt") {
    val docs = corpus(Seq.fill(20)("the quick brown fox jumps over the lazy dog"))
    val nChars = "thequickbrownfoxjumpsoverlazydg".toSet.size
    val m = UnigramLm.train(docs, vocabSize = nChars + 5, emIters = 1)
    assert(m.size == nChars + 5, s"got ${m.size}, want ${nChars + 5}")
    assert(m.pieces.count(_._1.length == 1) == nChars)
    // a target below the char count floors at the char inventory
    val m2 = UnigramLm.train(docs, vocabSize = 3, emIters = 1)
    assert(m2.size == nChars && m2.pieces.keys.forall(_.length == 1))
    // probabilities normalize
    assert(math.abs(m.pieces.values.sum - 1.0) < 1e-9)
  }

  test("pruneLosses matches the closed-form leave-one-out formula exactly") {
    // hand fixture: Σcounts = 100.0; 'ab' (F=10) re-segments as a|b
    val probs = Map("a" -> 0.3, "b" -> 0.3, "ab" -> 0.4)
    val counts = Map("a" -> 50_000_000L, "b" -> 40_000_000L,
      "ab" -> 10_000_000L) // fixed-point ×1e6
    val losses = UnigramLm.pruneLosses(counts, probs)
    val (fa, fb, fab, sum) = (50.0, 40.0, 10.0, 100.0)
    val logProb = math.log(fab) - math.log(sum)
    val logSumAlt = math.log(sum + fab * (2 - 1))
    val logProbAlt =
      math.log(fa + fab) + math.log(fb + fab) - 2 * logSumAlt
    val want = fab * (logProb - logProbAlt)
    assert(losses.keySet == Set("ab"))
    assert(math.abs(losses("ab") - want) < 1e-12,
      s"got ${losses("ab")}, want $want")
    // a zero-count piece is free to drop
    val l0 = UnigramLm.pruneLosses(counts, probs + ("zz" -> 0.01))
    assert(l0("zz") == Double.NegativeInfinity)
  }

  test("prune ranks by likelihood loss, not probability: rare-but-irreplaceable survives") {
    // 'e' dominates the corpus, so 'ee' is frequent but re-segments
    // almost freely as e|e (its loss is tiny, even negative in the
    // leave-one-out approximation). 'xq' is rare, but x and q occur
    // ONLY inside it — removing it forces two near-unsupported
    // characters, a large likelihood drop. Probability ranking keeps
    // 'ee' (prob(ee) >> prob(xq)); the SentencePiece loss ranking
    // must keep 'xq' instead.
    val docs = corpus(
      Seq.fill(30)("eee") ++ Seq.fill(30)("e") ++ Seq.fill(3)("xq"))
    // chars e,x,q are exempt; vocabSize 4 leaves room for ONE
    // multi-char piece — the ranking decides which one
    val m = UnigramLm.train(docs, vocabSize = 4, emIters = 2, maxLen = 2)
    assert(m.pieces.contains("xq") && !m.pieces.contains("ee"),
      s"loss ranking must keep xq over ee, got ${m.pieces.keySet}")
    // sanity: probability ranking would have chosen the other way
    assert(m.pieces.keySet == Set("e", "x", "q", "xq"))
  }

  test("CLI stages mirror the API") {
    import graft.spec.TransformStage
    val docs = corpus(Seq.fill(10)("the quick brown fox"))
    val viaStage = graft.functions.Transformers.apply(docs,
      Seq(TransformStage("unigram_train", Seq("30"))))
    val m = UnigramLm.train(docs, vocabSize = 30, emIters = 2)
    assert(rows(viaStage.orderBy("piece")) ==
      rows(m.pieces.toSeq.sortBy { case (p, pr) => (-pr, p) }
        .toDF("piece", "prob").orderBy("piece")))
    val enc = graft.functions.Transformers.apply(docs,
      Seq(TransformStage("unigram_encode", Seq("30"))))
    assert(rows(enc.orderBy("token")) ==
      rows(UnigramLm.encode(docs, "text", m).orderBy("token")))
  }

  test("model persistence: write/read round-trips bit-identically; encode agrees") {
    val docs = corpus(Seq.fill(15)("the quick brown fox jumps"))
    val m = UnigramLm.train(docs, vocabSize = 30, emIters = 2)
    val path = tempDir("graft_uni") + "/m"
    UnigramLm.writeModel(spark, m, path)
    val back = UnigramLm.readModel(spark, path)
    assert(back.pieces == m.pieces, "probabilities must round-trip exactly")
    assert(rows(UnigramLm.encode(docs, "text", back).orderBy("token")) ==
      rows(UnigramLm.encode(docs, "text", m).orderBy("token")))
  }

  test("unknown characters encode through the per-char unk cost") {
    val costs = Map("a" -> 1000000L)
    val (toks, cost) = UnigramLm.viterbi("axa", costs)
    assert(toks == Seq("a", "x", "a") && cost == 2000000L + 100000000L)
  }
}
