package graft

import graft.engine.Metrics
import graft.functions.Transformers
import graft.spec.TransformStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The registry's barrier declarations ([[Transformers.isBarrier]])
  * against what each transformer does. Every registered transformer
  * is applied to an input whose rows bump a counter when they are
  * evaluated, and its result is then evaluated once more. A
  * transformer is a barrier exactly when applying it evaluates input
  * rows AND evaluating its result evaluates them again: only then
  * does the Runner's stage of its input save a second pass. The few
  * that start Spark jobs without evaluating input rows (the index
  * readers, `ppl_buckets`) are listed. A new eager transformer fails
  * here until it is declared or listed.
  */
class TransformersSpec extends SparkSpec {
  import spark.implicits._

  /** Parquet-backed (not a local relation, which the optimizer could
    * fold without a job) corpus with the columns every transformer's
    * default or given arguments name. */
  private lazy val base: DataFrame = {
    val words = Seq("the quick brown fox jumps over the lazy dog",
      "a stitch in time saves nine and that is all there is to it",
      "Der schnelle braune Fuchs springt über den faulen Hund",
      "the quick brown fox jumps over the lazy dog again",
      "call me at 415-555-0199 or mail a@b.io about https://x.io/p")
    val rows = (1L to 40L).map { i =>
      (i, s"${words((i % 5).toInt)}. Line $i is here.\n\nAnd a second paragraph.",
        i % 7, s"https://${if (i % 3 == 0) "spam" else "ok"}.example.com/p$i",
        if (i % 3 == 0) "spam.com" else "ok.com", s"s${i % 2}",
        if (i % 5 == 2) "de" else "en", if (i % 4 == 0) "t" else "r",
        Array(i.toFloat, (i % 3).toFloat, 1f, -(i % 5).toFloat),
        i % 4, if (i % 2 == 0) "view" else "click", i * 60, i.toDouble / 3,
        i % 9 + 1, s"""{"a": $i}""")
    }
    val dir = tempDir("graft_tfspec") + "/base"
    rows.toDF("doc_id", "text", "score", "url", "domain", "source", "lang",
        "src", "embedding", "user_id", "event_type", "sec", "value", "w", "js")
      .withColumn("vec_id", $"doc_id")
      .withColumn("event_id", $"doc_id")
      .withColumn("ts", timestamp_seconds($"sec")).drop("sec")
      .withColumn("parts", split($"source", "x"))
      .withColumn("st", struct($"lang", $"src"))
      .withColumn("q_id", $"doc_id")
      .withColumn("q_vec", $"embedding")
      .write.parquet(dir)
    graft.sources.Resolver.readParquet(spark, dir)
  }

  private lazy val tick = udf { (_: Long) => TransformersSpec.ticks.incrementAndGet(); true }

  /** Persisted state the index-reading transformers need. */
  private lazy val state: Map[String, String] = {
    val d = tempDir("graft_tfstate")
    def run(stage: String, args: String*): Unit =
      Transformers.resolve(TransformStage(stage, args))(base)
    run("write_index", s"$d/idx")
    run("winnow_index", s"$d/fp", "doc_id", "text", "4", "3")
    run("ann_index", s"$d/ivf", "ivf", "2")
    run("bm25_index", s"$d/bm25")
    graft.ext.BloomDedup.writeFilter(spark,
      graft.ext.BloomDedup.train(base, "text", 100L), s"$d/f.bloom")
    Map("idx" -> s"$d/idx", "fp" -> s"$d/fp", "ivf" -> s"$d/ivf",
      "bm25" -> s"$d/bm25", "bloom" -> s"$d/f.bloom", "out" -> d)
  }

  /** name → (args, input built from the counting corpus). */
  private def cases: Map[String, (Seq[String], DataFrame => DataFrame)] = {
    val same: DataFrame => DataFrame = identity
    def after(stage: String, args: String*): DataFrame => DataFrame =
      Transformers.resolve(TransformStage(stage, args))
    val s = state
    Map(
      "drop" -> (Seq("w"), same), "keep" -> (Seq("doc_id", "text"), same),
      "rename" -> (Seq("w", "w2"), same), "cast" -> (Seq("w", "string"), same),
      "set" -> (Seq("c", "x"), same), "set_expr" -> (Seq("c", "w + 1"), same),
      "upper" -> (Seq("text"), same), "lower" -> (Seq("text"), same),
      "trim" -> (Seq("text"), same),
      "concat" -> (Seq("c", "-", "text", "source"), same),
      "urlify" -> (Seq("source"), same), "flatten" -> (Nil, same),
      "explode_field" -> (Seq("parts"), same),
      "json_extract" -> (Seq("js", "$.a", "ja"), same),
      "distinct" -> (Nil, same), "sample" -> (Seq("0.5"), same),
      "timestamp" -> (Nil, same), "filter" -> (Seq("w > 2"), same),
      "limit" -> (Seq("5"), same),
      "date_trunc" -> (Seq("ts", "month", "mon"), same),
      "extract" -> (Seq("ts", "year", "yr"), same),
      "normalize_ws" -> (Seq("text"), same), "hash64" -> (Seq("text", "h"), same),
      "split_field" -> (Seq("text", " ", "toks"), same),
      "coalesce_fields" -> (Seq("c", "lang", "source"), same),
      "mask" -> (Seq("text"), same), "redact_email" -> (Seq("text"), same),
      "redact_url" -> (Seq("text"), same), "redact_phone" -> (Seq("text"), same),
      "strip_html" -> (Seq("text"), same), "dedup_lines" -> (Seq("text"), same),
      "dedup_lines_global" -> (Seq("text", "doc_id"), same),
      "hash_split" -> (Seq("doc_id", "split", "train:0.9", "val:0.1"), same),
      "split_leakfree" -> (Seq("doc_id", "text", "split", "train:0.9", "val:0.1"), same),
      "expect" -> (Seq("w >= 0"), same),
      "pca_project" -> (Seq("embedding", "2"), same),
      "cluster_assign" -> (Seq("2"), same),
      "semdedup" -> (Seq("2", "0.9"), same),
      "cluster_sample" -> (Seq("2", "3"), same),
      "rollup_state" -> (Seq("source", "count", "sum:w"), same),
      "rollup_finish" -> (Seq("source", "count", "sum:w"),
        after("rollup_state", "source", "count", "sum:w")),
      "pairs_from_index" -> (Seq(s("idx")), same),
      "pii_stats" -> (Seq("text"), same),
      "chunk" -> (Seq("doc_id", "text", "4"), same),
      "shuffle_rank" -> (Seq("doc_id"), same),
      "mix_sample" -> (Seq("doc_id", "source", "s0:2.0"), same),
      "lm_score" -> (Seq("doc_id", "text"), same),
      "dup_spans" -> (Seq("doc_id", "text", "3"), same),
      "gopher_filter" -> (Seq("text", "3"), same),
      "gopher_keep" -> (Seq("text", "3"), same),
      "c4_clean" -> (Seq("text", "3", "1"), same),
      "report" -> (Seq("doc_id", "text"), same),
      "compression_ratio" -> (Seq("text"), same),
      "encode" -> (Seq("doc_id", "text", "16"), same),
      "dsir_score" -> (Seq("src", "t", "2"), same),
      "dedup_incr" -> (Seq(s("idx")), same),
      "write_index" -> (Seq(s("out") + "/idx2"), same),
      "ann_index" -> (Seq(s("out") + "/ivf2", "ivf", "2"), same),
      "ann_search" -> (Seq(s("ivf"), "ivf", "2", "4", "qid", "qvec"),
        _.select(col("doc_id").as("qid"), col("embedding").as("qvec"))),
      "nfc_normalize" -> (Seq("text"), same),
      "temperature_sample" -> (Seq("doc_id", "source", "0.5"), same),
      "quantize" -> (Seq("vec_id", "embedding"), same),
      "dequantize" -> (Nil, after("quantize", "vec_id", "embedding")),
      "dedup_keep_best" -> (Seq("score"), same),
      "containment_pairs" -> (Seq("doc_id", "text"), same),
      "url_parts" -> (Seq("url"), same),
      "block_domains" -> (Seq("domain", "spam.com"), same),
      "cap_domain" -> (Seq("domain", "doc_id", "2"), same),
      "dedup_paragraphs_global" -> (Seq("text", "doc_id"), same),
      "script_ratios" -> (Seq("text", "doc_id"), same),
      "winnow" -> (Seq("doc_id", "text", "4", "3"), same),
      "winnow_pairs" -> (Seq("doc_id", "text", "4", "3", "1"), same),
      "winnow_index" -> (Seq(s("out") + "/fp2", "doc_id", "text", "4", "3"), same),
      "winnow_pairs_from_index" -> (Seq(s("fp")), same),
      "bm25" -> (Seq("quick fox", "3"), same),
      "bloom_probe" -> (Seq(s("bloom"), "text", "dup"), same),
      "histogram" -> (Seq("value", "4"), same),
      "rolling" -> (Seq("3600"), same),
      "funnel" -> (Seq("view+click"), same),
      "weighted_sample" -> (Seq("w", "doc_id", "5"), same),
      "source_overlap" -> (Seq("text", "source"), same),
      "dsir_select" -> (Seq("2", "src", "t", "2"), same),
      "bpe_train" -> (Seq("3", "text"), same),
      "bpe_encode" -> (Seq("t+h,th+e", "text"), same),
      "byte_bpe_train" -> (Seq("3", "text"), same),
      "byte_bpe_encode" -> (Seq("Ġ+t", "text"), same),
      "unigram_train" -> (Seq("20", "text", "1"), same),
      "unigram_encode" -> (Seq("20", "text", "1"), same),
      "ppl_buckets" -> (Nil, same), "pii_redact" -> (Seq("text"), same),
      "url_canon" -> (Seq("url"), same),
      "blocklist" -> (Seq("bad,worse", "text"), same),
      "bm25_index" -> (Seq(s("out") + "/bm2", "doc_id", "text"), same),
      "bm25_search" -> (Seq(s("bm25"), "quick fox", "3"), same),
      "sentences" -> (Seq("doc_id", "text"), same),
      "langid_nb" -> (Seq("lang", "doc_id", "text"), same))
  }

  test("a transformer is declared a barrier exactly when applying it " +
    "evaluates input rows that its result evaluates again") {
    val table = cases
    assert(Transformers.names.filterNot(table.contains).isEmpty,
      "transformers without a case here: " +
        Transformers.names.filterNot(table.contains).mkString(", "))
    val counted = base.filter(tick(col("doc_id")))
    val inputs = table.map { case (n, (_, in)) => n -> in(counted) }
    awaitQuiet(() => spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).length)
    // (name, jobs started when applied, input rows evaluated when
    // applied, input rows evaluated by the result)
    val tried = try Transformers.names.map { name =>
      val m = new Metrics()
      TransformersSpec.ticks.set(0)
      name -> scala.util.Try {
        val out = m.record(spark)(Transformers.resolve(
          TransformStage(name, table(name)._1))(inputs(name)))
        val applied = TransformersSpec.ticks.getAndSet(0)
        out.count()
        (name, m.jobs.size, applied, TransformersSpec.ticks.get())
      }
    } finally spark.catalog.clearCache()
    val failed = tried.collect { case (n, scala.util.Failure(e)) => s"$n: $e" }
    assert(failed.isEmpty, failed.mkString("\n"))
    val seen = tried.map(_._2.get)
    val wrong = seen.filter { case (n, _, a, r) =>
      (a > 0 && r > 0) != Transformers.isBarrier(n) }
    assert(wrong.isEmpty, "declared barrier ≠ evaluates its input when " +
      "applied and again from its result (name, jobs, rows when applied, " +
      "rows from the result): " + wrong.mkString(", ") +
      "; all eager: " + seen.filter(_._2 > 0).mkString(", "))
    val eagerNoInput = seen.collect { case (n, j, 0L, _) if j > 0 => n }.toSet
    // index readers (jobs over persisted state) and ppl_buckets, whose
    // two jobs evaluate no input row
    assert(eagerNoInput.subsetOf(Set("pairs_from_index",
      "winnow_pairs_from_index", "bm25_search", "ann_search", "dedup_incr",
      "bloom_probe", "ppl_buckets")), s"eager without reading the input: $eagerNoInput")
  }
}

object TransformersSpec {
  /** Input rows evaluated since the last reset (local mode: the UDF
    * runs in this JVM). */
  val ticks = new java.util.concurrent.atomic.AtomicLong(0)
}
