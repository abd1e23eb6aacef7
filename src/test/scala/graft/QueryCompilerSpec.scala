package graft

import graft.dsl.QueryCompiler
import graft.spec.DatasetRef

class QueryCompilerSpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq(
    (1L, "US", 10.0, "alpha"),
    (2L, "DE", 20.0, "beta"),
    (3L, "US", 30.0, "gamma"),
    (4L, "FR", 40.0, null),
    (5L, "US", 50.0, "delta")
  ).toDF("id", "country", "amount", "tag")

  test("splitOp: default eq, double-underscore suffix, dotted paths") {
    assert(QueryCompiler.splitOp("country") == ("country", "eq"))
    assert(QueryCompiler.splitOp("amount__gte") == ("amount", "gte"))
    assert(QueryCompiler.splitOp("logs.job.contid__ne") == ("logs.job.contid", "ne"))
  }

  test("F1 equality + F2 operator family") {
    def ids(q: (String, String)*): Seq[Long] =
      QueryCompiler.apply(df, q.toSeq :+ ("_sort" -> "id"))
        .select("id").as[Long].collect().toSeq
    assert(ids("country" -> "US") == Seq(1L, 3L, 5L))
    assert(ids("amount__gt" -> "20") == Seq(3L, 4L, 5L))
    assert(ids("amount__lte" -> "20") == Seq(1L, 2L))
    assert(ids("country__ne" -> "US") == Seq(2L, 4L))
    assert(ids("country__in" -> "DE,FR") == Seq(2L, 4L))
    assert(ids("country__nin" -> "DE,FR") == Seq(1L, 3L, 5L))
    assert(ids("tag__exists" -> "1") == Seq(1L, 2L, 3L, 5L))
    assert(ids("tag__exists" -> "0") == Seq(4L))
    assert(ids("tag__regex" -> "^[ab]") == Seq(1L, 2L))
    assert(ids("tag__contains" -> "lt") == Seq(5L))
    assert(ids("tag__startswith" -> "de") == Seq(5L))
    assert(ids("tag__endswith" -> "a") == Seq(1L, 2L, 3L, 5L))
    assert(ids("amount__between" -> "15,35") == Seq(2L, 3L))
    assert(ids("tag__nsne" -> "alpha") == Seq(2L, 3L, 4L, 5L))
    // arity mismatch is an IllegalArgumentException (CLI `error: ...`),
    // not a raw MatchError stack trace
    intercept[IllegalArgumentException] { ids("amount__between" -> "15") }
  }

  test("F3/F4 limit + sort desc") {
    val got = QueryCompiler.apply(df,
      Seq("_sort" -> "-amount", "_limit" -> "2")).select("id").as[Long].collect().toSeq
    assert(got == Seq(5L, 4L))
  }

  test("F5 projection with exclusion, repeated _fields accumulate") {
    val inc = QueryCompiler.apply(df, Seq("_fields" -> "id", "_fields" -> "tag"))
    assert(inc.columns.toSeq == Seq("id", "tag"))
    val exc = QueryCompiler.apply(df, Seq("_fields" -> "-tag,-country"))
    assert(exc.columns.toSeq == Seq("id", "amount"))
  }

  test("[EXT] _group/_agg DSL") {
    val got = QueryCompiler.apply(df, Seq(
      "_group" -> "country", "_agg" -> "count:*,sum:amount", "_sort" -> "country"))
    assert(got.columns.toSeq == Seq("country", "count_all", "sum_amount"))
    assert(rows(got) == Seq(Seq("DE", 1L, 20.0), Seq("FR", 1L, 40.0), Seq("US", 3L, 90.0)))
  }

  test("typed literals resolve nested dotted paths") {
    val nested = df.selectExpr("id", "struct(country as code, amount as amt) as geo")
    val got = QueryCompiler.apply(nested,
      Seq("geo.code" -> "US", "geo.amt__gte" -> "30", "_sort" -> "id"))
    assert(got.select("id").as[Long].collect().toSeq == Seq(3L, 5L))
  }

  test("§2.5 new transformer built-ins: filter, dates, hashing, coalesce") {
    import graft.functions.Transformers
    import graft.spec.TransformStage
    val t = Seq((1L, "  a   b  ", "2024-03-15 10:30:00", null.asInstanceOf[String]),
      (2L, "xy", "2024-07-01 00:00:00", "z"))
      .toDF("id", "txt", "when_s", "alt")
      .withColumn("when_ts", $"when_s".cast("timestamp"))
    val out = Transformers.apply(t, Seq(
      TransformStage("filter", Seq("id >= 1")),
      TransformStage("normalize_ws", Seq("txt")),
      TransformStage("date_trunc", Seq("when_ts", "month", "mon")),
      TransformStage("extract", Seq("when_ts", "year", "yr")),
      TransformStage("hash64", Seq("txt", "h")),
      TransformStage("coalesce_fields", Seq("best", "alt", "txt")),
      TransformStage("mask", Seq("when_s"))))
    val r1 = out.filter($"id" === 1L).head()
    assert(r1.getAs[String]("txt") == "a b")
    assert(r1.getAs[java.sql.Timestamp]("mon").toString.startsWith("2024-03-01"))
    assert(r1.getAs[Any]("yr").toString == "2024")
    assert(r1.getAs[String]("best") == "a b") // alt null -> txt
    assert(r1.getAs[String]("when_s") == "***")
    assert(out.filter($"id" === 2L).head().getAs[String]("best") == "z")
  }

  test("§2.5 corpus-cleaning transformers: redact, strip_html, dedup_lines") {
    import graft.functions.Transformers
    import graft.spec.TransformStage
    val t = Seq((1L,
      "mail me at a.b+c@ex-ample.org or visit https://x.io/p?q=1 " +
        "call +1 (415) 555-0199 <b>bold</b>  text\nline\nline\nother"))
      .toDF("id", "txt")
    val out = Transformers.apply(t, Seq(
      TransformStage("redact_email", Seq("txt")),
      TransformStage("redact_url", Seq("txt")),
      TransformStage("redact_phone", Seq("txt")),
      TransformStage("dedup_lines", Seq("txt"))))
    val s = out.head().getAs[String]("txt")
    assert(s.contains("<EMAIL>") && !s.contains("@"))
    assert(s.contains("<URL>") && !s.contains("https://"))
    assert(s.contains("<PHONE>") && !s.contains("555"))
    assert(s.linesIterator.count(_ == "line") == 1)
    // digit tables / ISO dates / timestamps survive phone redaction
    val keep = Transformers.apply(
      Seq((1L, "revenue 10 20 30 40 50 on 2024-01-01 at 12:30:45 v1.2.3 " +
        "but 415-555-0199 goes")).toDF("id", "txt"),
      Seq(TransformStage("redact_phone", Seq("txt")))
    ).head().getAs[String]("txt")
    assert(keep.contains("10 20 30 40 50") && keep.contains("2024-01-01"))
    assert(keep.contains("<PHONE>") && !keep.contains("415-555-0199"))
    val html = Transformers.apply(
      Seq((1L, "<p>Hello <b>world</b></p>")).toDF("id", "txt"),
      Seq(TransformStage("strip_html", Seq("txt"))))
    assert(html.head().getAs[String]("txt").trim == "Hello world")
  }

  test("[EXT] _agg percentiles and approx count-distinct") {
    val got = QueryCompiler.apply(df, Seq(
      "_group" -> "country", "_agg" -> "p50:amount,approx_countd:tag",
      "_sort" -> "country"))
    assert(got.columns.toSeq ==
      Seq("country", "p50_amount", "approx_countd_tag"))
    assert(got.filter($"country" === "US")
      .select("p50_amount").as[Double].head() == 30.0)
  }

  test("§2.5 hash_split: deterministic, exhaustive, roughly weighted") {
    import graft.functions.Transformers
    import graft.spec.TransformStage
    val d = spark.range(2000).toDF("id")
    val stage = TransformStage.parseChain(
      "hash_split:id;split;train:0.9;val:0.05;test:0.05")
    val once = Transformers.apply(d, stage)
    val counts = once.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 2000)
    assert(counts("train") > 1600 && counts("train") < 1990) // ~90%
    // deterministic: same assignment on re-run
    assert(Transformers.apply(d, stage).collect().toSeq ==
      once.collect().toSeq)
  }

  test("§2.5 corpus stages are CLI-reachable through the transform chain") {
    import graft.functions.Transformers
    import graft.spec.TransformStage
    val d = Seq((1L, "alpha beta gamma delta", "src0"),
                (2L, "epsilon a@b.io zeta", "src1")).toDF("doc_id", "text", "source")
    val pii = Transformers.apply(d, TransformStage.parseChain("pii_stats:text"))
    assert(pii.filter($"doc_id" === 2L).select("n_emails").as[Long].head() == 1L)
    val chunks = Transformers.apply(d,
      TransformStage.parseChain("chunk:doc_id;text;3;1"))
    assert(chunks.columns.toSeq ==
      Seq("doc_id", "chunk_id", "chunk_text", "n_tokens"))
    assert(chunks.filter($"doc_id" === 1L).count() == 2)
    val ranked = Transformers.apply(d,
      TransformStage.parseChain("shuffle_rank:doc_id"))
    assert(ranked.select("shuffle_rank").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    val mixed = Transformers.apply(d, TransformStage.parseChain(
      "mix_sample:doc_id;source;default=1.0;src0:3.0"))
    assert(mixed.filter($"doc_id" === 1L).count() == 3)
    assert(mixed.filter($"doc_id" === 2L).count() == 1)
    val lm = Transformers.apply(d,
      TransformStage.parseChain("lm_score:doc_id;text"))
    assert(lm.columns.toSeq ==
      Seq("doc_id", "n_toks", "cross_entropy", "perplexity"))
    assert(lm.count() == 2 && lm.filter($"cross_entropy".isNull).count() == 0)
    val dup = Transformers.apply(
      Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text"),
      TransformStage.parseChain("dup_spans:doc_id;text;3"))
    assert(dup.select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 0L, 3L), (2L, 0L, 3L)))
    // gopher_filter adds the verdict; gopher_keep applies it (doc 1 has
    // 4 words < minWords 4? use minWords 3: doc 1 passes words but has
    // no stopwords -> dropped; both stages dispatch through the chain)
    val gf = Transformers.apply(d,
      TransformStage.parseChain("gopher_filter:text;3"))
    assert(gf.columns.contains("gopher_keep") && gf.count() == 2)
    val gk = Transformers.apply(d, TransformStage.parseChain("gopher_keep:text;3"))
    assert(gk.columns.toSeq == d.columns.toSeq)
    assert(gk.count() == 0) // no stopwords in either toy doc
    // encode / dsir stages dispatch through the chain
    val docs = Seq((1L, "a b a", "t"), (2L, "c d", "r")).toDF("doc_id", "text", "src")
    val enc = Transformers.apply(docs,
      TransformStage.parseChain("encode:doc_id;text;2"))
    assert(enc.columns.toSeq == Seq("doc_id", "pos", "token_id"))
    // vocab=2 keeps a(cnt 2) and b (tie with c,d broken token-asc);
    // doc2's c and d are both OOV
    assert(enc.count() == 5 && enc.filter($"token_id" === 0).count() == 2)
    val ds = Transformers.apply(docs,
      TransformStage.parseChain("dsir_score:src;t;2"))
    assert(ds.columns.toSeq == Seq("doc_id", "text", "src", "n_feats", "logw"))
    assert(ds.count() == 2)
    val sel = Transformers.apply(docs,
      TransformStage.parseChain("dsir_select:1;src;t;2"))
    assert(sel.count() == 1 && sel.columns.contains("key"))
    // r5 stages dispatch through the chain
    val skew = Seq.tabulate(40)(i => (i.toLong, if (i < 36) "big" else "rare"))
      .toDF("doc_id", "source")
    val temp = Transformers.apply(skew,
      TransformStage.parseChain("temperature_sample:doc_id;source;0.3"))
    assert(temp.columns.contains("copy"))
    assert(temp.filter($"source" === "rare").count() > 4) // upsampled
    val emb = Seq((1L, Array(1f, -2f, 3f))).toDF("vec_id", "embedding")
    val qz = Transformers.apply(emb, TransformStage.parseChain("quantize"))
    assert(qz.columns.toSeq == Seq("vec_id", "scale", "codes"))
    val dq = Transformers.apply(qz, TransformStage.parseChain("dequantize"))
    assert(dq.columns.contains("embedding"))
    val dups = Seq((1L, "the quick brown fox jumps over the lazy dog", 1L),
      (2L, "the quick brown fox jumps over the lazy dog", 9L))
      .toDF("doc_id", "text", "score")
    val best = Transformers.apply(dups,
      TransformStage.parseChain("dedup_keep_best:score"))
    assert(best.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val cont = Transformers.apply(dups,
      TransformStage.parseChain("containment_pairs"))
    assert(cont.columns.toSeq == Seq("id_a", "id_b", "containment"))
    assert(cont.count() == 1)
  }

  test("[EXT] r6 stages dispatch through the chain") {
    import graft.functions.Transformers
    import graft.spec.TransformStage
    val urls = Seq((1L, "https://sub.example.co.uk/p?x=1"),
      (2L, "http://spam.example.com/"), (3L, "https://spam.example.com/2"))
      .toDF("doc_id", "url")
    val parts = Transformers.apply(urls, TransformStage.parseChain("url_parts:url"))
    assert(parts.columns.toSeq == Seq("doc_id", "url", "host", "domain"))
    assert(parts.filter($"doc_id" === 1L).select("domain")
      .as[String].head() == "example.co.uk")
    val blocked = Transformers.apply(parts,
      TransformStage.parseChain("block_domains:domain;example.co.uk+other.net"))
    assert(blocked.count() == 2)
    val capped = Transformers.apply(parts,
      TransformStage.parseChain("cap_domain:domain;doc_id;1;4"))
    assert(capped.filter($"domain" === "example.com").count() == 1)
    val docs = Seq(
      (1L, "Intro para.\n\nShared boilerplate here.\n\nBody one."),
      (2L, "shared   BOILERPLATE here.\n\nBody two."))
      .toDF("doc_id", "text")
    val para = Transformers.apply(docs,
      TransformStage.parseChain("dedup_paragraphs_global:text;doc_id"))
    assert(para.filter($"doc_id" === 2L).select("n_dropped")
      .as[Long].head() == 1L)
    val sr = Transformers.apply(docs, TransformStage.parseChain("script_ratios"))
    assert(sr.columns.contains("latin_ratio"))
    val long = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"))
      .toDF("doc_id", "text")
    val fps = Transformers.apply(long, TransformStage.parseChain("winnow:doc_id;text;4;3"))
    assert(fps.columns.toSeq == Seq("id", "fp") && fps.count() > 0)
    val wp = Transformers.apply(long,
      TransformStage.parseChain("winnow_pairs:doc_id;text;4;3;1"))
    assert(wp.count() == 1)
    val hits = Transformers.apply(long, TransformStage.parseChain("bm25:quick fox;1"))
    assert(hits.columns.contains("score") && hits.count() == 1)
    val tmp = tempDir("bloomstage")
    val bf = graft.ext.BloomDedup.train(docs, "text", expectedItems = 100L)
    graft.ext.BloomDedup.writeFilter(spark, bf, s"$tmp/f.bloom")
    val probeDup = Transformers.apply(docs,
      TransformStage.parseChain(s"bloom_probe:$tmp/f.bloom;text;dup"))
    assert(probeDup.count() == 2) // trained on these exact texts
    val fresh = Seq((9L, "a genuinely unseen document body"))
      .toDF("doc_id", "text")
    val probeNew = Transformers.apply(fresh,
      TransformStage.parseChain(s"bloom_probe:$tmp/f.bloom;text;new"))
    assert(probeNew.count() == 1)
    // profiling + event + sampling stages
    val nums = (0 until 16).map(_.toDouble).toDF("v")
    val h = Transformers.apply(nums, TransformStage.parseChain("histogram:v;4"))
    assert(h.count() == 4)
    val ev = Seq((1L, 10L, "view", 0L, 1.0), (2L, 10L, "click", 5L, 2.0))
      .toDF("event_id", "user_id", "event_type", "sec", "value")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_seconds($"sec")).drop("sec")
    val ro = Transformers.apply(ev, TransformStage.parseChain("rolling:3600"))
    assert(ro.columns.contains("n_window") && ro.count() == 2)
    val fu = Transformers.apply(ev, TransformStage.parseChain("funnel:view+click"))
    assert(fu.columns.toSeq == Seq("n_s1", "n_s2") && fu.count() == 1)
    val wdf = (1 to 50).map(i => (i.toLong, i.toLong)).toDF("doc_id", "w")
    val ws = Transformers.apply(wdf,
      TransformStage.parseChain("weighted_sample:w;doc_id;5"))
    assert(ws.count() == 5)
    val so = Transformers.apply(
      Seq(("s1", "Common para."), ("s2", "common  para.")).toDF("source", "text"),
      TransformStage.parseChain("source_overlap"))
    assert(so.count() == 1)
  }

  test("[EXT] _agg duplicate/multi percentile requests share one buffer") {
    val t = Seq(("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 5.0))
      .toDF("k", "amount")
    val out = QueryCompiler.apply(t, Seq(
      "_group" -> "k",
      "_agg" -> "p50:amount,p90:amount,p50:amount,count:*",
      "_sort" -> "k"))
    assert(out.columns.toSeq ==
      Seq("k", "p50_amount", "p90_amount", "p50_amount", "count_all"))
    val a = out.filter($"k" === "a").head()
    assert(a.getDouble(1) == 20.0 && a.getDouble(3) == 20.0)
    // exactly one percentile aggregate in the plan
    val plan = out.queryExecution.optimizedPlan.toString
    assert("percentile\\(".r.findAllIn(plan).size == 1, plan)
  }

  test("F7 _flat=1 flattens nested structs in the query output") {
    val nested = df.selectExpr("id", "struct(country as code, amount as amt) as geo")
    val flat = QueryCompiler.apply(nested, Seq("_flat" -> "1", "_sort" -> "id"))
    assert(flat.columns.toSeq == Seq("id", "geo_code", "geo_amt"))
    assert(flat.count() == 5)
  }

  test("DatasetRef parse + %TODAY%") {
    assert(DatasetRef.parse("mongo/standards/regions") ==
      DatasetRef("mongo", "standards", "regions"))
    assert(DatasetRef.parse("parquet/a/b/c/t") == DatasetRef("parquet", "a/b/c", "t"))
    assert(DatasetRef.parse("es/idx") == DatasetRef("es", "", "idx"))
    val today = DatasetRef.parse("mongo/ns/snap_%TODAY%")
    assert(today.name == s"snap_${DatasetRef.today()}")
  }
}
