package graft.functions

import graft.spec.TransformStage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Named transformer registry (SURVEY §2.5; reference resolves names in
  * its server-side `smurfs` module — MORPHER_MODULE, etl_cli/base.py:85,
  * syntax `name:args`, etl_cli/base.py:87-94).
  *
  * A transformer is `Seq[String] => (DataFrame => DataFrame)`: args are
  * bound at plan time, the resulting stage is a pure relational
  * transform. All built-ins compile to Catalyst expressions (codegen'd,
  * no UDF/serialization cost); users register custom stages with
  * [[register]].
  */
object Transformers {

  type Stage = DataFrame => DataFrame
  type Factory = Seq[String] => Stage

  private val registry = scala.collection.concurrent.TrieMap[String, Factory](
    // field surgery
    "drop"   -> (args => df => df.drop(args.toIndexedSeq: _*)),
    "keep"   -> (args => df => df.select(args.map(col).toIndexedSeq: _*)),
    "rename" -> (args => df => { // rename:old;new
      val Seq(from, to) = args.take(2)
      df.withColumnRenamed(from, to)
    }),
    "cast"   -> (args => df => { // cast:field;type
      val Seq(f, t) = args.take(2)
      df.withColumn(f, col(f).cast(t))
    }),
    "set"    -> (args => df => { // set:field;literal
      val Seq(f, v) = args.take(2)
      df.withColumn(f, lit(v))
    }),
    "set_expr" -> (args => df => { // set_expr:field;sql-expression
      val Seq(f, e) = args.take(2)
      df.withColumn(f, expr(e))
    }),
    // strings
    "upper"  -> (args => df => df.withColumn(args.head, upper(col(args.head)))),
    "lower"  -> (args => df => df.withColumn(args.head, lower(col(args.head)))),
    "trim"   -> (args => df => df.withColumn(args.head, trim(col(args.head)))),
    "concat" -> (args => df => { // concat:out;sep;f1;f2...
      val out +: sep +: fields = args: @unchecked
      df.withColumn(out, concat_ws(sep, fields.map(col).toIndexedSeq: _*))
    }),
    "urlify" -> (args => df => // reference's name slugging (etl_cli/base.py:556-557 intent)
      df.withColumn(args.head,
        regexp_replace(lower(trim(col(args.head))), "[^a-z0-9]+", "_"))),
    // structure
    "flatten" -> (_ => StructUtils.flatten _),
    "explode_field" -> (args => df => df.withColumn(args.head, explode(col(args.head)))),
    "json_extract" -> (args => df => { // json_extract:src;path;out
      val Seq(src, path, out) = args.take(3)
      df.withColumn(out, get_json_object(col(src), path))
    }),
    // rows
    "distinct" -> (_ => df => df.dropDuplicates()),
    "sample"   -> (args => df => df.sample(args.head.toDouble, args.lift(1).map(_.toLong).getOrElse(42L))),
    // stamping (W10 counterpart)
    "timestamp" -> (args => df =>
      df.withColumn(args.headOption.getOrElse("_etl_ts"), current_timestamp())),
    // rows / predicates
    "filter"  -> (args => df => df.filter(expr(args.head))), // filter:sql-predicate
    "limit"   -> (args => df => df.limit(args.head.toInt)),
    // dates
    "date_trunc" -> (args => df => { // date_trunc:field;unit;out
      val Seq(f, unit, out) = args.take(3)
      df.withColumn(out, date_trunc(unit, col(f)))
    }),
    "extract" -> (args => df => { // extract:field;part;out  (year/month/dow/hour…)
      val Seq(f, part, out) = args.take(3)
      df.withColumn(out, expr(s"extract($part FROM `$f`)"))
    }),
    // strings & hashing
    "normalize_ws" -> (args => df => // collapse runs of whitespace, trim
      df.withColumn(args.head, regexp_replace(trim(col(args.head)), "\\s+", " "))),
    "hash64" -> (args => df => { // hash64:field;out
      val Seq(f, out) = args.take(2)
      df.withColumn(out, xxhash64(col(f)))
    }),
    "split_field" -> (args => df => { // split_field:field;regex;out
      val Seq(f, re, out) = args.take(3)
      df.withColumn(out, split(col(f), re))
    }),
    "coalesce_fields" -> (args => df => { // coalesce_fields:out;f1;f2...
      val out +: fields = args: @unchecked
      df.withColumn(out, coalesce(fields.map(col).toIndexedSeq: _*))
    }),
    "mask" -> (args => df => // mask:field — constant-length redaction
      df.withColumn(args.head, lit("***"))),
    // corpus cleaning (C4/RefinedWeb-style web-text prep; all pure
    // regexp_replace/array built-ins — codegen'd, scan-speed)
    "redact_email" -> (args => df => // redact_email:field[;token]
      df.withColumn(args.head, regexp_replace(col(args.head),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        args.lift(1).getOrElse("<EMAIL>")))),
    "redact_url" -> (args => df => // redact_url:field[;token]
      df.withColumn(args.head, regexp_replace(col(args.head),
        "(?i)\\bhttps?://[^\\s<>\"]+", args.lift(1).getOrElse("<URL>")))),
    "redact_phone" -> (args => df => // redact_phone:field[;token]
      // Heuristic: requires a phone-shaped anchor (+country, (area), or
      // dash/dot-separated groups) so digit runs in tables/dates/ids
      // aren't gutted; ISO dates are explicitly excluded.
      df.withColumn(args.head, regexp_replace(col(args.head),
        "\\+\\d[\\d\\s().-]{6,}\\d" +                      // +1 415 555 0199
          "|\\(\\d{2,4}\\)[\\s.-]?\\d[\\d\\s.-]{4,}\\d" +  // (415) 555-0199
          "|(?<!\\d)(?!\\d{4}-\\d{2}-\\d{2}(?![\\d-]))\\d{2,4}([.-]\\d{2,4}){2,}", // 415-555-0199, not 2024-01-01
        args.lift(1).getOrElse("<PHONE>")))),
    "strip_html" -> (args => df => // strip_html:field — drop tags, unescape basics
      df.withColumn(args.head,
        regexp_replace(regexp_replace(col(args.head), "<[^>]*>", " "),
          "\\s+", " "))),
    "dedup_lines" -> (args => df => // dedup_lines:field — drop repeated lines, keep order
      df.withColumn(args.head, array_join(array_distinct(
        split(col(args.head), "\\n")), "\n"))),
    // dedup_lines_global:text;id — CORPUS-level first-occurrence line
    // dedup (CCNet/RefinedWeb paragraph pass); reassembles (id, text)
    // plus n_lines/n_dropped, other columns are dropped
    "dedup_lines_global" -> (args => df =>
      graft.ext.TextDedup.dedupLines(df,
        textCol = args.headOption.getOrElse("text"),
        idCol = args.lift(1).getOrElse("doc_id"))),
    // hash_split:key;out[;method];train:0.9;val:0.05;test:0.05 —
    // deterministic train/val/test assignment by key hash: stable across
    // runs and cluster sizes (no RNG, no shuffle), the standard corpus
    // split op. `method` is `xxhash64` (default — fastest, one codegen'd
    // hash) or `md5` (the key is stringified and the first 8 hex digits
    // of its md5 become the bucket — bit-reproducible in any engine with
    // md5, e.g. the DuckDB oracle).
    "hash_split" -> (args => df => {
      val (key, out) = (args.head, args(1))
      val rest = args.drop(2)
      val (method, splitArgs) =
        if (rest.headOption.exists(a => !a.contains(":"))) (rest.head, rest.tail)
        else ("xxhash64", rest)
      val splits = splitArgs.map { a =>
        val Array(n, w) = a.split(":", 2)
        n -> w.toDouble
      }
      df.withColumn(out, hashSplitColumn(col(key), method, splits))
    }),
    // split_leakfree:id;text;out[;method][;index=path];train:0.9;... —
    // hash_split keyed by the NEAR-DUP cluster representative instead
    // of the row id, so near-duplicates never straddle train/eval
    // (ext.CorpusOps.leakSafeSplits; minhash+LSH defaults n=3, t=0.8).
    // `index=path` reuses a persisted signature index (write_index)
    // instead of re-deriving signatures from text.
    "split_leakfree" -> (args => df => {
      val Seq(id, text, out) = args.take(3)
      val (idxArgs, rest0) = args.drop(3).partition(_.startsWith("index="))
      val indexPath = idxArgs.headOption.map(_.stripPrefix("index="))
      val (method, splitArgs) =
        if (rest0.headOption.exists(a => !a.contains(":"))) (rest0.head, rest0.tail)
        else ("md5", rest0)
      val splits = splitArgs.map { a =>
        val Array(n, w) = a.split(":", 2)
        n -> w.toDouble
      }
      graft.ext.CorpusOps.leakSafeSplits(df, id, text, splits,
        method = method, outCol = out, indexPath = indexPath)
    }),
    // expect:condition[;max_violations] — dbt-test-style data-quality
    // gate: count the rows where `condition` is FALSE (SQL CHECK
    // semantics — NULL passes) and fail the job loudly when the count
    // exceeds the allowance. Eager by design: a quality gate that
    // doesn't run until someone reads the output is not a gate.
    "expect" -> (args => df => {
      require(args.nonEmpty, "expect needs condition[;max_violations]")
      val cond = expr(args.head)
      val maxV = args.lift(1).map(_.toLong).getOrElse(0L)
      val bad = df.filter(!coalesce(cond, lit(true)))
      val n = bad.count()
      if (n > maxV)
        throw new IllegalStateException(
          s"expect failed: $n row(s) violate '${args.head}'" +
            s" (allowed $maxV); sample: " +
            bad.take(3).map(_.toString).mkString(" | "))
      df
    }),
    // pca_project:vec;k[;out] — fit a k-component PCA on the flowing
    // frame's embedding column and append the projection (fit+apply
    // in one stage; for a frozen model across jobs, fit once via the
    // API and reuse — ext.Pca.Model is a plain case class)
    "pca_project" -> (args => df => {
      require(args.length >= 2, "pca_project needs vec;k[;out]")
      val m = graft.ext.Pca.fit(df, args.head, args(1).toInt)
      graft.ext.Pca.transform(df, args.head, m,
        args.lift(2).getOrElse("pca"))
    }),
    // cluster_assign:k[;iters;id;vec] — train k-means on the flowing
    // frame's embedding column and label every row with centroid_id +
    // centroid_sim (ext.Clustering; deterministic seeds, pure-map
    // assignment). The clustering primitive the curation stages below
    // build on.
    "cluster_assign" -> (args => df => {
      require(args.nonEmpty, "cluster_assign needs k[;iters;id;vec]")
      graft.ext.Clustering.kmeansAssign(df.sparkSession, df,
        args.head.toInt, args.lift(1).map(_.toInt).getOrElse(3),
        args.lift(2).getOrElse("vec_id"),
        args.lift(3).getOrElse("embedding"))._1
    }),
    // semdedup:k;tau[;keep;id;vec] — SemDeDup verdict: k-means
    // cluster-blocked cosine pairs at tau → duplicate groups → one
    // kept copy per group (keep = far|near|min_id)
    "semdedup" -> (args => df => {
      require(args.length >= 2, "semdedup needs k;tau[;keep;id;vec]")
      val (assigned, _) = graft.ext.Clustering.kmeansAssign(
        df.sparkSession, df, args.head.toInt,
        id = args.lift(3).getOrElse("vec_id"),
        vec = args.lift(4).getOrElse("embedding"))
      graft.ext.Clustering.semDedup(assigned, args(1).toDouble,
        args.lift(2).getOrElse("far"),
        args.lift(3).getOrElse("vec_id"),
        args.lift(4).getOrElse("embedding"))
    }),
    // cluster_sample:k;nPer[;mode;id;vec] — per-cluster stratified
    // sample: nPer rows per k-means cluster, mode = prototype|diverse
    "cluster_sample" -> (args => df => {
      require(args.length >= 2, "cluster_sample needs k;nPer[;mode;id;vec]")
      val (assigned, _) = graft.ext.Clustering.kmeansAssign(
        df.sparkSession, df, args.head.toInt,
        id = args.lift(3).getOrElse("vec_id"),
        vec = args.lift(4).getOrElse("embedding"))
      graft.ext.Clustering.clusterSample(assigned, args(1).toInt,
        args.lift(2).getOrElse("prototype"),
        args.lift(3).getOrElse("vec_id"))
    }),
    // rollup_state:keys;agg[;agg…] — fold the flowing batch to its
    // MERGEABLE partial-aggregate state rows (ext.RollupOps; agg =
    // count | count:f | sum:f | min:f | max:f | avg:f). States from
    // different batches/jobs combine associatively — the incremental
    // rollup-maintenance primitive.
    "rollup_state" -> (args => df => {
      require(args.length >= 2, "rollup_state needs keys;agg[;agg…]")
      graft.ext.RollupOps.summarize(df,
        args.head.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        graft.ext.RollupOps.parse(args.tail))
    }),
    // rollup_finish:keys;agg[;agg…] — derive the user-facing rollup
    // from a (possibly merged) state table
    "rollup_finish" -> (args => df => {
      require(args.length >= 2, "rollup_finish needs keys;agg[;agg…]")
      graft.ext.RollupOps.finish(df,
        args.head.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        graft.ext.RollupOps.parse(args.tail))
    }),
    // pairs_from_index:indexPath[;threshold] — exact-verified near-dup
    // pairs (id_a, id_b, jaccard) mined from a persisted signature
    // index (write_index) with zero text re-processing; replaces the
    // flowing rows like other reshaping stages
    "pairs_from_index" -> (args => df => {
      require(args.nonEmpty, "pairs_from_index needs indexPath[;threshold]")
      graft.ext.TextDedup.minhashPairsFromIndex(df.sparkSession, args.head,
        args.lift(1).map(_.toDouble).getOrElse(0.8))
    }),
    // corpus-assembly stages (CLI surface for ext.CorpusOps — the same
    // operators the q_* contract queries run)
    "pii_stats" -> (args => df => // pii_stats[:field]
      graft.ext.CorpusOps.piiStats(df, args.headOption.getOrElse("text"))),
    "chunk" -> (args => df => { // chunk:id;text;size[;overlap]
      val Seq(id, text, size) = args.take(3)
      graft.ext.CorpusOps.chunkTokens(df, id, text, size.toInt,
        args.lift(3).map(_.toInt).getOrElse(0))
    }),
    "shuffle_rank" -> (args => df => // shuffle_rank:key[;seed[;out]]
      graft.ext.CorpusOps.shuffleRank(df, args.head,
        args.lift(1).getOrElse("graft"),
        args.lift(2).getOrElse("shuffle_rank"))),
    // mix_sample:key;source[;default=w];src0:2.5;src1:0.25…
    "mix_sample" -> (args => df => {
      val Seq(key, source) = args.take(2)
      val rest = args.drop(2)
      val (dflt, wParts) = rest.partition(_.startsWith("default="))
      val weights = wParts.map { a =>
        val Array(s, w) = a.split(":", 2)
        s -> w.toDouble
      }.toMap
      graft.ext.CorpusOps.mixtureSample(df, key, source, weights,
        dflt.headOption.map(_.stripPrefix("default=").toDouble).getOrElse(1.0))
    }),
    // lm_score:id;text[;addK[;minCount]] — self-scored (train == the
    // incoming frame); cross-corpus training stays a library call
    "lm_score" -> (args => df => {
      val Seq(id, text) = args.take(2)
      graft.ext.TextAnalysis.lmScore(df, df, id, text,
        args.lift(2).map(_.toDouble).getOrElse(0.5),
        args.lift(3).map(_.toLong).getOrElse(1L))
    }),
    "dup_spans" -> (args => df => { // dup_spans:id;text[;n[;minOccur]]
      val Seq(id, text) = args.take(2)
      graft.ext.TextDedup.dupSpans(df, id, text,
        args.lift(2).map(_.toInt).getOrElse(10),
        args.lift(3).map(_.toLong).getOrElse(2L))
    }),
    // gopher_filter[:field[;minWords]] — verdict columns; gopher_keep
    // applies the filter and drops the verdict columns
    "gopher_filter" -> (args => df =>
      graft.ext.TextAnalysis.gopherFilter(df,
        args.headOption.getOrElse("text"),
        minWords = args.lift(1).map(_.toLong).getOrElse(50L))),
    "gopher_keep" -> (args => df => {
      val t = args.headOption.getOrElse("text")
      graft.ext.TextAnalysis.gopherFilter(df, t,
        minWords = args.lift(1).map(_.toLong).getOrElse(50L))
        .filter(col("gopher_keep")).drop("gopher_reason", "gopher_keep")
    }),
    // c4_clean:text;minWordsPerLine;minLinesPerDoc — C4 line-level
    // cleaning (terminal punct + min words + boilerplate phrases)
    "c4_clean" -> (args => df =>
      graft.ext.TextAnalysis.c4Clean(df,
        textCol = args.headOption.getOrElse("text"),
        minWordsPerLine = args.lift(1).map(_.toInt).getOrElse(3),
        minLinesPerDoc = args.lift(2).map(_.toInt).getOrElse(1))
        .drop("n_lines", "n_dropped")),
    // report[:id[;text]] — collapse the corpus to its one-row health
    // report (totals, dup rate, vocabulary)
    "report" -> (args => df =>
      graft.ext.TextAnalysis.corpusReport(df,
        idCol = args.headOption.getOrElse("doc_id"),
        textCol = args.lift(1).getOrElse("text"))),
    // compression_ratio:field[;out] — deflate-size/utf8-size quality
    // signal (repetitive text ≪ prose)
    "compression_ratio" -> (args => df =>
      df.withColumn(args.lift(1).getOrElse("compression_ratio"),
        graft.ext.TextAnalysis.compressionRatio(
          col(args.headOption.getOrElse("text"))))),
    // encode:id;text;vocabSize — frequency-ranked token ids, one row
    // per (doc, pos), OOV → 0
    "encode" -> (args => df =>
      graft.ext.TextAnalysis.encodeTokens(df,
        idCol = args.headOption.getOrElse("doc_id"),
        textCol = args.lift(1).getOrElse("text"),
        vocabSize = args.lift(2).map(_.toInt).getOrElse(65536))),
    // dsir_score:targetField;targetValue[;hexDigits[;id[;text]]] —
    // attach DSIR logw/n_feats scored against the rows where
    // targetField == targetValue (docs with no features score null)
    "dsir_score" -> (args => df => {
      require(args.length >= 2,
        "dsir_score needs targetField;targetValue[;hexDigits[;id[;text]]]")
      val id = args.lift(3).getOrElse("doc_id")
      df.join(graft.ext.Dsir.scoreWithin(df,
          col(args.head) === args(1), id,
          args.lift(4).getOrElse("text"),
          hexDigits = args.lift(2).map(_.toInt).getOrElse(3)),
        Seq(id), "left")
    }),
    // dedup_incr:indexPath[;id[;text[;n[;threshold]]]] — drop rows
    // near-duplicating a persisted signature index (or an earlier row
    // of this batch); the survivors' signatures can then extend the
    // index via write_index
    "dedup_incr" -> (args => df => {
      require(args.nonEmpty, "dedup_incr needs indexPath[;id[;text[;n[;threshold]]]]")
      val (sh, bk) = graft.ext.TextDedup.readSignatureIndex(df.sparkSession, args.head)
      graft.ext.TextDedup.dedupIncrement(df, sh, bk,
        args.lift(1).getOrElse("doc_id"), args.lift(2).getOrElse("text"),
        n = args.lift(3).map(_.toInt).getOrElse(3),
        threshold = args.lift(4).map(_.toDouble).getOrElse(0.8))
    }),
    // write_index:indexPath[;id[;text[;n[;append]]]] — persist (or
    // extend) the signature index for dedup_incr; passes rows through
    "write_index" -> (args => df => {
      require(args.nonEmpty, "write_index needs indexPath[;id[;text[;n[;append]]]]")
      graft.ext.TextDedup.writeSignatureIndex(df,
        args.lift(1).getOrElse("doc_id"), args.lift(2).getOrElse("text"),
        args.head, n = args.lift(3).map(_.toInt).getOrElse(3),
        append = args.lift(4).contains("append"))
      df
    }),
    // ann_index:path;ivf|pq[;k|m[;iters[;id[;vec]]]] — train an ANN
    // index over the flowing vectors and persist it (IVF: centroids +
    // hive-partitioned inverted lists; PQ: codebooks + coded corpus);
    // rows pass through, like write_index
    "ann_index" -> (args => df => {
      require(args.length >= 2, "ann_index needs path;ivf|pq[;k|m[;iters[;id[;vec]]]]")
      val (path, kind) = (args.head, args(1))
      val iters = args.lift(3).map(_.toInt).getOrElse(2)
      val id = args.lift(4).getOrElse("vec_id")
      val vec = args.lift(5).getOrElse("embedding")
      kind match {
        case "ivf" =>
          val k = args.lift(2).map(_.toInt).getOrElse(16)
          val cents = graft.ext.IvfIndex.train(df.sparkSession, df, k, iters, id, vec)
          graft.ext.IvfIndex.writeIndex(df, cents, path, vec)
        case "pq" =>
          val m = args.lift(2).map(_.toInt).getOrElse(8)
          val books = graft.ext.PqIndex.train(df.sparkSession, df, m,
            iters = iters, id = id, vec = vec)
          graft.ext.PqIndex.writeIndex(df, books, path, id, vec)
        case other => throw new IllegalArgumentException(
          s"ann_index: kind must be ivf or pq, got $other")
      }
      df
    }),
    // ann_search:path;ivf|pq;k[;nprobe[;qId[;qVec]]] — the flowing rows
    // are the QUERIES (qId, qVec); search the persisted index
    "ann_search" -> (args => df => {
      require(args.length >= 3, "ann_search needs path;ivf|pq;k[;nprobe[;qId[;qVec]]]")
      val (path, kind, k) = (args.head, args(1), args(2).toInt)
      val qId = args.lift(4).getOrElse("q_id")
      val qVec = args.lift(5).getOrElse("q_vec")
      kind match {
        case "ivf" =>
          val (index, cents) = graft.ext.IvfIndex.readIndex(df.sparkSession, path)
          graft.ext.IvfIndex.search(df, index, cents, k,
            nprobe = args.lift(3).map(_.toInt).getOrElse(4), qId = qId, qVec = qVec)
        case "pq" =>
          val (coded, books) = graft.ext.PqIndex.readIndex(df.sparkSession, path)
          graft.ext.PqIndex.search(df, coded, books, k, qId = qId, qVec = qVec)
        case other => throw new IllegalArgumentException(
          s"ann_search: kind must be ivf or pq, got $other")
      }
    }),
    // nfc_normalize[:field] — Unicode canonical composition in place
    "nfc_normalize" -> (args => df => {
      val f = args.headOption.getOrElse("text")
      df.withColumn(f, graft.functions.TextExprs.nfcNormalize(col(f)))
    }),
    // temperature_sample:key;source;alpha[;maxMult] — α-flattened
    // source re-balancing (rare sources up, dominant down; adds `copy`)
    "temperature_sample" -> (args => df => {
      require(args.length >= 3, "temperature_sample needs key;source;alpha[;maxMult]")
      graft.ext.CorpusOps.temperatureSample(df, args.head, args(1),
        alpha = args(2).toDouble,
        maxMultiplier = args.lift(3).map(_.toDouble).getOrElse(100.0))
    }),
    // quantize:id;vec — int8-quantize an embedding column to
    // (id, scale, codes); dequantize reverses it
    "quantize" -> (args => df =>
      graft.ext.Similarity.quantizeEmbeddings(df,
        args.headOption.getOrElse("vec_id"), args.lift(1).getOrElse("embedding"))),
    "dequantize" -> (args => df =>
      graft.ext.Similarity.dequantizeEmbeddings(df,
        codesCol = args.headOption.getOrElse("codes"),
        scaleCol = args.lift(1).getOrElse("scale"),
        outCol = args.lift(2).getOrElse("embedding"))),
    // dedup_keep_best:score[;id[;text[;n[;threshold]]]] — near-dup
    // clusters keep the highest-`score` row (ties → smallest id)
    "dedup_keep_best" -> (args => df => {
      require(args.nonEmpty, "dedup_keep_best needs score[;id[;text[;n[;threshold]]]]")
      graft.ext.TextDedup.dedupCorpusKeepBest(df,
        args.lift(1).getOrElse("doc_id"), args.lift(2).getOrElse("text"),
        scoreCol = args.head,
        n = args.lift(3).map(_.toInt).getOrElse(3),
        threshold = args.lift(4).map(_.toDouble).getOrElse(0.8))
    }),
    // containment_pairs[:id[;text[;n[;threshold]]]] — near-subset
    // (excerpt/boilerplate-padded) pair report
    "containment_pairs" -> (args => df =>
      graft.ext.TextDedup.containmentPairs(df,
        args.headOption.getOrElse("doc_id"), args.lift(1).getOrElse("text"),
        n = args.lift(2).map(_.toInt).getOrElse(3),
        threshold = args.lift(3).map(_.toDouble).getOrElse(0.8))),
    // ── r6 corpus stages ──
    // url_parts:urlField[;hostOut[;domainOut]] — host + registered
    // domain as pure codegen'd projections
    "url_parts" -> (args => df =>
      graft.ext.UrlOps.withUrlParts(df, args.headOption.getOrElse("url"),
        args.lift(1).getOrElse("host"), args.lift(2).getOrElse("domain"))),
    // block_domains:domainField;d1+d2+... — drop blocklisted
    // registered domains ('+'-separated — ',' splits chain stages —
    // folds to an IN predicate)
    "block_domains" -> (args => df => {
      require(args.length >= 2, "block_domains needs domainField;d1+d2+...")
      graft.ext.UrlOps.filterBlockedDomains(df, args.head,
        args(1).split("\\+").map(_.trim).filter(_.nonEmpty).toSeq)
    }),
    // cap_domain:domainField;orderField;cap[;salt] — keep at most
    // `cap` rows per domain (salted two-phase window, skew-proof)
    "cap_domain" -> (args => df => {
      require(args.length >= 3, "cap_domain needs domain;order;cap[;salt]")
      graft.ext.UrlOps.capPerDomain(df, args.head, args(1), args(2).toInt,
        salt = args.lift(3).map(_.toInt).getOrElse(16))
    }),
    // dedup_paragraphs_global:text;id — corpus-level first-occurrence
    // paragraph dedup (the \n\n analog of dedup_lines_global)
    "dedup_paragraphs_global" -> (args => df =>
      graft.ext.TextDedup.dedupParagraphs(df,
        textCol = args.headOption.getOrElse("text"),
        idCol = args.lift(1).getOrElse("doc_id"))),
    // script_ratios[:text[;id]] — per-doc Unicode script-mix fractions
    "script_ratios" -> (args => df =>
      graft.ext.TextAnalysis.scriptRatios(df,
        args.headOption.getOrElse("text"), args.lift(1).getOrElse("doc_id"))),
    // winnow:id;text[;k[;w]] — winnowing fingerprints (id, pos, fp)
    "winnow" -> (args => df =>
      graft.ext.TextDedup.winnowFingerprints(df,
        args.headOption.getOrElse("doc_id"), args.lift(1).getOrElse("text"),
        k = args.lift(2).map(_.toInt).getOrElse(8),
        w = args.lift(3).map(_.toInt).getOrElse(10))),
    // winnow_pairs:id;text[;k[;w[;minShared[;maxDf]]]] — overlap pairs
    "winnow_pairs" -> (args => df =>
      graft.ext.TextDedup.winnowPairs(df,
        args.headOption.getOrElse("doc_id"), args.lift(1).getOrElse("text"),
        k = args.lift(2).map(_.toInt).getOrElse(8),
        w = args.lift(3).map(_.toInt).getOrElse(10),
        minShared = args.lift(4).map(_.toInt).getOrElse(2),
        maxDf = args.lift(5).map(_.toInt).getOrElse(50))),
    // winnow_index:path[;id[;text[;k[;w[;append]]]]] — persist the
    // fingerprint stream as a parquet index (rows pass through, like
    // write_index)
    "winnow_index" -> (args => df => {
      require(args.nonEmpty, "winnow_index needs path[;id[;text[;k[;w[;append]]]]]")
      graft.ext.TextDedup.writeFingerprintIndex(df,
        args.lift(1).getOrElse("doc_id"), args.lift(2).getOrElse("text"),
        args.head,
        k = args.lift(3).map(_.toInt).getOrElse(8),
        w = args.lift(4).map(_.toInt).getOrElse(10),
        append = args.lift(5).contains("append"))
      df
    }),
    // winnow_pairs_from_index:path[;minShared[;maxDf]] — overlap pairs
    // mined from a persisted fingerprint index, zero text re-processing
    "winnow_pairs_from_index" -> (args => df => {
      require(args.nonEmpty, "winnow_pairs_from_index needs path[;minShared[;maxDf]]")
      graft.ext.TextDedup.winnowPairsFromIndex(df.sparkSession, args.head,
        minShared = args.lift(1).map(_.toInt).getOrElse(2),
        maxDf = args.lift(2).map(_.toInt).getOrElse(50))
    }),
    // bm25:query;k[;id[;text]] — sparse-retrieval top-k for one query
    // (the query string itself must not contain ';')
    "bm25" -> (args => df => {
      require(args.nonEmpty, "bm25 needs query[;k[;id[;text]]]")
      graft.ext.TextAnalysis.bm25TopK(df, args.head,
        topK = args.lift(1).map(_.toInt).getOrElse(25),
        idCol = args.lift(2).getOrElse("doc_id"),
        textCol = args.lift(3).getOrElse("text"))
    }),
    // bloom_probe:path[;text[;dup|new]] — probe a persisted corpus
    // membership filter map-side: `dup` keeps possible-dups (candidates
    // for a confirm join), `new` keeps rows the filter PROVES unseen
    "bloom_probe" -> (args => df => {
      require(args.nonEmpty, "bloom_probe needs path[;text[;dup|new]]")
      val bf = graft.ext.BloomDedup.readFilter(df.sparkSession, args.head)
      val textCol = args.lift(1).getOrElse("text")
      args.lift(2).getOrElse("dup") match {
        case "dup" => graft.ext.BloomDedup.candidates(df, bf, textCol)
        case "new" => graft.ext.BloomDedup.novel(df, bf, textCol)
        case other => throw new IllegalArgumentException(
          s"bloom_probe: mode must be dup or new, got $other")
      }
    }),
    // histogram:col;bins — equi-width distribution profile
    "histogram" -> (args => df => {
      require(args.length >= 2, "histogram needs col;bins")
      graft.ext.Profile.histogram(df, args.head, args(1).toInt)
    }),
    // rolling:windowSec[;key[;ts[;val]]] — trailing range-frame
    // count/sum per key
    "rolling" -> (args => df => {
      require(args.nonEmpty, "rolling needs windowSec[;key[;ts[;val]]]")
      graft.ext.EventWindows.rolling(df, args.head.toLong,
        keyCol = args.lift(1).getOrElse("user_id"),
        tsCol = args.lift(2).getOrElse("ts"),
        valCol = args.lift(3).getOrElse("value"))
    }),
    // funnel:step1+step2+...[;key[;type[;ts]]] — ordered conversion
    // funnel stage counts (one row, n_s1..n_sK); '+' separates steps
    // because ',' splits chain stages and ';' splits args
    "funnel" -> (args => df => {
      require(args.nonEmpty, "funnel needs step1+step2+...")
      graft.ext.EventWindows.funnel(df,
        args.head.split("\\+").map(_.trim).filter(_.nonEmpty).toSeq,
        userCol = args.lift(1).getOrElse("user_id"),
        typeCol = args.lift(2).getOrElse("event_type"),
        tsCol = args.lift(3).getOrElse("ts"))
    }),
    // weighted_sample:weight;key;k[;seed] — Efraimidis–Spirtakis
    // k-sample without replacement ∝ weight
    "weighted_sample" -> (args => df => {
      require(args.length >= 3, "weighted_sample needs weight;key;k[;seed]")
      graft.ext.Sampling.weightedSampleK(df, args.head, args(1),
        args(2).toInt, seed = args.lift(3).getOrElse("graft"))
    }),
    // source_overlap[:text[;source]] — shared-paragraph counts per
    // source pair
    "source_overlap" -> (args => df =>
      graft.ext.TextAnalysis.sourceOverlap(df,
        args.headOption.getOrElse("text"), args.lift(1).getOrElse("source"))),
    // dsir_select:k;targetField;targetValue[;hexDigits[;seed]] — keep
    // only the Gumbel-top-k docs by DSIR importance (deterministic)
    "dsir_select" -> (args => df => {
      require(args.length >= 3,
        "dsir_select needs k;targetField;targetValue[;hexDigits[;seed]]")
      val picked = graft.ext.Dsir.resampleWithin(df,
        col(args(1)) === args(2), k = args.head.toInt,
        hexDigits = args.lift(3).map(_.toInt).getOrElse(3),
        seed = args.lift(4).getOrElse("graft"))
      df.join(picked.select(col("doc_id"), col("logw"), col("key")), Seq("doc_id"))
    }),
    // bpe_train:numMerges[;text[;minPair]] — learn a BPE merge list on
    // this frame and REPLACE it with the (merge_rank, lhs, rhs) table
    "bpe_train" -> (args => df => {
      require(args.nonEmpty, "bpe_train needs numMerges[;text[;minPair]]")
      val merges = graft.ext.Bpe.train(df,
        args.lift(1).getOrElse("text"), args.head.toInt,
        minPairCount = args.lift(2).map(_.toLong).getOrElse(2L))
      val s = df.sparkSession
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
    }),
    // bpe_encode:merges[;text] — segment with a fixed merge list
    // ("t+h,th+e,...") and replace the frame with its (token, cnt)
    // BPE vocabulary
    "bpe_encode" -> (args => df => {
      require(args.nonEmpty, "bpe_encode needs merges(t+h,th+e,...)[;text]")
      val merges = args.head.split(",").toSeq.filter(_.nonEmpty).map { m =>
        val p = m.split("\\+")
        require(p.length == 2, s"bpe_encode: bad merge '$m' (want lhs+rhs)")
        (p(0), p(1))
      }
      graft.ext.Bpe.encode(df, args.lift(1).getOrElse("text"), merges)
    }),
    // byte_bpe_train:numMerges[;text[;minPair]] — learn a BYTE-LEVEL
    // (GPT-2-family) merge list; replaces the frame with the
    // (merge_rank, lhs, rhs) table in the mapped byte alphabet
    "byte_bpe_train" -> (args => df => {
      require(args.nonEmpty, "byte_bpe_train needs numMerges[;text[;minPair]]")
      val merges = graft.ext.ByteBpe.train(df,
        args.lift(1).getOrElse("text"), args.head.toInt,
        minPairCount = args.lift(2).map(_.toLong).getOrElse(2L))
      val s = df.sparkSession
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
    }),
    // byte_bpe_encode:merges[;text] — byte-level segment with a fixed
    // merge list ("Ġ+t,Ġt+a,..." in the mapped alphabet); replaces
    // the frame with its (token, cnt) vocabulary. Zero OOV on any
    // UTF-8 by construction.
    "byte_bpe_encode" -> (args => df => {
      require(args.nonEmpty, "byte_bpe_encode needs merges(a+b,...)[;text]")
      val merges = args.head.split(",").toSeq.filter(_.nonEmpty).map { m =>
        val p = m.split("\\+")
        require(p.length == 2, s"byte_bpe_encode: bad merge '$m' (want lhs+rhs)")
        (p(0), p(1))
      }
      graft.ext.ByteBpe.encode(df, args.lift(1).getOrElse("text"), merges)
    }),
    // unigram_train:vocabSize[;text;emIters] — fit a unigram-LM
    // (SentencePiece-family) tokenizer on the frame; replaces it with
    // the (piece, prob) inventory
    "unigram_train" -> (args => df => {
      require(args.nonEmpty, "unigram_train needs vocabSize[;text;emIters]")
      val m = graft.ext.UnigramLm.train(df, args.lift(1).getOrElse("text"),
        args.head.toInt, args.lift(2).map(_.toInt).getOrElse(2))
      val s = df.sparkSession
      import s.implicits._
      m.pieces.toSeq.sortBy { case (p, pr) => (-pr, p) }
        .toDF("piece", "prob")
    }),
    // unigram_encode:vocabSize[;text;emIters] — train on the frame and
    // replace it with the induced (token, cnt) corpus vocabulary
    "unigram_encode" -> (args => df => {
      require(args.nonEmpty, "unigram_encode needs vocabSize[;text;emIters]")
      val m = graft.ext.UnigramLm.train(df, args.lift(1).getOrElse("text"),
        args.head.toInt, args.lift(2).map(_.toInt).getOrElse(2))
      graft.ext.UnigramLm.encode(df, args.lift(1).getOrElse("text"), m)
    }),
    // ppl_buckets[:addK[;minCount[;buckets[;id[;text]]]]] — CCNet
    // head/middle/tail perplexity bucketing, self-trained on the frame
    "ppl_buckets" -> (args => df =>
      graft.ext.TextAnalysis.perplexityBuckets(df, df,
        args.lift(3).getOrElse("doc_id"), args.lift(4).getOrElse("text"),
        addK = args.headOption.map(_.toDouble).getOrElse(0.5),
        minCount = args.lift(1).map(_.toLong).getOrElse(1L),
        buckets = args.lift(2).map(_.toInt).getOrElse(3))),
    // pii_redact[:text] — replace email/URL/IP/phone matches in place
    "pii_redact" -> (args => df =>
      graft.ext.CorpusOps.piiRedact(df, args.headOption.getOrElse("text"))),
    // url_canon:urlField[;out] — add the canonical URL dedup key
    "url_canon" -> (args => df => {
      require(args.nonEmpty, "url_canon needs urlField[;out]")
      graft.ext.UrlOps.withCanonicalUrl(df, args.head,
        args.lift(1).getOrElse("canon_url"))
    }),
    // blocklist:w1,w2,...[;text] — C4-style bad-word counts + verdict
    "blocklist" -> (args => df => {
      require(args.nonEmpty, "blocklist needs w1,w2,...[;text]")
      graft.ext.TextAnalysis.blocklistFilter(df,
        args.head.split(",").toSeq.filter(_.nonEmpty),
        args.lift(1).getOrElse("text"))
    }),
    // bm25_index:path[;id[;text]] — persist the BM25 inverted index
    // for the flowing corpus; rows pass through, like ann_index
    "bm25_index" -> (args => df => {
      require(args.nonEmpty, "bm25_index needs path[;id[;text]]")
      graft.ext.Retrieval.writeBm25Index(df, args.head,
        args.lift(1).getOrElse("doc_id"), args.lift(2).getOrElse("text"))
      df
    }),
    // bm25_search:path;query[;topK] — REPLACE the frame with the
    // (doc_id, score) top-k of the persisted index for the query
    "bm25_search" -> (args => df => {
      require(args.length >= 2, "bm25_search needs path;query[;topK]")
      graft.ext.Retrieval.searchBm25Index(df.sparkSession, args.head,
        args(1), args.lift(2).map(_.toInt).getOrElse(25))
    }),
    // sentences[:id[;text]] — REPLACE the frame with its
    // (id, sent_idx, sentence) segmentation
    "sentences" -> (args => df =>
      graft.ext.TextAnalysis.sentences(df,
        args.headOption.getOrElse("doc_id"), args.lift(1).getOrElse("text"))),
    // langid_nb[:langCol[;id[;text]]] — char-3-gram NB self-trained on
    // the frame's own labels; REPLACE with (id, pred_lang, logp)
    "langid_nb" -> (args => df =>
      graft.ext.LangId.trainAndScore(df, df,
        idCol = args.lift(1).getOrElse("doc_id"),
        langCol = args.headOption.getOrElse("lang"),
        textCol = args.lift(2).getOrElse("text")))
  )

  /** The deterministic hash→split assignment shared by the
    * `hash_split` transformer stage and the library split operators
    * ([[graft.ext.CorpusOps.splitByGroup]]): bucket the key's hash and
    * cut by cumulative weight. `xxhash64` is the fast path (one
    * codegen'd hash, 10⁶ buckets); `md5` stringifies the key and takes
    * the first 8 md5 hex digits as a 2³² bucket — bit-reproducible in
    * any engine with md5 (the DuckDB oracle compares the hex string
    * against precomputed cumulative-weight hex cuts). Pure projection:
    * no RNG, no shuffle, stable under repartitioning and reruns.
    */
  def hashSplitColumn(key: Column, method: String,
                      splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty, "hash_split needs name:weight parts")
    val totalW = splits.map(_._2).sum
    val (h, buckets) = method match {
      case "xxhash64" => (pmod(xxhash64(key), lit(1000000L)), 1000000L)
      case "md5" => (conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long"), 4294967296L) // 16^8 buckets
      case other => throw new IllegalArgumentException(
        s"hash_split: unknown method $other (xxhash64|md5)")
    }
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => (c / totalW * buckets).toLong)
    splits.zip(cuts).reverse.foldLeft(lit(splits.last._1)) {
      case (acc, ((name, _), cut)) => when(h < cut, name).otherwise(acc)
    }
  }

  /** BARRIER stages: applying one runs Spark jobs over its input frame
    * (an eager count, a model fit, a pair mining, an index write) and
    * the frame it returns references that input again, so a lazily
    * planned chain would evaluate everything upstream of the barrier
    * twice. [[apply]] passes the input of each barrier through its
    * `barrier` hook; the Runner's hook materializes it as a durable
    * stage, so the chain upstream runs once. Eager stages whose result
    * no longer reads the input (`bpe_train`, `unigram_train` and
    * `byte_bpe_train` return a new table; `containment_pairs`,
    * `winnow_pairs` and `langid_nb` read back their own persisted
    * intermediate) gain nothing from a stage and are not listed.
    * `TransformersSpec` checks the list against what each stage does.
    */
  private val barriers: Set[String] = Set(
    "split_leakfree", "expect", "pca_project", "cluster_assign", "semdedup",
    "cluster_sample", "lm_score", "dedup_incr", "write_index", "ann_index",
    "dedup_keep_best", "winnow_index", "temperature_sample", "unigram_encode",
    "bm25_index")

  def register(name: String, f: Factory): Unit = registry.update(name, f)
  def names: Seq[String] = registry.keys.toSeq.sorted
  def isBarrier(name: String): Boolean = barriers.contains(name)

  def resolve(stage: TransformStage): Stage =
    registry.getOrElse(stage.name,
      throw new IllegalArgumentException(
        s"unknown transformer: ${stage.name} (known: ${names.mkString(",")})"))(stage.args)

  /** Apply `stages` in order. The input of every barrier stage
    * ([[isBarrier]]) first passes through `barrier`: the library,
    * preview, `--dry` and oracle paths keep `identity` (one lazy plan,
    * barriers evaluate their input where they need it), and
    * [[graft.engine.Runner]] materializes it next to the job's target.
    */
  def apply(df: DataFrame, stages: Seq[TransformStage],
            barrier: DataFrame => DataFrame = identity): DataFrame =
    stages.foldLeft(df) { (d0, s) =>
      val d = if (isBarrier(s.name)) barrier(d0) else d0
      // arg destructuring happens inside the stage closure — surface a
      // usable error instead of a bare MatchError on wrong arity
      try resolve(s)(d) catch {
        case _: MatchError | _: IndexOutOfBoundsException | _: NoSuchElementException =>
          throw new IllegalArgumentException(
            s"transformer ${s.name}: wrong arguments ${s.args.mkString("[", ";", "]")} " +
              "(syntax: name:arg1;arg2)")
      }
    }
}
