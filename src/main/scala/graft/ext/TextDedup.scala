package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text deduplication operators ([EXT], SURVEY §2.10): exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash. Everything compiles to built-in
  * Catalyst expressions (array/lambda higher-order functions + xxhash64)
  * — no UDFs, so the whole pipeline stays inside whole-stage codegen and
  * the only shuffles are the ones the algorithms fundamentally need.
  *
  * Scale design (the point of each variant):
  *   - exact: one hash-aggregate shuffle on the text hash. O(n).
  *   - jaccardPairs: exact pairwise similarity via an inverted-index
  *     self-join on shingles — never materializes the O(n²) pair space,
  *     only pairs sharing ≥1 shingle. High-document-frequency shingles
  *     are the skew risk at 100 TB; `maxShingleDf` drops them (standard
  *     stop-shingle trick) before the join.
  *   - minhashPairs: LSH banding → candidate pairs → exact verify on the
  *     (small) candidate set. This is the 100 TB path: cost is
  *     O(n · bands) + candidates, not O(pairs-sharing-a-shingle).
  *   - simhashPairs: 64-bit fingerprints; pigeonhole-blocked join on
  *     16-bit chunks finds all pairs within hamming distance ≤ 3 without
  *     a cross join.
  */
object TextDedup {

  /** `\W+`-tokenize (lowercased) — mirrors DuckDB
    * `string_split_regex(lower(trim(x)), '\W+')` so oracle SQL can
    * reproduce results exactly. Single-pass custom expression; the HOF
    * formulation ([[tokensHof]], kept for the equivalence spec) pays
    * an interpreted filter lambda per token.
    */
  def tokens(text: Column): Column =
    graft.functions.TextExprs.wordTokens(text)

  /** The built-in-HOF definition of [[tokens]] — the equivalence spec
    * asserts the two agree on every row.
    */
  def tokensHof(text: Column): Column =
    filter(split(lower(trim(text)), "\\W+"), t => t =!= "")

  /** Distinct word n-gram shingles as an array column (empty if the doc
    * has fewer than n tokens).
    */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    array_distinct(
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array()))
  }

  /** Exact dedup: keep the first row (smallest `idCol`) per normalized
    * text. One shuffle, map-side combinable.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lower(trim(col(textCol)))).orderBy(col(idCol).asc)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1).drop("__rn__")
  }

  /** Corpus-level exact LINE dedup (the CCNet/RefinedWeb paragraph
    * pass): every distinct non-empty line keeps only its FIRST
    * occurrence across the whole corpus — first = smallest (id, line
    * position) — and every other copy is cut; documents are then
    * reassembled from their surviving lines in original order.
    * Documents left with no lines drop out. Emits (id, text,
    * n_lines kept, n_dropped).
    *
    * Shape at 100 TB: posexplode lines, then ONE shuffle keyed by the
    * line's xxhash64 — an 8-byte key instead of the line text — for
    * both the per-line argmin (map-side combinable min(struct)) and
    * the winner probe; Catalyst reuses the same Exchange for both
    * sides of the self-join. Reassembly is one groupBy(id) whose
    * collect_list state is bounded by document size. Hash collisions
    * could wrongly cut a line (~lines²/2⁶⁴ odds — negligible below
    * ~10⁹ distinct lines); the DuckDB oracle groups raw line text and
    * doubles as the collision canary at test scale.
    *
    * REQUIRES an orderable, unique `idCol` (the "first occurrence"
    * tie-break).
    */
  def dedupLines(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ex = df
      .select(col(idCol).as("__id__"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos__", "__line__")))
      .filter(trim(col("__line__")) =!= "")
      .withColumn("__h__", xxhash64(col("__line__")))
    val winners = ex.groupBy("__h__")
      .agg(min(struct(col("__id__"), col("__pos__"))).as("__w__"))
    ex.join(winners, "__h__")
      .withColumn("__keep__",
        col("__w__.__id__") === col("__id__") &&
          col("__w__.__pos__") === col("__pos__"))
      .groupBy("__id__")
      .agg(
        sort_array(collect_list(
          when(col("__keep__"),
            struct(col("__pos__"), col("__line__"))))).as("__ls__"),
        count(lit(1)).as("__tot__"))
      .filter(size(col("__ls__")) > 0)
      .select(col("__id__").as(idCol),
        array_join(transform(col("__ls__"), _.getField("__line__")), "\n")
          .as(textCol),
        size(col("__ls__")).cast("long").as("n_lines"),
        (col("__tot__") - size(col("__ls__"))).cast("long").as("n_dropped"))
  }

  /** Corpus-level exact PARAGRAPH dedup: [[dedupLines]] at paragraph
    * granularity (split on blank lines, `\n{2,}`) with a NORMALIZED
    * key — paragraphs match after lowercasing and collapsing internal
    * whitespace, so a re-wrapped or re-indented copy of a boilerplate
    * paragraph (cookie banners, license blocks, nav footers) still
    * dedups while the surviving copy keeps its original text. First
    * occurrence = smallest (id, position). Documents are reassembled
    * from surviving paragraphs with `\n\n`; empty ones drop out.
    * Emits (id, text, n_paras kept, n_dropped).
    *
    * Same 100 TB shape as [[dedupLines]]: one shuffle keyed by the
    * 8-byte xxhash64 of the normalized paragraph, Exchange reused for
    * the winner probe, reassembly state bounded by document size.
    */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("__para__"), "\\s+", " ")))
    val ex = df
      .select(col(idCol).as("__id__"),
        posexplode(split(col(textCol), "\n{2,}")).as(Seq("__pos__", "__para__")))
      .filter(trim(col("__para__")) =!= "")
      .withColumn("__h__", xxhash64(norm))
    val winners = ex.groupBy("__h__")
      .agg(min(struct(col("__id__"), col("__pos__"))).as("__w__"))
    ex.join(winners, "__h__")
      .withColumn("__keep__",
        col("__w__.__id__") === col("__id__") &&
          col("__w__.__pos__") === col("__pos__"))
      .groupBy("__id__")
      .agg(
        sort_array(collect_list(
          when(col("__keep__"),
            struct(col("__pos__"), col("__para__"))))).as("__ps__"),
        count(lit(1)).as("__tot__"))
      .filter(size(col("__ps__")) > 0)
      .select(col("__id__").as(idCol),
        array_join(transform(col("__ps__"), _.getField("__para__")), "\n\n")
          .as(textCol),
        size(col("__ps__")).cast("long").as("n_paras"),
        (col("__tot__") - size(col("__ps__"))).cast("long").as("n_dropped"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS algorithm). Characters are normalized
    * (lowercase, all non-word chars stripped — winnowing is
    * whitespace/punctuation-insensitive by design), hashed as char
    * k-grams, and each sliding window of `w` consecutive hashes
    * contributes its MINIMUM hash to the document's fingerprint set.
    * The guarantee: any shared substring of length ≥ k + w − 1
    * produces at least one shared fingerprint, while only a ~2/(w+1)
    * fraction of positions is kept — a contract MinHash cannot make
    * (MinHash bounds only the EXPECTED overlap).
    *
    * The k-gram hash is the first 15 hex digits of md5 (< 2⁶⁰, so it
    * fits a signed 64-bit int in every engine) — chosen over xxhash64
    * so the DuckDB oracle replicates it bit-for-bit. The whole
    * pipeline is ONE fused expression ([[graft.functions.TextExprs.WinnowFps]],
    * a CodegenFallback evaluated interpreted once per DOCUMENT —
    * normalize, hash, deque sliding-min and dedupe in a single
    * cache-local Java loop); per-row state is O(doc length) and the
    * plan has no shuffle, no sort, and no per-gram rows.
    *
    * Emits one (id, fp) row per DISTINCT selected hash per doc. Docs
    * shorter than k + w − 1 normalized chars have no complete window
    * and drop out.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 10): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    // One fused per-row expression (TextExprs.WinnowFps): normalize →
    // per-gram md5-prefix hash → deque sliding min → distinct set, all
    // inside a single interpreted call per DOCUMENT. Zero shuffles,
    // zero per-gram rows. This replaced two earlier formulations, both
    // measured slower and both law-pinned equivalent in ExtSpec:
    //  - nested array HOFs: CollapseProject inlines a referenced
    //    projection INTO the lambda body, re-evaluating the upstream
    //    expression once per element — O(n²) regex+md5 per doc (337 s
    //    for 500 tiny docs). Same trap documented at LangId.
    //  - posexplode + RANGE window min + collect_set: each gram hashes
    //    once under codegen, but pays a per-gram interpreted
    //    Md5Prefix64 call, a UTF8String substring+binary-cast
    //    allocation, and a gram-count per-partition sort for the
    //    window — 327 s of the 6M-doc winnow phase (r8,
    //    SCALEBENCH3_r08.json),
    //    vs one cache-local Java loop per doc here.
    // Docs shorter than k + w − 1 normalized chars yield an empty
    // array and drop out at the explode, as before.
    //
    // The doc-row repartition spreads the per-document digest work
    // over every core regardless of input split count (a 6M-doc
    // corpus scans as ~17 parquet splits — without this, half the
    // cores idle through the expensive leg) and keeps downstream
    // cached/aggregated partitions uniformly sized (the un-spread
    // scan OOMed winnowPairs' cache+agg stage at 6M docs; the r8
    // exploded plan carried the same Exchange for the same reason).
    df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        explode(graft.functions.TextExprs.winnowFps(col(textCol), k, w))
          .as("fp"))
  }

  /** Plagiarism-style overlap pairs over winnowing fingerprints:
    * (id_a, id_b, n_shared) for every pair sharing ≥ `minShared`
    * selected hashes, id_a < id_b.
    *
    * Shape at 100 TB: an inverted-index self-join on the fingerprint —
    * never all-pairs — with a document-frequency cap (`maxDf`) that
    * drops ubiquitous-boilerplate fingerprints BEFORE the join, so the
    * candidate count is bounded by Σ min(df, maxDf)² over fingerprints
    * rather than the quadratic hot-key blowup. The cap is exact and
    * deterministic (a plain count), so the oracle replicates it.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 10, minShared: Int = 2,
                  maxDf: Int = 50): DataFrame = {
    // Shape (r9): df-count agg → broadcast ANTI-join against the HOT
    // fingerprints → bounded postings lists → fused pair expansion →
    // pair count. ZERO sorts; the only wide shuffles are two hash
    // aggs over the fingerprint stream. This replaced an
    // fps⋈rare⋈rare sorted-self-join formulation whose three
    // 280M-row SMJ sort legs measured 216 s of a 277 s total at 6M
    // docs (the fused-fingerprint profile, r9); this pipeline runs
    // the same phase in a fraction of that with identical output.
    //
    // Why each piece is safe at 100 TB:
    //  - `hot` (df > maxDf) has AT MOST |fps| / maxDf rows by
    //    construction, and only (fp) columns — broadcastable for any
    //    realistic cap; a guard falls back to a shuffled anti-join
    //    if a degenerate cap makes it big.
    //  - the postings list per surviving fp is ≤ maxDf ids, so the
    //    collect buffer AND the C(n,2) expansion are both capped —
    //    the unbounded-postings hazard that killed the naive
    //    collect_list formulation (and the nested-lambda expansion
    //    that resisted codegen) does not exist here: the expansion is
    //    ONE chunky interpreted OrderedPairs call per posting list.
    //
    // The fingerprint stream feeds two plan legs (df count + posting
    // build), so it is persisted: computed once, read back columnar.
    // The caller (or harness) owns the cache lifecycle — Bench and
    // Verify clear the cache manager after every query.
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    winnowPairsFromFps(fps, minShared, maxDf)
  }

  /** The mining half of [[winnowPairs]] over an already-available
    * (id, fp) fingerprint stream — shared by the from-text path and
    * the persisted-index path ([[winnowPairsFromIndex]]).
    */
  private def winnowPairsFromFps(fps: DataFrame, minShared: Int,
                                 maxDf: Int): DataFrame = {
    // hot is persisted so the sizing count and the anti-join share ONE
    // df-agg pass over the fingerprint stream (it is tiny — bounded by
    // |fps|/maxDf — so the cache cost is nil)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("__df__"))
      .filter(col("__df__") > maxDf).select("fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // |hot| ≤ |fps|/maxDf; broadcast unless degenerate (tiny cap on a
    // huge corpus), where a shuffled anti-join keeps the same result
    val hotSmall = hot.count() <= 4000000L
    val pruned =
      if (hotSmall) fps.join(broadcast(hot), Seq("fp"), "left_anti")
      else fps.join(hot, Seq("fp"), "left_anti")
    pruned.groupBy("fp")
      .agg(collect_list(col("id")).as("__ids__"))
      .select(explode(graft.functions.VectorExprs.orderedPairs(col("__ids__")))
        .as("__p__"))
      .groupBy(col("__p__.a").as("id_a"), col("__p__.b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("id_a", "id_b", "n_shared")
  }

  /** Persist the winnowing fingerprint stream (id, fp) as a parquet
    * index next to the corpus — the winnow analog of
    * [[writeSignatureIndex]]: the normalize+hash+deque corpus pass is
    * paid once, and every overlap-mining consumer reads the columnar
    * table back instead of re-fingerprinting text.
    */
  def writeFingerprintIndex(df: DataFrame, idCol: String, textCol: String,
                            path: String, k: Int = 8, w: Int = 10,
                            append: Boolean = false): Unit =
    winnowFingerprints(df, idCol, textCol, k, w)
      .write.mode(if (append) "append" else "overwrite").parquet(path)

  /** Mine overlap pairs from a persisted [[writeFingerprintIndex]]
    * directory — identical output to [[winnowPairs]] over the same
    * corpus (law-checked), zero text re-processing.
    */
  def winnowPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, minShared: Int = 2,
                           maxDf: Int = 50): DataFrame = {
    val fps = spark.read.parquet(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    winnowPairsFromFps(fps, minShared, maxDf)
  }

  /** The df-capped per-doc fingerprint-ARRAY view of an (id, fp)
    * index: fps whose INDEX document frequency exceeds `maxDf` are
    * treated as boilerplate and removed, the rest collect into one
    * sorted array per indexed doc. Shared by the batch and streaming
    * increment matchers (the array side of the intersect).
    */
  private[graft] def winnowIndexDocs(indexFps: DataFrame,
                                     maxDf: Int): (DataFrame, DataFrame) = {
    val hot = indexFps.groupBy("fp").agg(count(lit(1)).as("__df__"))
      .filter(col("__df__") > maxDf).select("fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hot.count() // materialize once; tiny (≤ |fps|/maxDf)
    val capped = indexFps.join(broadcast(hot), Seq("fp"), "left_anti")
    (capped,
      capped.groupBy("id").agg(sort_array(collect_list(col("fp"))).as("__fpb__")))
  }

  /** Flag each NEW doc that shares ≥ `minShared` winnowing
    * fingerprints with an INDEXED doc ([[writeFingerprintIndex]]) —
    * the winnow analog of [[incrementMatches]]: overlap/plagiarism
    * detection of arrivals against a fixed corpus. Emits one
    * (id, dup_of, n_shared) row per matching indexed doc. Fingerprints
    * hot in the INDEX (df > maxDf) are boilerplate and count toward
    * nothing, mirroring [[winnowPairs]]'s cap; `n_shared` is the exact
    * intersect of the arrival's fingerprint set with the capped
    * indexed doc's set (one codegen-friendly sorted-merge per
    * candidate pair — both sides are sorted arrays).
    *
    * Shape at 100 TB: the arrival's exploded fingerprints hash-join
    * the capped index on fp — shuffle proportional to the BATCH plus
    * matching postings, never the full corpus.
    */
  def winnowIncrementMatches(newDocs: DataFrame, indexFps: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 8, w: Int = 10, minShared: Int = 2,
                             maxDf: Int = 50): DataFrame = {
    import graft.functions.VectorExprs.sortedIntersectSize
    val (capped, oldDocs) = winnowIndexDocs(indexFps, maxDf)
    val newFps = newDocs.select(col(idCol).as("id"),
        graft.functions.TextExprs.winnowFps(col(textCol), k, w).as("__fpa__"))
      .filter(size(col("__fpa__")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = newFps.select(col("id"), explode(col("__fpa__")).as("fp"))
      .join(capped.select(col("id").as("dup_of"), col("fp")), Seq("fp"))
      .select("id", "dup_of").distinct()
    val out = cand
      .join(newFps, Seq("id"))
      .join(oldDocs.withColumnRenamed("id", "dup_of"), Seq("dup_of"))
      .withColumn("n_shared",
        sortedIntersectSize(col("__fpa__"), col("__fpb__")))
      .filter(col("n_shared") >= minShared)
      .select(col("id"), col("dup_of"), col("n_shared").cast("long").as("n_shared"))
      .localCheckpoint(eager = true)
    newFps.unpersist()
    out
  }

  /** Per-doc sorted shingle-hash arrays: the verified join side for
    * both the exact and the LSH pair finders. 64-bit hashes stand in
    * for the string shingles (same set semantics, collision odds
    * ~n²/2⁶⁵); sorting enables the O(n+m) codegen'd merge intersect.
    */
  private def hashedDocs(df: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.VectorExprs.shingleSortedHashes(
        tokens(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Stop-shingle pruning for the pair miners: shingles whose document
    * frequency exceeds `maxShingleDf` are treated as stopwords —
    * removed from every document's shingle SET before similarity, so
    * both the candidate join and the verified Jaccard/containment run
    * over non-boilerplate shingles only (the similarity definition
    * changes WITH the cap, deliberately: two docs that agree only on a
    * ubiquitous license block should not pair). Docs left with no
    * rare shingle drop out, as with any empty shingle set.
    *
    * At 100 TB this is what bounds the prefix join: without it one
    * boilerplate shingle shared by 10⁶ docs puts 10⁶ postings in every
    * prefix list it reaches (the O(Σ df²) hot-key blowup); with it the
    * join volume is ≤ Σ min(df, cap)². The stop set itself is tiny by
    * construction (≤ corpus-shingle-instances / cap distinct values),
    * so the anti-join broadcasts. Returns a frame with the same
    * (id, sh sorted) shape as [[hashedDocs]], persisted — caller
    * unpersists.
    */
  private def pruneStopShingles(docs: DataFrame, maxShingleDf: Int): DataFrame = {
    val ex = docs.select(col("id"), explode(col("sh")).as("s"))
    val stop = ex.groupBy("s").agg(count(lit(1)).as("__df__"))
      .filter(col("__df__") > maxShingleDf).select("s")
    ex.join(stop, Seq("s"), "left_anti")
      .groupBy("id").agg(sort_array(collect_list(col("s"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Capped-path cache hygiene: the unpruned corpus is only needed to
    * BUILD the pruned frame — eagerly materialize the pruned cache
    * (count() populates it) and release the unpruned one BEFORE the
    * prefix join, so the mine+verify never pins two corpus-scale
    * copies at exactly the boilerplate-heavy scale the cap targets.
    */
  private def prunedThenRelease(docs0: DataFrame, maxShingleDf: Int): DataFrame = {
    val pruned = pruneStopShingles(docs0, maxShingleDf)
    pruned.count()
    docs0.unpersist()
    pruned
  }

  /** Exact verify of candidate (id_a, id_b) pairs against the sorted
    * shingle arrays; emits pairs with Jaccard ≥ threshold.
    */
  private def verifyPairs(cand: DataFrame, docs: DataFrame,
                          threshold: Double): DataFrame = {
    import graft.functions.VectorExprs.sortedIntersectSize
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("c", sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT n-gram Jaccard pairs with similarity ≥ threshold, via prefix
    * filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW'07). Output: (id_a, id_b, jaccard), id_a < id_b.
    *
    * A naive inverted-index self-join costs O(Σ_s df(s)²) — quadratic
    * in document frequency, catastrophic on corpora with shared
    * boilerplate. Prefix filtering is lossless: two sets with
    * J ≥ t must share a shingle within their (|d| − ⌈t·|d|⌉ + 1)-length
    * prefixes under any fixed global order; ordering by ascending df
    * makes those prefixes the rarest shingles, so the candidate join
    * touches only low-frequency posting lists. Candidates are then
    * exact-verified with one merge-intersect per pair.
    *
    * `maxShingleDf` (off by default) adds the stop-shingle guard for
    * boilerplate-heavy corpora — see [[pruneStopShingles]] for the
    * exact semantics and the 100 TB rationale. On the bench corpus the
    * max shingle df is 25, so any cap ≥ that is a no-op there; the
    * capped path is law-checked against a brute-force oracle on
    * planted-boilerplate data in ExtSpec.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   maxShingleDf: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs0 = hashedDocs(df, idCol, textCol, n)
    val docs = if (maxShingleDf == Int.MaxValue) docs0
      else prunedThenRelease(docs0, maxShingleDf)
    val sh = docs.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("dfc"))
    // global order: ascending document frequency, hash as tiebreak
    val w = Window.partitionBy("id").orderBy(col("dfc").asc, col("s").asc)
    val prefix = sh.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("s"))
    val cand = prefix.as("x").join(prefix.as("y"), Seq("s"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // materialize the (small) verified pair set, then release the
    // cached corpus — otherwise every invocation leaks a pinned copy
    val out = verifyPairs(cand, docs, threshold).localCheckpoint(eager = true)
    docs0.unpersist()
    if (docs ne docs0) docs.unpersist()
    out
  }

  /** Near-SUBSET detection: pairs whose max containment
    * max(|A∩B|/|A|, |A∩B|/|B|) = |A∩B| / min(|A|,|B|) clears the
    * threshold — catches boilerplate-padded or excerpted copies whose
    * Jaccard dives below threshold because one side is much larger
    * (containment ≥ Jaccard always). Candidates come from probing each
    * doc's prefix (the Bayardo bound is valid only on the PROBING
    * side, so the prefix joins the FULL posting list, not the other
    * prefix: if C(A→B) ≥ t then ≥ t·|A| of A's shingles are in B, and
    * A's (|A|−⌈t·|A|⌉+1)-prefix must hit one of them); exact
    * merge-intersect verify. Output (id_a, id_b, containment),
    * id_a < id_b. `maxShingleDf` applies the same stop-shingle guard
    * as [[jaccardPairs]] — containment is especially boilerplate-prone
    * (a doc that is MOSTLY license block is contained in every other
    * carrier of that block), so at scale the cap is load-bearing here.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExprs.sortedIntersectSize
    val docs0 = hashedDocs(df, idCol, textCol, n)
    val docs = if (maxShingleDf == Int.MaxValue) docs0
      else prunedThenRelease(docs0, maxShingleDf)
    val sh = docs.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("dfc"))
    val w = Window.partitionBy("id").orderBy(col("dfc").asc, col("s").asc)
    val prefix = sh.join(dfreq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("s"))
    val cand = prefix.as("x")
      .join(sh.select(col("id"), col("s")).as("y"), Seq("s"))
      .filter(col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .distinct()
    val out = cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("c", sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("containment",
        col("c").cast("double") / least(size(col("sh_a")), size(col("sh_b"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 4).as("containment"))
      .localCheckpoint(eager = true)
    docs0.unpersist()
    if (docs ne docs0) docs.unpersist()
    out
  }

  /** k MinHash values from a STAGED base-hash array attribute, as k
    * separate columns. Each string shingle is hashed once (xxhash64);
    * the k "permutations" are odd-multiplier linear maps over Z/2⁶⁴ (a
    * bijective family), so per doc the cost is |shingles| string hashes
    * + k·|shingles| long mul/adds — not k string-hash passes.
    *
    * Returned as separate columns (not one transform-over-sequence) so
    * the base-hash projection is multi-referenced and CollapseProject
    * cannot inline it into a lambda that would re-evaluate it k times.
    */
  /** MinHash signature (array of k) over string shingles: one codegen'd
    * loop over their xxhash64 base hashes (xor+rotate permutation
    * family — bijective and overflow-free; ANSI mode rejects wrapping
    * multiply-add). */
  def minhashSignature(shingleCol: Column, k: Int = 128): Column =
    graft.functions.VectorExprs.minhashSig(
      transform(shingleCol, x => xxhash64(x)), k)

  /** LSH band buckets: (band index, band hash) per doc. Docs sharing a
    * bucket in ANY band become candidates. bands*rows must equal k.
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 128, bands: Int = 32): DataFrame =
    lshBucketsFromHashes(
      df.select(col(idCol).as("id"),
        transform(shingles(col(textCol), n), x => xxhash64(x)).as("sh"))
        .filter(size(col("sh")) > 0), // docs with no shingles can't match
      k, bands)

  /** LSH bands from a prepared (id, sh: array<long>) frame. The sig is
    * staged as its own projection and the band hashes are separate
    * multi-referenced expressions, so each stage evaluates once per row
    * (CollapseProject would inline a single-referenced alias into a
    * lambda, re-evaluating it per iteration — measured ~300× slower).
    */
  def lshBucketsFromHashes(docs: DataFrame, k: Int, bands: Int): DataFrame =
    lshBucketsCarry(docs, k, bands, Nil)

  /** [[lshBucketsFromHashes]] with extra columns carried through the
    * band explode — the streaming path needs the shingle array and the
    * event time to survive to the verify join.
    */
  private[graft] def lshBucketsCarry(docs: DataFrame, k: Int, bands: Int,
                                     carry: Seq[String]): DataFrame = {
    val rows = k / bands
    require(bands * rows == k, s"bands ($bands) must divide k ($k)")
    val bandCols = (0 until bands).map { j =>
      xxhash64(lit(j), array_join(
        transform(slice(col("sig"), j * rows + 1, rows),
          x => x.cast("string")), ","))
    }
    val kept = (Seq("id") ++ carry).map(col)
    docs.select(kept :+
        graft.functions.VectorExprs.minhashSig(col("sh"), k).as("sig"): _*)
      .select(kept :+ posexplode(array(bandCols: _*)): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** MinHash+LSH near-dup pairs, exact-verified: candidates from shared
    * LSH buckets, then true Jaccard per candidate via one codegen'd
    * merge-intersect — no shingle self-join at all. This is the 100 TB
    * path: O(n·bands + candidates).
    *
    * Banding 16×8 targets high thresholds: detection probability
    * 1-(1-j⁸)¹⁶ is ≈1 for j ≥ 0.95, 0.95 at j = 0.8, while random
    * background pairs (this corpus: j ≈ 0.3) collide with p ≈ 10⁻⁴ —
    * candidate volume stays linear instead of quadratic.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   k: Int = 128, bands: Int = 16): DataFrame = {
    // One persisted (id, sorted shingle-hash array) table feeds both
    // the LSH bucketing and the exact-verify joins; otherwise the
    // tokenize/shingle/hash pipeline re-evaluates on every branch.
    val docs = hashedDocs(df, idCol, textCol, n)
    val out = mineFromTables(docs, lshBucketsFromHashes(docs, k, bands), threshold)
    docs.unpersist()
    out
  }

  /** Mine near-dup pairs from a PERSISTED signature index
    * ([[writeSignatureIndex]]) instead of re-deriving signatures from
    * text — the signature-reuse path for pipelines where several
    * minhash consumers (pair mining, incremental dedup, leak-safe
    * splits) share one corpus pass. At the 6M-doc scale stress the
    * signature build is ~1/3 of the full mine cost, so ops after the
    * first read the parquet tables back columnar and skip it entirely.
    */
  def minhashPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, threshold: Double = 0.8): DataFrame = {
    val docs = spark.read.parquet(path + "/shingles")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = mineFromTables(docs, spark.read.parquet(path + "/buckets"), threshold)
    docs.unpersist()
    out
  }

  /** Shared LSH candidate join + exact verify over (id, sh) shingle
    * and (id, band, bucket) tables; returns the materialized pair set.
    */
  private def mineFromTables(docs: DataFrame, buckets: DataFrame,
                             threshold: Double): DataFrame = {
    val cand = buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // materialize the (small) verified pair set, then release the
    // cached corpus — otherwise every invocation leaks a pinned copy
    verifyPairs(cand, docs, threshold).localCheckpoint(eager = true)
  }

  /** Signature tables for INCREMENTAL dedup — the production shape for
    * a corpus that grows in batches: persist these two frames next to
    * the corpus, and each new batch joins against them instead of
    * re-mining old-vs-old pairs. `shingleTable` is (id, sh) with the
    * sorted 64-bit shingle hashes (the exact-verify side);
    * [[bucketTable]] is (id, band, bucket) (the LSH candidate side).
    * Append the same tables computed over each batch's SURVIVORS to
    * keep the index current.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.VectorExprs.shingleSortedHashes(
          tokens(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** LSH bucket table from a persisted [[shingleTable]]. */
  def bucketTable(shingles: DataFrame, k: Int = 128, bands: Int = 16): DataFrame =
    lshBucketsFromHashes(shingles, k, bands)

  /** Persist the two signature tables as one index directory
    * (`path/shingles`, `path/buckets`) — buckets bucketed-by-write on
    * (band, bucket)-friendly layout is unnecessary: the incremental
    * join shuffles only the BATCH side, and parquet min/max stats on
    * `band` prune scans. Append mode extends an existing index with a
    * batch's survivors.
    */
  def writeSignatureIndex(df: DataFrame, idCol: String, textCol: String,
                          path: String, n: Int = 3, k: Int = 128,
                          bands: Int = 16, append: Boolean = false): Unit = {
    val mode = if (append) "append" else "overwrite"
    val sh = shingleTable(df, idCol, textCol, n)
    sh.write.mode(mode).parquet(path + "/shingles")
    bucketTable(sh, k, bands).write.mode(mode).parquet(path + "/buckets")
  }

  /** Load a [[writeSignatureIndex]] directory → (shingles, buckets). */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(path + "/shingles"),
      spark.read.parquet(path + "/buckets"))

  /** Flag each NEW doc that near-duplicates anything already SEEN —
    * an indexed old doc, or an earlier (smaller-id) doc of the same
    * batch (without the in-batch check, two copies arriving together
    * would both pass). Ids must be distinct across old and new.
    * Emits (id, dup_of, jaccard): the smallest matching seen id and
    * the exact similarity to it. Matching is LSH candidates + exact
    * verify, identical to [[minhashPairs]]; docs shorter than one
    * shingle never flag (and never index).
    *
    * Shape at 100 TB: the batch's buckets hash-join the index's bucket
    * table on (band, bucket) — shuffle proportional to the BATCH plus
    * matching index buckets, never the full corpus; exact verify then
    * touches only candidate ids. Old-vs-old pairs are never revisited.
    */
  def incrementMatches(newDocs: DataFrame, oldShingles: DataFrame,
                       oldBuckets: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       k: Int = 128, bands: Int = 16): DataFrame = {
    val nh = hashedDocs(newDocs, idCol, textCol, n)
    val nb = lshBucketsFromHashes(nh, k, bands)
    val candOld = nb.as("x").join(oldBuckets.as("y"), Seq("band", "bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val candNew = nb.as("x").join(nb.as("y"), Seq("band", "bucket"))
      .filter(col("x.id") > col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    val seen = nh.select(col("id"), col("sh")).unionByName(
      oldShingles.select(col("id"), col("sh")))
    val verified = verifyPairs(candOld.unionByName(candNew), seen, threshold)
    // smallest matching seen id wins; struct min orders by id first
    val out = verified.groupBy(col("id_a").as("id"))
      .agg(min(struct(col("id_b"), col("jaccard"))).as("__m__"))
      .select(col("id"), col("__m__.id_b").as("dup_of"),
        col("__m__.jaccard").as("jaccard"))
      .localCheckpoint(eager = true)
    nh.unpersist()
    out
  }

  /** The kept side of [[incrementMatches]]: the new batch minus
    * everything flagged as already seen (anti-join on the id).
    */
  def dedupIncrement(newDocs: DataFrame, oldShingles: DataFrame,
                     oldBuckets: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, threshold: Double = 0.8,
                     k: Int = 128, bands: Int = 16): DataFrame =
    newDocs.join(
      incrementMatches(newDocs, oldShingles, oldBuckets, idCol, textCol,
        n, threshold, k, bands).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** 64-bit SimHash fingerprint of the token multiset: per-bit ±1
    * votes over xxhash64(token), sign → bit. One codegen'd loop. */
  def simhash(text: Column): Column =
    graft.functions.VectorExprs.simhashFp(
      transform(tokens(text), x => xxhash64(x)))

  /** (id, fp) frame of SimHash fingerprints. */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), simhash(col(textCol)).as("fp"))

  /** Connected components over near-dup pairs. Components here are
    * near-dup chains (a~b, b~c ⇒ one group even when a≁c). Small pair
    * sets resolve on the driver (exact union-find, one collect); large
    * ones run distributed star contraction — O(log n) rounds regardless
    * of graph diameter (vs diameter-many for label propagation).
    */
  def components(pairs: DataFrame, driverMaxPairs: Long = 1000000L): DataFrame = {
    // Near-dup pair sets are tiny relative to the corpus (they're the
    // output of banding + exact verify). Below the threshold, a
    // driver-side union-find is exact, one collect, zero shuffle
    // rounds — the same size-based cutover logic as a broadcast join.
    // Above it, fall through to the distributed min-label propagation.
    val cap = math.min(driverMaxPairs, Int.MaxValue - 1L).toInt
    if (pairs.limit(cap + 1).count() <= cap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
      // union by min id ⇒ every root is its component's smallest id,
      // matching the propagation fixpoint exactly
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
      return spark.createDataset(labels).toDF("id", "label")
    }
    componentsStar(pairs)._1
  }

  /** Distributed connected components by alternating large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14):
    *
    *   - large-star(u): every neighbor LARGER than u re-attaches to
    *     m = min(N(u) ∪ {u}) — long chains collapse toward small ids;
    *   - small-star(u): u and its smaller neighbors all attach to the
    *     minimum of the closed neighborhood — stars flatten.
    *
    * Each half-round is one self-symmetrizing groupBy-min + one join —
    * the same shuffle primitives as label propagation — but the round
    * count is O(log n) in the component size instead of O(diameter):
    * a 255-hop chain converges in ~6 rounds, not 255. At fixpoint every
    * non-root points directly at its component's minimum id.
    *
    * Returns (labels: id → smallest id in component, rounds taken).
    * Exposed for the chain-graph round-bound test; callers use
    * [[components]].
    */
  private[graft] def componentsStar(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.DataFrame
    val ids = pairs.select(col("id_a").cast("long").as("id"))
      .union(pairs.select(col("id_b").cast("long").as("id")))
      .distinct().localCheckpoint(true)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // point every edge large→small, then attach each hub and its
      // smaller neighbors to the minimum of the closed neighborhood.
      // (No collect_set: a mega-hub's neighbor list must never have to
      // fit in one aggregation buffer — join + union keeps it flat.)
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      val nbr = dir.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = m.select(col("u"), col("m").as("v")) // hub → its min (< u)
      nbr.union(self).distinct()
    }
    var edges = pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint(true)
    var rounds = 0
    var stable = edges.isEmpty
    while (!stable) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      rounds += 1
      stable = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      edges = next
    }
    // fixpoint edges are (child, component-min); roots label themselves
    val labels = ids.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("label"))
    (labels, rounds)
  }

  /** End-to-end corpus dedup: find near-dup pairs (MinHash+LSH, exact
    * verify), group them into components, keep the smallest id of each
    * component plus every unpaired doc. Returns the deduplicated
    * corpus.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, n, threshold)
    val comps = components(pairs)
    // min-label propagation converges to the component's smallest id,
    // so the keeper of each component is exactly the row id == label
    val losers = comps.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] keeping the BEST row per near-dup cluster — by a
    * caller-chosen score column (descending; ties → smallest id) —
    * instead of the smallest id. The production choice when near-dups
    * differ in quality: keep the longest / cleanest / highest-scored
    * copy. Same pairs → connected-components machinery; the winner
    * select is one window over cluster labels (clusters are tiny — the
    * window partitions by label, never globally).
    */
  def dedupCorpusKeepBest(df: DataFrame, idCol: String, textCol: String,
                          scoreCol: String, n: Int = 3,
                          threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(df, idCol, textCol, n, threshold)
    val comps = components(pairs).withColumnRenamed("id", "__cid__")
    // singletons (never in any pair) are their own cluster
    val labeled = df.join(comps, col(idCol) === col("__cid__"), "left")
      .withColumn("__label__", coalesce(col("label"), col(idCol)))
    val w = Window.partitionBy("__label__")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("__rk__", row_number().over(w))
      .filter(col("__rk__") === 1)
      .drop("__cid__", "label", "__label__", "__rk__")
  }

  /** Benchmark decontamination ([EXT]): corpus docs sharing at least
    * `minHits` distinct word n-gram shingles with ANY benchmark doc
    * are contaminated — the standard guard against eval data leaking
    * into a training corpus. Returns (id, hits).
    *
    * Scale shape: the benchmark is tiny relative to the corpus (eval
    * sets vs 100 TB), so its distinct shingle hashes BROADCAST to the
    * corpus scan — the corpus-side cost is one explode + broadcast
    * semi-join + one map-side-combinable count, no corpus shuffle of
    * text payloads.
    */
  def contaminated(corpus: DataFrame, benchmark: DataFrame,
                   idCol: String, textCol: String,
                   n: Int = 5, minHits: Int = 1): DataFrame = {
    val benchShingles = benchmark.select(
      explode(graft.functions.VectorExprs.shingleSortedHashes(
        tokens(col(textCol)), n)).as("s")).distinct()
    corpus.select(col(idCol).as("id"),
        explode(graft.functions.VectorExprs.shingleSortedHashes(
          tokens(col(textCol)), n)).as("s"))
      .join(broadcast(benchShingles), "s")
      .groupBy("id").agg(countDistinct(col("s")).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /** Drop contaminated docs from the corpus (anti-join on the flagged
    * ids); the complement of [[contaminated]].
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 5, minHits: Int = 1): DataFrame =
    corpus.join(
      contaminated(corpus, benchmark, idCol, textCol, n, minHits)
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Exact duplicate-substring spans (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — their
    * suffix-array ExactSubstr pass, re-expressed as a distributed
    * n-gram inverted index). A token position is DUPLICATED when the
    * word n-gram starting there occurs at least `minOccur` times in
    * the whole corpus (any document, including repeats within the same
    * doc); runs of duplicated positions merge into maximal spans.
    * Emits one row per span: (id, span_start, span_end, n_tokens) in
    * 0-based token offsets, end exclusive — the spans a
    * remove-duplicate-text pass would cut.
    *
    * Shape at 100 TB: one [[graft.functions.VectorExprs.ShingleHashes]]
    * pass turns each doc into positional 64-bit gram hashes (no gram
    * strings, no regex — single custom-expression loop), posexplode
    * gives (pos, hash) rows; one hash-agg on the 8-byte hash (map-side
    * combinable) for occurrence counts; join the positions back on the
    * hash (dup grams are the small side after the `minOccur` filter);
    * then a per-document window to merge overlapping hits. No
    * all-pairs joins, no driver state; the window partitions by doc
    * so its span is bounded by document length. The gram subtree is
    * evaluated twice (agg + probe) by design — re-running a scan-speed
    * projection beats materializing a corpus-sized intermediate.
    * XXH64 collisions could merge two distinct grams (rate ~g²/2⁶⁴ —
    * negligible below ~10⁹ distinct grams; the DuckDB oracle, which
    * groups raw gram text, doubles as the collision canary at test
    * scale).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int = 10, minOccur: Long = 2L): DataFrame = {
    require(n > 0 && minOccur >= 2,
      s"dupSpans: need n > 0 and minOccur >= 2, got n=$n minOccur=$minOccur")
    import org.apache.spark.sql.expressions.Window
    val grams = df
      .select(col(idCol).as("id"),
        posexplode(graft.functions.VectorExprs.shingleHashes(
          tokens(col(textCol)), n)))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("g"))
    val dupG = grams.groupBy("g").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccur).select("g")
    val hits = grams.join(dupG, "g").select(col("id"), col("pos"))
    // interval merge: a hit covers [pos, pos+n); a new span starts when
    // the gap to everything before is positive (pos == prev end means
    // contiguous text, so adjacent hits merge too)
    val prev = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val upto = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    hits
      .withColumn("__ns__",
        when(col("pos") > coalesce(max(col("pos") + n).over(prev), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("__span__", sum(col("__ns__")).over(upto))
      .groupBy("id", "__span__")
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + n).as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_tokens"))
  }

  /** Cut every duplicated span found by [[dupSpans]] out of the token
    * stream and re-emit the cleaned text (plus `n_removed`, the count
    * of dropped tokens). ALL occurrences of a duplicated span are
    * removed — matching Lee et al.'s ExactSubstr tool, which notes
    * that dropping every copy (rather than electing a survivor, which
    * would need global coordination) is what their dedup does.
    *
    * Shape at 100 TB: [[dupSpans]]' cost plus one doc-keyed
    * collect_list of span structs (bounded by spans-per-doc, not
    * corpus size), a left join back to the corpus, and a per-row
    * filter-by-position over the token array. Docs without spans pass
    * through the HOF untouched via the NULL fast path.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 10, minOccur: Long = 2L,
                     outCol: String = "clean_text"): DataFrame = {
    val spans = dupSpans(df, idCol, textCol, n, minOccur)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans__"))
    // NULL text cleans to the empty string (zero tokens), not NULL
    val toks = tokens(coalesce(col(textCol), lit("")))
    val kept = filter(toks, (t, i) =>
      !exists(col("__spans__"), s =>
        i.cast("long") >= s("span_start") && i.cast("long") < s("span_end")))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__kept__",
        when(col("__spans__").isNull, toks).otherwise(kept))
      .select(col(idCol),
        array_join(col("__kept__"), " ").as(outCol),
        (size(toks) - size(col("__kept__"))).cast("long").as("n_removed"))
  }

  /** SimHash near-dup pairs within hamming distance ≤ maxDist.
    * Pigeonhole blocking: fingerprints are split into (maxDist+1)
    * 64/(maxDist+1)-bit chunks; any pair within maxDist must agree on at
    * least one chunk, so the join is on (chunk index, chunk value) —
    * never a cross join.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    simhashPairsFrom(simhashFrame(df, idCol, textCol), maxDist)

  /** Portable SimHash twin: same vote/sign pipeline as [[simhash]] but
    * the per-token hash is the first 15 md5 hex digits (60 bits), which
    * DuckDB reproduces exactly (`CAST('0x'||substr(md5(tok),1,15) AS
    * BIGINT)`) — so the whole blocked pair-mine gets a driver-visible
    * brute-force oracle. The pigeonhole blocking is identical, hence
    * the blocked ≡ brute law covers this path too. Production path
    * stays on xxhash64 (one codegen'd pass, no md5 cost).
    */
  def simhashPortable(text: Column): Column =
    graft.functions.VectorExprs.simhashFp(
      transform(tokens(text), x =>
        conv(substring(md5(x), 1, 15), 16, 10).cast("long")))

  /** [[simhashPairs]] over the portable fingerprint. Docs with zero
    * tokens are excluded (the SQL oracle's unnest drops them; an empty
    * doc's fp would otherwise be the degenerate all-zeros value).
    *
    * The (id, fp) table PERSISTS at MEMORY_AND_DISK (r18, guide §5):
    * the md5-per-token fingerprint is the expensive leg (~0.6 s per
    * evaluation on the sf0.1 corpus) and the blocked self-join
    * evaluates its input once per side — plus once more when a
    * components/collect consumer re-runs the pairs plan. The persisted
    * table is tiny (one id + one long per doc) and deterministic, so
    * output is unchanged. CACHE CONTRACT (as [[graft.ext.LangId]]):
    * the caller owns the lifecycle — Bench and Verify clear the
    * cache manager after every query; library users persist the
    * fingerprint table to parquet for reuse instead.
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxDist: Int = 3): DataFrame =
    simhashPairsFrom(
      df.filter(size(tokens(col(textCol))) > 0)
        .select(col(idCol).as("id"), simhashPortable(col(textCol)).as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      maxDist)

  private def simhashPairsFrom(fp: DataFrame, maxDist: Int): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    // separate chunk exprs (multi-reference) — keeps fp staged
    val chunkCols = (0 until chunks).map { j =>
      shiftright(col("fp"), j * width).bitwiseAND(lit((1L << width) - 1))
    }
    val blocked = fp.select(col("id"), col("fp"), posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
    blocked.as("x").join(blocked.as("y"), Seq("chunk", "ck"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
