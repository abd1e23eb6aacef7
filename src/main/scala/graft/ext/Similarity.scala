package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search ([EXT], SURVEY §2.10) over
  * `array<float>` columns. Dot products / norms are zip_with+aggregate
  * expressions (codegen'd, no UDF).
  *
  * Scale design:
  *   - bruteTopK broadcasts the (small) query set against the corpus —
  *     one scan, no shuffle of the corpus, a partial top-k per partition
  *     via the window. Right answer for "a handful of queries vs 100 TB
  *     of vectors".
  *   - cosinePairs is the inverted variant of dedup: all-pairs above a
  *     threshold. The hyperplane-LSH bucket join bounds candidates; the
  *     brute path exists as the oracle-checkable baseline.
  *   - hyperplane LSH: deterministic pseudo-random planes derived from
  *     xxhash64(dim, plane) — no stored model, reproducible across runs
  *     and engines.
  */
object Similarity {

  /** Cosine similarity of two float-array columns (computed in double).
    * A codegen'd custom expression — the zip_with/aggregate HOF
    * formulation is interpreted per element and was ~50× slower on the
    * 2M-pair brute-force path.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vecCosine(a, b)

  /** Element-wise mean pooling of embeddings per group — the standard
    * chunk→document aggregation before doc-level similarity/ANN.
    * posexplode → map-side-combinable (group, pos) avg → ordered
    * re-assembly (sorted-struct transform, same trick as the IVF
    * centroid update) — never a collect, never a full-vector shuffle
    * beyond the one the agg needs. Output: (groupCol, embedding
    * array<float>). Rows with null vectors drop out.
    */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String,
               outCol: String = "embedding"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)))
      .groupBy(col(groupCol), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m").cast("float")).as(outCol))

  /** L2-normalize an embedding column (null-safe: the all-zero vector
    * passes through unchanged rather than dividing by zero).
    */
  def l2Normalize(vec: Column): Column =
    // one-pass expression: the aggregate/transform chain captured the
    // norm inside the division lambda (recomputed per element after
    // CollapseProject inlining) — see VectorExprs.L2NormalizeVec
    graft.functions.VectorExprs.l2NormalizeVec(vec)

  /** Scalar int8 embedding quantization — the standard 4× memory/IO
    * compression before ANN serving (float32 → int8 + one float scale
    * per vector). Symmetric per-vector scale s = max|x| / 127; codes
    * are floor(x/s + 0.5) clamped to ±127. floor(+0.5) rather than
    * round(): floor is bit-identical across Spark and DuckDB, so the
    * whole code table is oracle-checkable (x/s and +0.5 are exact IEEE
    * ops on both engines). The all-zero vector gets scale 1 (all-zero
    * codes). Output: (idCol, scale double, codes array<int>); pure
    * projection, no shuffle — at 100 TB this runs as a scan.
    */
  def quantizeEmbeddings(df: DataFrame, idCol: String,
                         vecCol: String): DataFrame = {
    // One-pass QuantizeVec expression: the HOF formulation
    // (array_max(transform) feeding a per-element transform lambda)
    // re-evaluated the row maximum per ELEMENT after CollapseProject
    // inlining — O(d²)/row. Bit-identical output (same max/div/floor
    // order), law-checked in VectorExprsSpec.
    val q = graft.functions.VectorExprs.quantizeVec(col(vecCol))
    df.withColumn("__q__", q)
      .select(col(idCol), col("__q__").getField("scale").as("scale"),
        col("__q__").getField("codes").as("codes"))
  }

  /** Inverse of [[quantizeEmbeddings]]: codes·scale as array<float>.
    * Lossy by design; the spec law bounds cosine(dequant, original).
    */
  def dequantizeEmbeddings(df: DataFrame, codesCol: String = "codes",
                           scaleCol: String = "scale",
                           outCol: String = "embedding"): DataFrame =
    df.withColumn(outCol,
      transform(col(codesCol), c => (c * col(scaleCol)).cast("float")))

  /** Top-k by cosine over an int8-QUANTIZED corpus
    * ([[quantizeEmbeddings]] output): cosine is per-vector
    * scale-invariant, so the corpus scales cancel and the whole search
    * runs on the 4×-smaller code table — float queries join int codes
    * directly, no dequantization pass. The spec law bounds recall@k vs
    * the float brute; sim values carry the (tiny) quantization error.
    */
  def bruteTopKQuantized(queries: DataFrame, coded: DataFrame, k: Int,
                         qId: String = "q_id", qVec: String = "q_vec",
                         cId: String = "vec_id",
                         codesCol: String = "codes"): DataFrame =
    bruteTopK(queries,
      coded.withColumn("__fc__", col(codesCol).cast("array<float>")),
      k, qId, qVec, cId, "__fc__")

  /** Brute-force top-k by cosine: every query vector against the whole
    * corpus. `queries` is broadcast (must be small); ties broken by
    * corpus id for determinism.
    */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                qId: String = "q_id", qVec: String = "q_vec",
                cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = corpus.join(broadcast(queries))
      .filter(col(qId) =!= col(cId))
      .withColumn("sim", cosine(col(qVec), col(cVec)))
    val w = Window.partitionBy(qId).orderBy(col("sim").desc, col(cId).asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), round(col("sim"), 4).as("sim"), col("rank"))
  }

  /** Hard ceiling for [[cosinePairs]]' brute O(n²) join: above this
    * corpus size the call refuses and points at [[lshPairs]] — on a
    * real corpus the cartesian-shaped join is a scale-killer, and a
    * 30-minute-in "it's slow" discovery is worse than an upfront error.
    * Override consciously via `maxRows` for oracle/baseline runs.
    */
  val CosinePairsDefaultMaxRows: Long = 1000000L

  /** All corpus pairs with cosine ≥ threshold (embedding near-dup).
    * Brute O(n²) variant — the EXACT-BASELINE path, guarded by
    * `maxRows`; [[lshPairs]] is the scale path (bucketed candidates +
    * exact verify, no all-pairs join).
    */
  def cosinePairs(df: DataFrame, threshold: Double,
                  id: String = "vec_id", vec: String = "embedding",
                  maxRows: Long = CosinePairsDefaultMaxRows): DataFrame = {
    // bounded guard: scan at most maxRows+1 rows, never the full plan
    val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
    val n = df.select(col(id)).limit(cap + 1).count()
    require(n <= cap,
      s"cosinePairs is brute O(n²) and the corpus exceeds $maxRows rows: " +
        "use lshPairs (bucketed, scale-safe) or raise maxRows deliberately")
    // r18 (guide §2.6): the stream side of the nested-loop join
    // otherwise inherits the scan's partitioning — a small corpus is
    // ONE file, so every O(n²) cosine ran in a single task (measured
    // 0.8 s of the 2.1 s query at sf0.1 with 31 cores idle). A cheap
    // round-robin repartition of the n streamed rows spreads the pair
    // work across the cores; the pair set and every sim value are
    // unchanged (same expression, same inputs, order-free output).
    // r19: the partition count follows the PAIR count, not the core
    // count — fanning ~2M cheap cosines into 32 tasks quadrupled the
    // summed task time at sf0.1 (per-task overhead dominating µs of
    // work; the driver's 8-vs-32-core scaling data showed the same
    // inversion). ~250k pairs per task amortizes the fixed cost while
    // keeping the critical path short, and the cap still saturates
    // every core once the corpus is big enough for parallelism to
    // matter; the guard count above already knows n.
    val spark = df.sparkSession
    val pairParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      n * n / 2 / 250000L + 1L)).toInt
    val a = df.select(col(id).as("id_a"), col(vec).as("va"))
      .repartition(pairParts)
    val b = df.select(col(id).as("id_b"), col(vec).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Embedding-cosine near-dup clusters (the SemDeDup shape: Abbas et
    * al. 2023 dedup semantically, not lexically): pair rows whose
    * cosine clears `threshold`, group pairs into connected components,
    * label EVERY row with its component's smallest id (`cluster`), and
    * flag the representative (`keep` = id == cluster; unpaired rows
    * keep themselves).
    *
    * `exact = true` uses the brute pair join — the oracle baseline,
    * guarded by [[CosinePairsDefaultMaxRows]]. `exact = false` is the
    * scale path: [[lshPairs]] bucketed candidates + exact verify, so at
    * 100 TB the pair step is banding + bucket join, never all-pairs.
    * Components reuse [[TextDedup.components]] (driver union-find below
    * 1M pairs, star contraction above).
    */
  def cosineClusters(df: DataFrame, threshold: Double,
                     id: String = "vec_id", vec: String = "embedding",
                     exact: Boolean = true,
                     maxHamming: Int = 15, planes: Int = 64): DataFrame = {
    val pairs =
      if (exact) cosinePairs(df, threshold, id, vec)
      else lshPairs(df, threshold, maxHamming, planes, id, vec)
    // "__cl__", not "label": the input is free to carry a column named
    // label (the embeddings table does) and must not collide
    val comps = TextDedup.components(pairs.select("id_a", "id_b"))
      .select(col("id").as(id), col("label").as("__cl__"))
    df.join(comps, Seq(id), "left")
      .withColumn("cluster", coalesce(col("__cl__"), col(id)).cast("long"))
      .withColumn("keep", col(id).cast("long") === col("cluster"))
      .drop("__cl__")
  }

  /** Semantic decontamination — the embedding twin of
    * [[TextDedup.contaminated]]: a corpus row is contaminated when its
    * max cosine against ANY benchmark row clears `threshold` (train/
    * eval overlap that paraphrasing hides from the n-gram check).
    * Returns (id, max_sim) for the flagged rows.
    *
    * Scale shape: eval sets are tiny next to a 100 TB corpus, so the
    * benchmark BROADCASTS to the corpus scan — one pass, a per-row
    * max over the broadcast rows, one map-side-combinable agg, no
    * corpus shuffle (the same plan as [[bruteTopK]] with k folded into
    * a max).
    */
  def semanticContaminated(corpus: DataFrame, benchmark: DataFrame,
                           threshold: Double,
                           id: String = "vec_id",
                           vec: String = "embedding"): DataFrame = {
    val b = benchmark.select(col(id).as("__bid__"), col(vec).as("__bv__"))
    corpus.select(col(id).as("id"), col(vec).as("__v__"))
      .join(broadcast(b), col("id") =!= col("__bid__"))
      .groupBy("id")
      .agg(round(max(cosine(col("__v__"), col("__bv__"))), 4).as("max_sim"))
      .filter(col("max_sim") >= threshold)
  }

  /** Drop semantically contaminated rows (anti-join on the flagged
    * ids); the complement of [[semanticContaminated]].
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double,
                            id: String = "vec_id",
                            vec: String = "embedding"): DataFrame =
    corpus.join(
      semanticContaminated(corpus, benchmark, threshold, id, vec)
        .select(col("id").as(id)),
      Seq(id), "left_anti")

  /** Embedding-cosine near-dup DEDUP: one representative (smallest id)
    * per [[cosineClusters]] cluster — the corpus rows a semantic-dedup
    * pass keeps. Same exact/LSH switch as [[cosineClusters]].
    */
  def dedupByCosine(df: DataFrame, threshold: Double,
                    id: String = "vec_id", vec: String = "embedding",
                    exact: Boolean = true,
                    maxHamming: Int = 15, planes: Int = 64): DataFrame =
    cosineClusters(df, threshold, id, vec, exact, maxHamming, planes)
      .filter(col("keep")).drop("cluster", "keep")

  /** Signed random-hyperplane sketch: `planes` sign bits packed into a
    * long. Plane coefficients are a deterministic pseudo-random lattice
    * (chained XXH64 of (plane, dim)); the sign of each dot product
    * gives one bit. Cosine-similar vectors agree on most bits (SimHash
    * for real vectors). Custom-expression loop, no stored model.
    */
  def hyperplaneSketch(vec: Column, planes: Int = 16): Column =
    graft.functions.VectorExprs.hyperplaneSketch(vec, planes)

  /** LSH-bucketed approximate top-k: the scale path for similarity
    * SEARCH. Corpus and queries are sketched once; a query's candidates
    * are corpus vectors sharing at least one sketch chunk (pigeonhole:
    * every neighbor within `maxHamming` sketch bits is retained), then
    * exact cosine ranks the candidates. Per query the work is
    * O(|bucket|) instead of O(|corpus|); the corpus sketch table is
    * what you'd precompute and store at 100 TB.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              maxHamming: Int = 3, planes: Int = 16,
              qId: String = "q_id", qVec: String = "q_vec",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = maxHamming + 1
    val width = planes / chunks
    def blocked(df: DataFrame, id: String, vec: String): DataFrame = {
      val sk = df.select(col(id).as("id"), col(vec).as("v"),
        hyperplaneSketch(col(vec), planes).as("sk"))
      val chunkCols = (0 until chunks).map { j =>
        shiftright(col("sk"), j * width).bitwiseAND(lit((1L << width) - 1))
      }
      sk.select(col("id"), col("v"), posexplode(array(chunkCols: _*)))
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
    }
    // candidates carry IDs ONLY through the dedup shuffle — shuffling
    // the embedding payloads through distinct() multiplies the shuffle
    // by the vector width; the vectors join back after dedup (query
    // side broadcast, corpus side a pruned column scan)
    val cand = blocked(broadcast(queries), qId, qVec).as("q")
      .join(blocked(corpus, cId, cVec).as("c"), Seq("chunk", "ck"))
      .filter(col("q.id") =!= col("c.id"))
      .select(col("q.id").as(qId), col("c.id").as(cId))
      .distinct()
    // duplicate ids on a join-back side would re-multiply a deduped
    // candidate into several scored rows (double-filling top-k ranks);
    // dedup the SMALL scored set on the pair key — deduping the corpus
    // side instead would shuffle every vector payload
    val scored = cand
      .join(broadcast(queries.select(col(qId), col(qVec))), qId)
      .join(corpus.select(col(cId), col(cVec)), cId)
      .withColumn("sim", cosine(col(qVec), col(cVec)))
      .dropDuplicates(qId, cId)
    val w = Window.partitionBy(qId).orderBy(col("sim").desc, col(cId).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), round(col("sim"), 4).as("sim"), col("rank"))
  }

  /** LSH near-neighbor pairs: bucket by hyperplane sketch chunks
    * (pigeonhole, like SimHash blocking), exact-verify candidates with
    * true cosine. Scale path for cosinePairs.
    *
    * Selectivity is threshold-dependent — choose params accordingly:
    * at near-dup thresholds (≥ 0.8, angle ≤ 37°) the default 16-plane
    * pigeonhole sketch prunes hard; at moderate thresholds (0.35,
    * angle 70°) boundary pairs disagree with random pairs by only
    * ~0.11 bit-agreement, so high recall needs the wide band-OR
    * sketch (planes=64, maxHamming=15 → 16×4-bit bands: recall ≈ 0.92
    * measured) at the cost of a candidate set approaching the pair
    * space on UNCLUSTERED data. That trade is fundamental to
    * hyperplane LSH, not this implementation: sub-brute candidate
    * volume at moderate thresholds requires real cluster structure
    * (which production embedding corpora have).
    */
  def lshPairs(df: DataFrame, threshold: Double, maxHamming: Int = 3,
               planes: Int = 16,
               id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val chunks = maxHamming + 1
    val width = planes / chunks
    // r18: persist the (id, sketch) table — the hyperplane sketch
    // (planes dot products per vector) is the expensive leg and the
    // blocked self-join evaluates its input once per side. 16 bytes a
    // row, so even a billion-vector corpus spills gracefully at
    // MEMORY_AND_DISK; output unchanged (deterministic sketch). CACHE
    // CONTRACT as [[graft.ext.LangId]]: caller owns the lifecycle
    // (Bench and Verify clear the cache manager per query).
    val sk = df.select(col(id).as("id"),
      hyperplaneSketch(col(vec), planes).as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // separate chunk exprs (multi-reference) keep the sketch staged —
    // a transform-over-sequence would let CollapseProject inline the
    // whole sketch into the lambda, recomputing it per chunk
    val chunkCols = (0 until chunks).map { j =>
      shiftright(col("sk"), j * width).bitwiseAND(lit((1L << width) - 1))
    }
    val blocked = sk.select(col("id"), col("sk"),
        posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
    // FIRST-COLLISION dedup (r19, guide §2.4 remove shuffles outright):
    // a pair agreeing on k chunks used to surface k times and pay a
    // full (id_a, id_b) distinct() exchange. Each blocked row now
    // carries its sketch, and the join keeps a collision only at the
    // pair's LOWEST agreeing chunk — every candidate pair survives
    // exactly once, so the distinct() exchange disappears while the
    // candidate SET is bit-identical: pairs agreeing on >= 1 chunk.
    // The guard is pure shift/mask arithmetic (overflow-free under
    // ANSI, constant size in the chunk count — a statically unrolled
    // per-chunk OR measured 10x slower at chunks=64, generated method
    // too large to JIT): fold each w-wide field of d = x.sk XOR y.sk
    // onto its LOW bit (z), so field j of d is all-zero (chunk j
    // agrees) iff bit j*w of ~z is set; the pair is kept iff no agree
    // bit sits below position chunk*w.
    val zFold = (0 until width)
      .map(i => s"shiftright(__d__, $i)").mkString(" | ")
    val lowPattern = (0 until chunks).map(j => 1L << (j * width))
      .reduce(_ | _)
    val keepFirst =
      if (chunks <= 1) lit(true)
      else expr(s"((~($zFold)) & ${lowPattern}L & " +
        s"~shiftleft(-1L, chunk * $width)) = 0")
    val cand = blocked.as("x").join(blocked.as("y"), Seq("chunk", "ck"))
      .filter(col("x.id") < col("y.id"))
      .withColumn("__d__", col("x.sk").bitwiseXOR(col("y.sk")))
      .filter(keepFirst)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val vecs = df.select(col(id).as("id"), col(vec).as("v"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
      // duplicate corpus ids must not re-multiply a deduped candidate
      // pair into duplicate rows; dedup the small PAIR set, not the
      // corpus (that would shuffle every vector payload)
      .dropDuplicates("id_a", "id_b")
  }
}
