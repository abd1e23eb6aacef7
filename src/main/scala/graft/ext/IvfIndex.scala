package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor ([EXT], SURVEY
  * §2.10): k-means-style centroids partition the corpus into lists;
  * a query probes only the `nprobe` nearest lists and ranks those
  * candidates exactly. The classic trade: index once (train + assign),
  * then every search touches corpus/nlist·nprobe vectors instead of
  * the whole corpus.
  *
  * Spark shape: assignment is a pure map — an argmax-cosine expression
  * over the (tiny, k×dim) centroid matrix, no per-row amplification or
  * shuffle; the Lloyd update aggregates per-dimension means in one
  * map-side-combinable groupBy — only the k×dim centroid matrix ever
  * reaches the driver (same shape as MLlib's k-means). Training is
  * deterministic: initial centroids are the k vectors with the
  * smallest xxhash64(id).
  */
object IvfIndex {

  import Similarity.cosine

  /** Train `k` centroids with `iters` Lloyd iterations. Returns
    * (centroid_id, centroid: array<float>).
    */
  def train(spark: SparkSession, corpus: DataFrame, k: Int, iters: Int = 3,
            id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    import spark.implicits._
    // deterministic seed pick: k smallest hashes
    // centroid ids are assigned by collect order of the deterministic
    // hash-sorted seed pick (0..k-1)
    var centroids = corpus
      .withColumn("__h", xxhash64(col(id)))
      .orderBy("__h").limit(k)
      .select(col(vec).as("centroid"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](0)) }
    for (_ <- 1 to iters) {
      val cdf = spark.createDataset(centroids.toSeq).toDF("centroid_id", "centroid")
        .withColumn("centroid", col("centroid").cast("array<float>"))
      val assigned = assign(corpus, cdf, vec)
      // per-dimension mean of each cluster's vectors → new centroids
      val newC = assigned
        .select(col("centroid_id"), posexplode(col(vec)))
        .groupBy("centroid_id", "pos").agg(avg("col").as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("centroid"))
        .as[(Long, Seq[Float])].collect()
      // a cluster that emptied out keeps its previous centroid, so the
      // trained index always has exactly k lists
      val byId = newC.toMap
      centroids = centroids.map { case (i, c) => (i, byId.getOrElse(i, c)) }
    }
    spark.createDataset(centroids.toSeq).toDF("centroid_id", "centroid")
      .withColumn("centroid", col("centroid").cast("array<float>"))
  }

  /** Assign every corpus vector to its nearest centroid (max cosine).
    * A pure map: argmax over the (tiny, k×dim) centroid matrix inside
    * one expression — no corpus×k row amplification, no exchange, no
    * sort. (The previous broadcast-join + window-argmax shape pushed
    * n×k rows through a shuffle — a 1000× data explosion at a real
    * nlist.) Ties/NaNs match the window formulation bit-for-bit.
    */
  def assign(corpus: DataFrame, centroids: DataFrame,
             vec: String = "embedding"): DataFrame = {
    val cents = centroids.select("centroid_id", "centroid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1) // ascending id ⇒ strict > keeps the smallest id on ties
    require(cents.nonEmpty, "IVF assign needs at least one centroid")
    corpus.withColumn("centroid_id",
      graft.functions.VectorExprs.nearestCentroid(
        col(vec), cents.map(_._1), cents.map(_._2)))
  }

  /** Persist a trained index as one directory: `path/centroids` (the
    * k×dim matrix) plus the assigned corpus at `path/lists`,
    * hive-partitioned by `centroid_id` — the on-disk inverted-list
    * layout. Train once, serve many query batches: a search probing
    * `nprobe` lists reads `nprobe` directories of the corpus (the
    * probes ride in as a broadcast join key, so partition pruning
    * keeps the scan at corpus/nlist·nprobe rows), and IVF retraining
    * stops being a per-call cost. Same persistence shape as
    * [[TextDedup.writeSignatureIndex]] and the reference's managed
    * mongo indexes (etl_cli/base.py:568-593).
    */
  def writeIndex(corpus: DataFrame, centroids: DataFrame, path: String,
                 vec: String = "embedding"): Unit = {
    centroids.write.mode("overwrite").parquet(path + "/centroids")
    // Cluster rows by cell before the partitioned write: without it,
    // every writer task emits a file into every cell directory it has
    // rows for (tasks × nlist small files — 1024 at 16 tasks × 64
    // cells at 6M rows, BASELINE.md's round-6 scale report); with it,
    // each cell lives in exactly one task → nlist files total, and the
    // serve-side scan reads nprobe well-formed row groups instead of a
    // footer storm.
    assign(corpus, centroids, vec)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(path + "/lists")
  }

  /** Load a [[writeIndex]] directory → (index, centroids). The
    * partition column comes back as the inferred integer type; restore
    * the trained long ids so downstream joins/tie-breaks see the exact
    * schema [[assign]] produced.
    */
  def readIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(path + "/lists")
       .withColumn("centroid_id", col("centroid_id").cast("long")),
     spark.read.parquet(path + "/centroids"))

  /** Search: probe the `nprobe` nearest inverted lists per query, rank
    * candidates by exact cosine, return top k.
    */
  def search(queries: DataFrame, index: DataFrame, centroids: DataFrame,
             k: Int, nprobe: Int = 4,
             qId: String = "q_id", qVec: String = "q_vec",
             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val pw = Window.partitionBy(qId).orderBy(col("__csim").desc, col("centroid_id").asc)
    val probes = broadcast(queries).join(broadcast(centroids))
      .withColumn("__csim", cosine(col(qVec), col("centroid")))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nprobe)
      .select(col(qId), col(qVec), col("centroid_id"))
    val w = Window.partitionBy(qId).orderBy(col("sim").desc, col(cId).asc)
    index.join(broadcast(probes), "centroid_id")
      .filter(col(qId) =!= col(cId))
      .withColumn("sim", cosine(col(qVec), col(cVec)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qId), col(cId), round(col("sim"), 4).as("sim"), col("rank"))
  }
}
