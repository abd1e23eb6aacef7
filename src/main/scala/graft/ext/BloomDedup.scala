package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter-accelerated incremental EXACT dedup ([EXT], SURVEY
  * §2.10 family): a persisted membership sketch over every normalized
  * text already accepted into the corpus, probed by each new batch
  * BEFORE any join, so the expensive "is this text already seen?"
  * check never shuffles the batch against the seen-keys table.
  *
  * Why this exists next to the signature-index incremental dedup
  * (`TextDedup.incrementMatches`): that path answers NEAR-duplicate
  * questions and fundamentally needs a join against the index. For the
  * much more common exact-membership gate (CCNet-style "have we
  * ingested this page before"), a Bloom filter answers locally on the
  * mapper: zero shuffle for the (overwhelming) majority of rows the
  * filter rejects. Only the filter's positives — true duplicates plus
  * an fpp-bounded sliver of false positives — proceed to an exact
  * confirm join, so the final result is EXACTLY the plain anti-join
  * (the filter can only shrink the join's left side, never change the
  * answer: Bloom filters have no false negatives).
  *
  * Shape at 100 TB: the filter is trained once per corpus epoch with
  * `df.stat.bloomFilter` (a map-side-combinable aggregate; the driver
  * holds only the merged bitset), persisted as a single binary blob,
  * and broadcast to probes. Sizing is the standard
  * bits = -n·ln(p)/ln²2: 1e9 seen docs at 1% fpp ≈ 1.2 GiB — fine to
  * broadcast; beyond that use [[trainSharded]]/[[dedupAgainstSharded]],
  * which split the key space by `xxhash64 mod shards` into independent
  * filters that are loaded per-task (each task reads only the shards
  * its rows hash to), keeping per-executor memory at one shard.
  *
  * Keys are `xxhash64(lower(trim(text)))`. A 64-bit collision would
  * surface as a false POSITIVE (two texts sharing a key), which the
  * exact confirm join removes — correctness never depends on the hash.
  */
object BloomDedup {

  /** Normalized-text membership key — the same normalization as
    * `TextDedup.exact` so the two operators agree on what "the same
    * document" means.
    */
  private def key(textCol: String) = xxhash64(lower(trim(col(textCol))))

  /** Train a filter over the normalized texts of `seen`.
    * `expectedItems` sizes the bitset (overestimate is safe: fpp only
    * improves); guarded so an accidental corpus-scale broadcast filter
    * fails loudly instead of OOMing the driver.
    */
  def train(seen: DataFrame, textCol: String,
            expectedItems: Long, fpp: Double = 0.01): BloomFilter = {
    require(expectedItems > 0, "expectedItems must be positive")
    // bits = -n ln p / ln^2 2; cap the bitset at ~2 GiB (broadcast limit)
    val bits = (-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    require(bits / 8 <= (2L << 30),
      s"filter would need ${bits / 8 / (1 << 20)} MiB > 2 GiB; " +
        "use trainSharded/dedupAgainstSharded beyond ~1e9 seen items")
    filterOf(seen.select(key(textCol).as("__k__")), expectedItems, fpp)
  }

  /** The filter over the single key column `__k__` of `keys` — the
    * aggregate `stat.bloomFilter` runs, whose NULL result for an empty
    * input (a `NullPointerException` there) becomes the empty filter.
    */
  private def filterOf(keys: DataFrame, expectedItems: Long,
                       fpp: Double): BloomFilter = {
    val bits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bytes = keys.select(org.apache.spark.sql.graftshim.ExprShim
      .bloomFilterAgg(col("__k__"), expectedItems, bits)).head().getAs[Array[Byte]](0)
    if (bytes == null) BloomFilter.create(expectedItems, bits)
    else BloomFilter.readFrom(bytes)
  }

  /** Persist/load the filter through the Hadoop filesystem of `path`
    * (local, HDFS, or object store alike).
    */
  def writeFilter(spark: SparkSession, bf: BloomFilter, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  def readFilter(spark: SparkSession, path: String): BloomFilter = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Rows of `batch` the filter flags as possibly seen. Superset of
    * the true duplicates (no false negatives); size ≈ dups + fpp·batch.
    * The probe is a broadcast-variable lookup per row — no shuffle, no
    * per-task reserialization of the bitset.
    */
  def candidates(batch: DataFrame, bf: BloomFilter, textCol: String): DataFrame = {
    val b = batch.sparkSession.sparkContext.broadcast(bf)
    val might = udf((h: Long) => b.value.mightContainLong(h))
    batch.filter(might(key(textCol)))
  }

  /** Rows of `batch` the filter PROVES unseen (no false negatives ⇒ a
    * negative probe is definitive). The fast accept path: these rows
    * can skip the confirm join entirely. Complement of [[candidates]].
    */
  def novel(batch: DataFrame, bf: BloomFilter, textCol: String): DataFrame = {
    val b = batch.sparkSession.sparkContext.broadcast(bf)
    val might = udf((h: Long) => b.value.mightContainLong(h))
    batch.filter(!might(key(textCol)))
  }

  /** Incremental exact dedup of `batch` against an already-ingested
    * corpus: keep the first (smallest `idCol`) copy of each normalized
    * text within the batch, minus every text the corpus has already
    * accepted. `seen` is consulted ONLY for the filter's candidates —
    * the confirm semi-join's probe side is dups + fpp·batch rows, not
    * the batch — and the result equals the plain
    * batch-anti-join-seen exactly (law-checked in BloomDedupSpec).
    */
  def dedupAgainst(batch: DataFrame, seen: DataFrame, bf: BloomFilter,
                   idCol: String, textCol: String): DataFrame = {
    val confirmed = candidates(batch, bf, textCol)
      .join(seen.select(key(textCol).as("__k__"),
          lower(trim(col(textCol))).as("__t__")).distinct(),
        key(textCol) === col("__k__") &&
          lower(trim(col(textCol))) === col("__t__"), "left_semi")
      .select(col(idCol))
    TextDedup.exact(
      batch.join(confirmed, Seq(idCol), "left_anti"), textCol, idCol)
  }

  // ── sharded variant: seen sets too large for one broadcast filter ──

  /** Train `shards` independent filters, each over the keys with
    * `pmod(xxhash64, shards) = shard`, written to
    * `path/shard=<i>.bloom`. One pass over `seen` per shard batch is
    * avoided by aggregating all shards in a single groupBy pass:
    * driver memory holds one shard's bitset at a time while writing.
    */
  def trainSharded(seen: DataFrame, textCol: String, path: String,
                   shards: Int, expectedItemsPerShard: Long,
                   fpp: Double = 0.01): Unit = {
    val spark = seen.sparkSession
    val keys = seen.select(key(textCol).as("__k__"))
      .withColumn("__s__", pmod(col("__k__"), lit(shards)))
    // one job per shard keeps driver memory at a single bitset; the
    // scan is pruned by the pushed __s__ filter when `seen` is
    // pre-partitioned by the same expression (the epoch writer does)
    (0 until shards).foreach { s =>
      val bf = filterOf(keys.filter(col("__s__") === s),
        expectedItemsPerShard, fpp)
      writeFilter(spark, bf, shardPath(path, s).toString)
    }
  }

  private def shardPath(path: String, shard: Int) = new Path(s"$path/shard=$shard.bloom")

  /** [[dedupAgainst]] with per-task shard loading: rows are clustered
    * by shard so each task touches few filters, and a JVM-wide cache
    * loads each shard file at most once. The driver stats the shard
    * files when the frame is built and the cache is keyed on what it
    * saw, so a filter retrained at the same path is read afresh.
    * Result is identical to the broadcast path (same law).
    */
  def dedupAgainstSharded(batch: DataFrame, seen: DataFrame, path: String,
                          shards: Int, idCol: String,
                          textCol: String): DataFrame = {
    val fs = new Path(path).getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val files = (0 until shards).map { s =>
      val st = fs.getFileStatus(shardPath(path, s))
      ShardFile(path, s, st.getLen, st.getModificationTime)
    }.toArray
    val mightSharded = udf { (h: Long) =>
      val s = java.lang.Math.floorMod(h, shards.toLong).toInt
      BloomDedup.shardCache.get(files(s)).mightContainLong(h)
    }
    val cand = batch
      .withColumn("__shard__", pmod(key(textCol), lit(shards)))
      .repartition(col("__shard__"))
      .filter(mightSharded(key(textCol)))
      .drop("__shard__")
    val confirmed = cand
      .join(seen.select(key(textCol).as("__k__"),
          lower(trim(col(textCol))).as("__t__")).distinct(),
        key(textCol) === col("__k__") &&
          lower(trim(col(textCol))) === col("__t__"), "left_semi")
      .select(col(idCol))
    TextDedup.exact(
      batch.join(confirmed, Seq(idCol), "left_anti"), textCol, idCol)
  }

  /** One shard filter file as the driver saw it. A filter's length is
    * fixed by (expectedItemsPerShard, fpp), so a retrain at the same
    * path with the same parameters is told apart by its modification
    * time alone: on a filesystem whose mtime is second-granular (an
    * object store's Last-Modified), a retrain within the same second
    * as the cached load is not seen, and the old filter is served. */
  private final case class ShardFile(path: String, shard: Int, len: Long, mtime: Long)

  /** Executor-local shard cache: each JVM loads a given shard file at
    * most once (concurrent tasks share it). Loading a shard evicts the
    * other versions of the same (path, shard), so the cache holds one
    * filter per shard file in use.
    */
  private object shardCache {
    private val loaded =
      new java.util.concurrent.ConcurrentHashMap[ShardFile, BloomFilter]()
    def get(k: ShardFile): BloomFilter = {
      val hit = loaded.get(k)
      if (hit != null) hit
      else {
        loaded.keySet.removeIf(o => o.path == k.path && o.shard == k.shard)
        loaded.computeIfAbsent(k, { k2 =>
          val p = shardPath(k2.path, k2.shard)
          // executor-side Configuration: picks up core-site/hdfs-site (and
          // object-store credentials) from the executor classpath — the
          // driver's SparkConf-derived Hadoop conf is not serializable
          // through a public API
          val in = p.getFileSystem(
            new org.apache.hadoop.conf.Configuration()).open(p)
          try BloomFilter.readFrom(in) finally in.close()
        })
      }
    }
  }
}
