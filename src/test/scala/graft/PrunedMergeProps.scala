package graft

import graft.operators.{PrunedMerge, WriteOps}
import graft.spec.{DatasetRef, TargetSpec, WriteOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property law for the file-pruned MERGE: over random op / key-band /
  * layout / collection-mode combinations, the pruned path must produce
  * EXACTLY the pure-transform result, keep untouched files
  * byte-identical, and leave the target untouched whenever it declines
  * (None). Covers both the exact key-set path and the distributed
  * range-summary path (maxBatchKeys = 5 forces summaries), flat and
  * hive-partitioned layouts.
  */
object PrunedMergeProps extends Properties("graft.prunedmerge") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case lays out + merges a parquet target

  private lazy val spark = SparkSpec.session

  private val ops = Vector(WriteOp.Upsert, WriteOp.Update, WriteOp.Delete,
    WriteOp.Insert, WriteOp.Index)

  private lazy val base: DataFrame = {
    import spark.implicits._
    (0 until 4000).map(i =>
      (i.toLong, s"g${i % 3}", (i * 7 % 101).toDouble)).toDF("id", "grp", "v")
  }

  private def canon(d: DataFrame): Set[Seq[Any]] =
    d.collect().toSet.map((r: org.apache.spark.sql.Row) =>
      r.schema.fieldNames.sorted.toSeq.map(f => r.get(r.fieldIndex(f))))

  private def walkFiles(d: java.io.File, rel: String = ""): Map[String, (Long, Long)] =
    Option(d.listFiles()).getOrElse(Array.empty).flatMap { f =>
      val r = if (rel.isEmpty) f.getName else s"$rel/${f.getName}"
      if (f.isDirectory) walkFiles(f, r)
      else if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
        Map(r -> (f.length, f.lastModified))
      else Map.empty[String, (Long, Long)]
    }.toMap

  private val genCase = for {
    opIdx <- Gen.chooseNum(0, ops.size - 1)
    lo <- Gen.chooseNum(0L, 3500L)
    width <- Gen.chooseNum(0L, 800L)
    partitioned <- Gen.oneOf(true, false)
    summary <- Gen.oneOf(true, false)
  } yield (opIdx, lo, width, partitioned, summary)

  property("pruned ≡ pure transform; untouched byte-identity; None = no-op") =
    forAll(genCase) { case (opIdx, lo, width, partitioned, summary) =>
      val tmp = java.nio.file.Files.createTempDirectory("pm_props")
      val dir = tmp.toString
      try {
        val op = ops(opIdx)
        val p = s"$dir/t.parquet"
        val pcols = if (partitioned) Seq("grp") else Nil
        WriteOps.atomicOverwrite(spark, base, p, partitionBy = pcols,
          indexBy = Seq("id"), maxRecordsPerFile = 300)
        val batch0 = base.filter(col("id") >= lo && col("id") < lo + width)
        val batch =
          if (op == WriteOp.Insert) batch0.withColumn("id", col("id") + 10000L)
          else batch0.withColumn("v", col("v") + 1000.0)
        val spec = TargetSpec(DatasetRef("parquet", dir, "t"), op = op,
          pk = Seq("id"), indexBy = Seq("id"), partitionBy = pcols)
        val before = walkFiles(new java.io.File(p))
        val cur = spark.read.parquet(p)
        val expected = canon(WriteOps.applyOp(cur, batch, spec))
        val stats = PrunedMerge.merge(spark, cur, batch, spec, p,
          maxBatchKeys = if (summary) 5L else 1L << 20)
        val after = walkFiles(new java.io.File(p))
        val got = canon(spark.read.parquet(p))
        stats match {
          case Some(st) =>
            val kept = before.count { case (n, m) => after.get(n).contains(m) }
            got == expected &&
              kept == st.filesTotal - st.filesRewritten &&
              st.filesRewritten <= st.filesTotal
          case None =>
            // declined → the caller falls back; target must be untouched
            after == before && got == canon(base)
        }
      } finally SparkSpec.deleteTree(tmp)
    }
}
