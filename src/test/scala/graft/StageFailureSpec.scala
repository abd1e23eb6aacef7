package graft

import graft.operators.{PrunedMerge, Snapshot, WriteOps}
import graft.spec.{DatasetRef, TargetSpec, WriteOp}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** A snapshot writer whose staging write fails leaves the table as it
  * was: the same head version, no stage dir under the root, no new
  * pool file, no merge temp dir beside the root, and a clean `fsck`.
  * One row per writer; each writer's frame carries a UDF that throws
  * on one row, so the failure lands inside the staged write.
  */
class StageFailureSpec extends SparkSpec {
  import spark.implicits._

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Identity on `txt`, except that the row `txt = "v7"` throws. */
  private val boomTxt = udf { (s: String) =>
    if (s == "v7") throw new IllegalStateException("stage failure probe at v7")
    s
  }

  /** Identity on `id`, except that the row `id = 7` throws. */
  private val boomId = udf { (i: Long) =>
    if (i == 7L) throw new IllegalStateException("stage failure probe at 7")
    i
  }

  private def seed(p: String): Unit =
    WriteOps.atomicOverwrite(spark,
      (0L until 50L).map(i => (i, s"w$i", (i % 5).toInt)).toDF("id", "txt", "grp"),
      p, indexBy = Seq("id"), maxRecordsPerFile = 10,
      commitMode = "snapshot", keepVersions = 10)

  /** Rows for ids 5..9 whose `txt` runs through [[boomTxt]] (id 7 throws). */
  private def poisoned: DataFrame =
    (5L until 10L).map(i => (i, s"v$i", 9)).toDF("id", "txt", "grp")
      .withColumn("txt", boomTxt(col("txt")))

  private def filesUnder(root: String): Set[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(_.toString).toSet
    finally walk.close()
  }

  private val writers: Seq[(String, (String, String) => Any)] = Seq(
    "overwrite" -> { (_: String, p: String) =>
      Snapshot.overwrite(spark, poisoned, p, indexBy = Seq("id"),
        maxRecordsPerFile = 10, keepVersions = 10)
    },
    "appendBatch" -> { (_: String, p: String) =>
      Snapshot.appendBatch(spark, p, poisoned, keepVersions = 10)
    },
    "upsertAppend" -> { (_: String, p: String) =>
      Snapshot.upsertAppend(spark, p, poisoned, Seq("id"),
        indexBy = Seq("id"), keepVersions = 10)
    },
    "deleteByKeys" -> { (_: String, p: String) =>
      Snapshot.deleteByKeys(spark, p,
        (5L until 10L).toDF("id").select(boomId(col("id")).as("id")),
        keepVersions = 10)
    },
    "pruned snapshot merge" -> { (dir: String, p: String) =>
      val t = TargetSpec(DatasetRef("parquet", dir, "t"), op = WriteOp.Upsert,
        pk = Seq("id"), indexBy = Seq("id"), commitMode = "snapshot",
        keepVersions = 10)
      PrunedMerge.merge(spark, graft.sources.Resolver.readParquet(spark, p),
        poisoned, t, p)
    })

  writers.foreach { case (name, write) =>
    test(s"a failed stage leaves the table as it was: $name") {
      val dir = tempDir("stage_fail")
      val p = s"$dir/t.parquet"
      seed(p)
      val root = new Path(p)
      val headBefore = Snapshot.committed(fs, root).last._1
      val poolBefore = filesUnder(s"$p/${Snapshot.DataDirName}")
      val e = intercept[Exception](write(dir, p))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains("stage failure probe"))),
        s"$name failed for another reason: $e")
      assert(Snapshot.committed(fs, root).last._1 == headBefore)
      val rootNames = fs.listStatus(root).map(_.getPath.getName)
      assert(!rootNames.exists(_.startsWith("._snap_stage_")),
        s"$name left a stage dir: ${rootNames.toSeq}")
      assert(filesUnder(s"$p/${Snapshot.DataDirName}") == poolBefore,
        s"$name left pool files")
      val siblings = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      assert(!siblings.exists(_.contains("._merge_tmp_")),
        s"$name left a merge temp dir: ${siblings.toSeq}")
      val errors = Snapshot.fsck(spark, p).filter(col("severity") === "error")
        .collect().map(_.mkString(" "))
      assert(errors.isEmpty, errors.mkString("\n"))
      assert(Snapshot.readAt(spark, p).count() == 50L)
    }
  }
}
