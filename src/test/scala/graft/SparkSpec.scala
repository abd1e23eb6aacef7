package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (guide: one lazy session, local mode). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): DataFrame =
    graft.sources.Resolver.readParquet(spark, s"/root/testdata/sf0.001/$name.parquet")
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Wait until `count` has been stable for a full second — the async
    * listener-bus drain the zero-jobs proofs need — but BOUNDED
    * (ADVICE r17): a bus that never quiesces (a background stream, a
    * replaying listener) fails the test loudly after `timeoutMs`
    * instead of hanging the build with no diagnostic.
    */
  def awaitQuiet(count: () => Int, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last = -1; var stable = 0
    while (stable < 50) {
      if (System.nanoTime() > deadline)
        fail(s"listener bus did not quiesce within ${timeoutMs} ms " +
          s"(count still moving, last=$last)")
      val c = count()
      if (c == last) stable += 1 else { stable = 0; last = c }
      Thread.sleep(20)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
