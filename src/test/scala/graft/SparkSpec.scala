package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (guide: one lazy session, local mode). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** A fresh scratch directory under the JVM temp dir, deleted with
    * everything in it when the suite finishes.
    */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(SparkSpec.deleteTree(_))
    finally super.afterAll()

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
  /** Best-effort recursive delete: a file that vanished or cannot be
    * removed is skipped, never fails the suite.
    */
  def deleteTree(root: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach { p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
          ()
        }
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }

  lazy val session: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(deleteTree(warehouse))
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
