package graft

import org.apache.hadoop.fs.Path

/** graft.sources.FastLocalFs (r19): the fork-free `file://`
  * implementation the entry-point sessions configure. The rest of the
  * suite exercises it transitively (SparkSpec's session ships it);
  * this spec pins the three properties the class exists for.
  */
class FastLocalFsSpec extends SparkSpec {

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("session file:// filesystem is FastLocalFs with scheme 'file'") {
    assert(fs.isInstanceOf[graft.sources.FastLocalFs])
    // Snapshot.atomicCreate branches on getScheme == "file" for its
    // POSIX O_EXCL lock create — the subclass must keep reporting it
    assert(fs.getScheme == "file")
  }

  test("writes produce no .crc sidecar and read back byte-identical") {
    val dir = new java.io.File(tempDir("graft_fastfs"))
    val p = new Path(dir.toString, "payload.bin")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    val in = fs.open(p)
    val back = new Array[Byte](bytes.length)
    try in.readFully(back) finally in.close()
    assert(back.toSeq == bytes.toSeq)
    val names = dir.listFiles().map(_.getName).toSet
    assert(names == Set("payload.bin"), s"unexpected sidecars: $names")
  }

  test("parquet round-trip through the engine write path") {
    import spark.implicits._
    val dir = tempDir("graft_fastfs_pq")
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    graft.operators.WriteOps.atomicOverwrite(spark, df, s"$dir/t.parquet",
      indexBy = Seq("k"), commitMode = "snapshot")
    val back = graft.operators.Snapshot.readAt(spark, s"$dir/t.parquet")
    assert(back.count() == 100L)
    assert(back.agg(org.apache.spark.sql.functions.sum("k")).head.getLong(0)
      == 5050L)
  }
}
