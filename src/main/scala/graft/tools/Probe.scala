package graft.tools

import graft.engine.Metrics

/** Dev probe: run named SparkEntry queries under the engine's job
  * ledger ([[Metrics]]) and print, per query, the scheduled-work line
  *
  *   OPTPROBE <name> <sec> s jobs=<n> stages=<n> tasks=<n> taskTimeMs=<n> shuffleMB=<n>
  *
  * (taskTimeMs = summed executor run time), then the job timeline
  * (start, duration, driver gap, SQL execution id, call site) and the
  * per-stage table. Warms like `Bench`: one pass of every named query
  * at sf0.001, caches cleared after each run; `Bench` stays the timing
  * of record. Thread sampling is left to JDK Flight Recorder
  * (`-XX:StartFlightRecording`), which does it from outside the
  * program.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.tools.Probe q_a q_b'
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) Seq("q_dedup_cdc_index") else args.toSeq
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(name: String, dir: String): Unit =
      try graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) => System.err.println(s"$name ($dir): $e") }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      names.foreach { name =>
        run(name, warmDir)
        spark.sharedState.cacheManager.clearCache()
      }
    names.foreach { name =>
      val m = new Metrics()
      val sec = m.record(spark) {
        val t0 = System.nanoTime()
        run(name, sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      spark.sharedState.cacheManager.clearCache()
      val t = m.totals
      println(f"OPTPROBE $name $sec%.2f s jobs=${m.jobs.size} stages=${m.stages.size} " +
        f"tasks=${t.tasks} taskTimeMs=${t.runMs} shuffleMB=${t.shuffleWriteBytes / 1e6}%.1f")
      println(s"== $name: job timeline ==")
      m.jobLines.foreach(println)
      println(s"== $name: stages ==")
      m.stageLines.foreach(println)
      println(s"total ${m.totalsLine}")
    }
    spark.stop()
  }
}
