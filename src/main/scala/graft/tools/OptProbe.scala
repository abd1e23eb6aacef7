package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** r18 optimization probe (guide §1/§7): per-query JOB/STAGE/TASK
  * counts and wall time under the bench's exact session shape. The
  * bench suite at sf0.1 is overhead-bound (the data is MBs), so the
  * first derivative of a query's seconds is its scheduled-work count,
  * not its byte throughput — this prints exactly that, per query:
  *
  *   OPTPROBE <name> <sec> jobs=<n> stages=<n> tasks=<n> shuffleMB=<n>
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.tools.OptProbe q_a q_b'
  * (each query runs twice; the SECOND run is reported — steady state,
  * same as the bench's warm protocol).
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one lock shared by the listener callbacks and main's reset/read
    // (r19, ADVICE: the callbacks previously synchronized on the
    // listener instance while main synchronized on OptProbe — two
    // monitors, so resets raced in-flight events)
    val lock = new Object
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskTimeMs = 0L
    var shuffleBytes = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        lock.synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          stages += 1
          val m = s.stageInfo.taskMetrics
          if (m != null) shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        lock.synchronized {
          tasks += 1
          if (t.taskInfo != null) taskTimeMs += t.taskInfo.duration
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // deterministic drain: waitUntilEmpty replaces the 400 ms sleep
    // (late bus events otherwise bleed warm-pass counts into the run)
    def drain(): Unit =
      try org.apache.spark.sql.graftshim.ExprShim.drainListenerBus(spark, 10000)
      catch { case _: Throwable => Thread.sleep(400) }

    for (name <- args) {
      val fn = graft.SparkEntry.queries(name)
      // pass 1: warm (codegen/JIT/page cache) — not reported
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"$name warm: $e") }
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => }
      // drain listener events from the warm pass before counting
      drain()
      lock.synchronized { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L; shuffleBytes = 0L }
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"$name run: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      drain()
      lock.synchronized {
        println(f"OPTPROBE $name $dt%.2f s jobs=$jobs stages=$stages " +
          f"tasks=$tasks taskTimeMs=$taskTimeMs shuffleMB=${shuffleBytes / 1e6}%.1f")
      }
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => }
    }
    spark.stop()
  }
}
