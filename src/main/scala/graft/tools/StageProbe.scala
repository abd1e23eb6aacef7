package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev probe: run one SparkEntry query and print every STAGE's summed
  * task time, task count and name — the CPU-attribution view JobProbe's
  * wall-clock timeline cannot give when jobs overlap (broadcast
  * futures). Not part of the driver protocol.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.tools.StageProbe q_x'
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_langid_nb")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val lock = new Object
    case class St(id: Int, name: String, tasks: Int, taskMs: Long,
                  cpuMs: Long, gcMs: Long, shufWriteMB: Double,
                  shufReadMB: Double, inMB: Double, records: Long)
    val done = scala.collection.mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        lock.synchronized {
          val i = s.stageInfo
          val m = i.taskMetrics
          done += St(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
            if (m != null) m.executorRunTime else 0L,
            if (m != null) m.executorCpuTime / 1000000 else 0L,
            if (m != null) m.jvmGCTime else 0L,
            if (m != null) m.shuffleWriteMetrics.bytesWritten / 1e6 else 0.0,
            if (m != null) m.shuffleReadMetrics.totalBytesRead / 1e6 else 0.0,
            if (m != null) m.inputMetrics.bytesRead / 1e6 else 0.0,
            if (m != null) m.outputMetrics.recordsWritten +
              m.inputMetrics.recordsRead else 0L)
          ()
        }
    })
    def drain(): Unit =
      try org.apache.spark.sql.graftshim.ExprShim.drainListenerBus(spark, 10000)
      catch { case _: Throwable => Thread.sleep(400) }
    // executor-thread stack sampler: histogram the top in-graft/in-spark
    // frame of every running task thread every 4 ms — the CPU
    // attribution view when task metrics alone cannot explain the time
    val stackHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val exemplar = new java.util.concurrent.ConcurrentHashMap[String, String]()
    @volatile var samplingOn = false
    val sampler = new Thread(() => {
      while (true) {
        if (samplingOn) {
          val ts = Thread.getAllStackTraces
          ts.forEach { (t, st) =>
            if (t.getName.startsWith("Executor task launch") &&
                t.getState == Thread.State.RUNNABLE && st.nonEmpty) {
              val interesting = st.find { f =>
                val c = f.getClassName
                c.startsWith("graft.") ||
                c.contains("regex") || c.contains("codegen") ||
                c.startsWith("org.apache.spark.sql.catalyst.expressions") ||
                c.startsWith("org.apache.spark.unsafe") ||
                c.startsWith("org.apache.parquet") ||
                c.startsWith("java.util.zip") || c.contains("lz4") ||
                c.contains("Broadcast") || c.contains("HashedRelation")
              }.orElse(st.headOption)
              interesting.foreach { f =>
                val key = s"${f.getClassName}.${f.getMethodName}"
                stackHist.merge(key, 1, (a, b) => a + b)
                // one exemplar full stack per zip/inflater frame — the
                // histogram alone cannot say WHO opened the stream
                if (key.contains("zip") || key.contains("Inflater"))
                  exemplar.putIfAbsent(key,
                    st.take(18).map(x => s"    ${x.getClassName}.${x.getMethodName}:${x.getLineNumber}")
                      .mkString("\n"))
              }
            }
          }
        }
        Thread.sleep(4)
      }
    })
    sampler.setDaemon(true); sampler.start()
    val fn = graft.SparkEntry.queries(name)
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => println(s"warm failed: $e") }
    try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => }
    drain()
    lock.synchronized(done.clear())
    samplingOn = true
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    samplingOn = false
    drain()
    val snap = lock.synchronized(done.toVector)
    println(f"== $name: ${snap.size} stages, $total%.2f s wall, " +
      f"sum(taskMs)=${snap.map(_.taskMs).sum} cpuMs=${snap.map(_.cpuMs).sum} ==")
    snap.sortBy(-_.taskMs).take(25).foreach { s =>
      println(f"stage ${s.id}%4d  taskMs=${s.taskMs}%7d cpuMs=${s.cpuMs}%7d " +
        f"gcMs=${s.gcMs}%6d tasks=${s.tasks}%4d inMB=${s.inMB}%7.1f " +
        f"sw=${s.shufWriteMB}%6.1f sr=${s.shufReadMB}%6.1f " +
        f"rec=${s.records}%9d  ${s.name}")
    }
    println("== executor task-thread frames (4 ms samples, RUNNABLE only) ==")
    import scala.jdk.CollectionConverters._
    stackHist.asScala.toSeq.sortBy(-_._2.intValue).take(25).foreach {
      case (k, n) => println(f"${n.intValue}%6d  $k")
    }
    exemplar.asScala.foreach { case (k, st) =>
      println(s"== exemplar stack for $k ==\n$st")
    }
    spark.stop()
  }
}
