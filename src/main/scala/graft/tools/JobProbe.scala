package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev probe: run one SparkEntry query and print every Spark job's
  * wall time + call site — the fixed-overhead audit behind the
  * `q_dedup_cdc_index` gate work (BASELINE residual #2). Not part of
  * the driver protocol.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_dedup_cdc_index")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // the bench's core-count env, so the 8-vs-32 scaling inversions
    // can be drilled per job
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (System.nanoTime(), {
          // engine-frame attribution: first graft line in ANY stage's
          // call-site details, else the result stage's name
          val site = j.stageInfos.flatMap(_.details.linesIterator)
            .find(l => l.contains("graft.") && !l.contains("JobProbe"))
            .map(_.trim.stripPrefix("at ")).getOrElse(
              j.stageInfos.lastOption.map(_.name).getOrElse("?"))
          site
        }))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
          done.synchronized {
            done += ((j.jobId, t0, System.nanoTime(), site)); ()
          }
        }
      }
    })
    val fn = graft.SparkEntry.queries(name)
    // warm pass (matches the bench protocol)
    try fn(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => println(s"warm failed: $e") }
    done.synchronized(done.clear())
    // r19 gap attribution: sample the MAIN thread's stack every few ms
    // while no job runs — the poor-man's driver profile of guide §7.3
    // (the gaps are driver-side planning/commit work by construction)
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { active.incrementAndGet(); () }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { active.decrementAndGet(); () }
    })
    val mainThread = Thread.currentThread()
    val gapHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        if (active.get() == 0) {
          val st = mainThread.getStackTrace
          val graftF = st.find(f => f.getClassName.startsWith("graft."))
            .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
            .getOrElse("-")
          val topF = st.drop(2).headOption
            .map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse("?")
          gapHist.merge(s"$topF | $graftF", 1, (a, b) => a + b)
        }
        Thread.sleep(4)
      }
    })
    sampler.setDaemon(true); sampler.start()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val total = (System.nanoTime() - t0) / 1e9
    sampling = false
    Thread.sleep(300)
    val snap = done.synchronized(done.toVector).sortBy(_._2)
    println(f"== $name: ${snap.size} jobs, $total%.2f s wall ==")
    // r19: print each job on the query's own timeline plus the DRIVER
    // GAP since the previous job ended (negative start delta = jobs
    // overlap, e.g. broadcast futures) — job walls alone missed the
    // ~40% of this gate spent between jobs (planning/commit protocol)
    var prevEnd = t0
    snap.foreach { case (id, s0, s1, site) =>
      val gap = (s0 - prevEnd) / 1e9
      prevEnd = math.max(prevEnd, s1)
      println(f"job $id%3d  @${(s0 - t0) / 1e9}%6.2f  ${(s1 - s0) / 1e9}%6.3f s  gap=$gap%6.3f  $site")
    }
    println(f"sum(job wall) = ${snap.map(x => (x._3 - x._2) / 1e9).sum}%.2f s")
    println("== gap-time driver frames (4 ms samples while 0 jobs active) ==")
    import scala.jdk.CollectionConverters._
    gapHist.asScala.toSeq.sortBy(-_._2.intValue).take(30).foreach {
      case (k, n) => println(f"${n.intValue * 4}%6d ms  $k")
    }
    spark.stop()
  }
}
