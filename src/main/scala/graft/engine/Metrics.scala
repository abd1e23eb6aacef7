package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.ExprShim

/** The engine's job ledger (reference: `poll_job`'s progress loop and
  * the cProfile wrap behind `--profile`, etl_cli/base.py:141,287-288,
  * 366-392). While [[record]] runs, one listener keeps
  *
  *   - per Spark job: the start and end times Spark stamped on it, its
  *     `spark.sql.execution.id` and the first `graft.` frame of its
  *     call site (the job's own stages first, else the SQL execution
  *     it runs under: broadcast and adaptive query-stage jobs are
  *     submitted from Spark's own threads, whose stacks hold no
  *     `graft.` frame);
  *   - per completed stage: the task count and the task metrics Spark
  *     summed for the stage (run/CPU/GC time, input/output/shuffle/
  *     spill bytes and records).
  *
  * `progress` gets one `progress: stage …` line per completed stage
  * during the run (O3). Listeners are process-wide: jobs of other
  * threads that run inside the scope are recorded too.
  */
final class Metrics(progress: Option[String => Unit] = None) extends SparkListener {
  import Metrics._

  /** Wall-clock origin of the job timeline (Spark stamps its job
    * events with the same clock). */
  private val originMs: Long = System.currentTimeMillis()

  private val lock = new Object
  private val jobRows = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageRows = scala.collection.mutable.ArrayBuffer.empty[Stage]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val execSites = scala.collection.mutable.HashMap.empty[Long, String]
  private var sum = Tally.Zero

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(_.toLongOption)
    val own = e.stageInfos.iterator.flatMap(s => graftFrame(s.details)).nextOption()
    lock.synchronized {
      val site = own.orElse(exec.flatMap(execSites.get))
        .getOrElse(e.stageInfos.lastOption.map(s => firstLine(s.name)).getOrElse("?"))
      jobRows(e.jobId) = Job(e.jobId, e.time, None, exec, site)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobRows.get(e.jobId).foreach(j => jobRows(e.jobId) = j.copy(endMs = Some(e.time)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      graftFrame(s.details).foreach(f => lock.synchronized(execSites(s.executionId) = f))
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val line = lock.synchronized {
      val s = Stage(i.stageId, stageJob.get(i.stageId), firstLine(i.name), Tally.of(i))
      stageRows += s
      sum = sum + s.tally
      s"progress: stage ${s.id} done (${stageRows.size} stages, " +
        s"${s.tally.tasks} tasks, ${sum.inputRecords} records read, " +
        s"${sum.outputRecords} written)"
    }
    progress.foreach(_(line))
  }

  /** Run `body` with this ledger attached. The listener bus is
    * asynchronous, so the scope drains it before detaching — bounded:
    * a drain that times out leaves the ledger short of late events
    * (the job itself has finished) and warns instead of failing.
    */
  def record[A](spark: SparkSession)(body: => A): A = {
    spark.sparkContext.addSparkListener(this)
    try body
    finally {
      try ExprShim.drainListenerBus(spark, DrainTimeoutMs)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"metrics: listener bus not drained within " +
            s"$DrainTimeoutMs ms; the job ledger misses later events")
      } finally spark.sparkContext.removeSparkListener(this)
    }
  }

  /** Recorded jobs in start order. */
  def jobs: Seq[Job] = lock.synchronized(jobRows.values.toVector).sortBy(j => (j.startMs, j.id))

  /** Completed stages in completion order. */
  def stages: Seq[Stage] = lock.synchronized(stageRows.toVector)

  /** The stage metrics summed over every completed stage. */
  def totals: Tally = lock.synchronized(sum)

  /** One row per job on the scope's timeline: start offset, duration,
    * the driver gap since the previous job ended (jobs that overlap,
    * e.g. broadcasts, show a negative gap), execution id, call site.
    */
  def jobLines: Seq[String] = {
    var prevEnd = originMs
    jobs.map { j =>
      val gap = (j.startMs - prevEnd) / 1e3
      prevEnd = math.max(prevEnd, j.endMs.getOrElse(j.startMs))
      val dur = j.endMs.fold("     ?  ")(e => f"${(e - j.startMs) / 1e3}%6.3f s")
      f"job ${j.id}%4d  @${(j.startMs - originMs) / 1e3}%7.3f s  $dur  " +
        f"gap=${gap}%7.3f  exec=${j.executionId.fold("-")(_.toString)}%-5s  ${j.callSite}"
    }
  }

  /** One row per completed stage, in stage id order. */
  def stageLines: Seq[String] = stages.sortBy(_.id).map { s =>
    f"stage ${s.id}%4d  job=${s.jobId.fold("-")(_.toString)}%-4s  ${s.tally.render}  ${s.name}"
  }

  /** The stage totals on one line. */
  def totalsLine: String = s"${stages.size} stages  ${totals.render}"
}

object Metrics {

  final case class Job(id: Int, startMs: Long, endMs: Option[Long],
                       executionId: Option[Long], callSite: String)

  final case class Stage(id: Int, jobId: Option[Int], name: String, tally: Tally)

  /** Task metrics of one or more stages, summed. */
  final case class Tally(tasks: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                         inputBytes: Long, inputRecords: Long,
                         outputBytes: Long, outputRecords: Long,
                         shuffleReadBytes: Long, shuffleReadRecords: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         spillBytes: Long) {
    def +(o: Tally): Tally = Tally(tasks + o.tasks, runMs + o.runMs,
      cpuMs + o.cpuMs, gcMs + o.gcMs, inputBytes + o.inputBytes,
      inputRecords + o.inputRecords, outputBytes + o.outputBytes,
      outputRecords + o.outputRecords, shuffleReadBytes + o.shuffleReadBytes,
      shuffleReadRecords + o.shuffleReadRecords,
      shuffleWriteBytes + o.shuffleWriteBytes,
      shuffleWriteRecords + o.shuffleWriteRecords, spillBytes + o.spillBytes)

    def render: String =
      s"tasks=$tasks runMs=$runMs cpuMs=$cpuMs gcMs=$gcMs " +
        s"in=${inputBytes}B/${inputRecords}r out=${outputBytes}B/${outputRecords}r " +
        s"shuffleRead=${shuffleReadBytes}B/${shuffleReadRecords}r " +
        s"shuffleWrite=${shuffleWriteBytes}B/${shuffleWriteRecords}r spill=${spillBytes}B"
  }

  object Tally {
    val Zero: Tally = Tally(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

    /** A completed stage's tally; a stage without metrics counts its
      * tasks only. */
    def of(i: StageInfo): Tally = Option(i.taskMetrics).fold(Zero.copy(tasks = i.numTasks.toLong)) { m =>
      Tally(i.numTasks.toLong, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val DrainTimeoutMs = 10000L

  private val GraftFrame = """(?:^|[\s/])(graft\.\S+)""".r

  /** The first `graft.` frame of a Spark call-site long form. */
  private def graftFrame(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.linesIterator)
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1))).nextOption()

  private def firstLine(s: String): String = Option(s).fold("")(_.takeWhile(_ != '\n'))
}
