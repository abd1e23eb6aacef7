package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.ExprShim

/** O3 live job progress (reference: `poll_job`'s server-poll loop
  * printing stage/row progress, etl_cli/base.py:366-392). The engine
  * analog is a SparkListener: stage completions and running record
  * counts are reported DURING the run, not just in the job log after
  * it. Registered only for the scope of one job — listeners are
  * process-wide, so the reporter is removed in a finally.
  */
object Progress {

  final class Listener(report: String => Unit) extends SparkListener {
    private val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    private val recordsWritten = new java.util.concurrent.atomic.AtomicLong(0)
    private val stages = new java.util.concurrent.atomic.AtomicLong(0)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        recordsWritten.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val n = stages.incrementAndGet()
      report(s"progress: stage ${e.stageInfo.stageId} done " +
        s"($n stages, ${e.stageInfo.numTasks} tasks, " +
        s"${recordsRead.get()} records read, ${recordsWritten.get()} written)")
    }
  }

  /** Run `body` with a progress reporter attached; every stage
    * completion emits one line through `report`.
    */
  def withProgress[A](spark: SparkSession, report: String => Unit)(body: => A): A = {
    val l = new Listener(report)
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      // the listener bus is async: deliver the job's pending stage
      // events before detaching. A drain that times out only loses
      // progress lines (the job itself has finished), so it warns
      // instead of failing the job.
      try ExprShim.drainListenerBus(spark, DrainTimeoutMs)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"progress: listener bus not drained within " +
            s"$DrainTimeoutMs ms; later stage events are not reported")
      } finally spark.sparkContext.removeSparkListener(l)
    }
  }

  private val DrainTimeoutMs = 10000L
}
