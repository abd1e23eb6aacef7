package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Events the traced run's listeners collect, JVM-wide: Spark builds
  * one [[TraceQeListener]] per session (the maintenance twin sessions
  * `operators.MaintProfile` creates included), so they all feed here.
  * Times are wall-clock milliseconds, the clock Spark stamps events with.
  */
object TraceStore {
  final case class TaskRec(finishMs: Long, cpuNs: Long, inputBytes: Long,
                           shuffleWriteBytes: Long, outputBytes: Long,
                           spillBytes: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  private val seenPhases = ConcurrentHashMap.newKeySet[(Int, String, Long)]()
  /** End time of each SQL execution by its `QueryExecution.id`, as
    * stamped when the action ended on the issuing thread. */
  val execEnd = new ConcurrentHashMap[Long, java.lang.Long]()
  final case class Action(qeId: Long, lastPhaseEndMs: Long, files: Long)
  val actions = new ConcurrentLinkedQueue[Action]()

  def recordQe(qe: QueryExecution): Unit = {
    val id = System.identityHashCode(qe)
    qe.tracker.phases.foreach { case (name, p) =>
      // one QueryExecution can serve several actions; count its phases once
      if (seenPhases.add((id, name, p.startTimeMs)))
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
    }
    // The callback runs later, on the listener bus: its own clock says
    // nothing about when the action ran, so the action is placed by its
    // execution's end event (or, lacking one, its last Catalyst phase).
    actions.add(Action(qe.id, (0L +: qe.tracker.phases.values.map(_.endTimeMs).toSeq).max,
      filesScanned(qe.executedPlan)))
  }

  /** When an action ended, by the clocks the action itself recorded. */
  def actionMs(a: Action): Long = Option(execEnd.get(a.qeId)).fold(a.lastPhaseEndMs)(_.longValue)

  /** Sum of the `numFiles` scan metric over the executed plan, adaptive
    * stages and subqueries included. */
  def filesScanned(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val nested = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    own + nested.map(filesScanned).sum
  }
}

/** Registered through `spark.extraListeners` in the traced run only. */
class TraceListener extends SparkListener {
  import TraceStore._
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.perfbenchshim.SqlEventShim.queryExecution(end)
        .foreach(qe => execEnd.put(qe.id, end.time))
    case _ =>
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** Registered through `spark.sql.queryExecutionListeners` in the traced
  * run only, so every session of the context gets one. */
class TraceQeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    TraceStore.recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    TraceStore.recordQe(qe)
}

/** Per-job layer split of the traced run. Each timed job records its
  * wall window plus the driver-side figures only the issuing thread can
  * take (GC, Hadoop FileSystem thread statistics, table listings, and a
  * timed `Planner.plan` of each command's spec against the pre-job
  * state, made just before the job); listener events are attributed to
  * job windows at the end, by the times Spark stamped on them.
  */
final class Tracer(spark: SparkSession) {
  private final case class JobRec(startMs: Long, endMs: Long, planMs: Double,
                                  gcMs: Double, fsRead: Long, fsWritten: Long,
                                  added: Int, removed: Int, addedBytes: Long,
                                  inputBytes: Long, tableFiles: Int)
  private val recs = ArrayBuffer.empty[JobRec]

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getThreadStatistics)
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
  private def listing(dirs: Seq[String]): Map[String, Long] =
    dirs.map(Stats.listFiles).foldLeft(Map.empty[String, Long])(_ ++ _)

  /** `Planner.plan` of each command, timed. Whatever the plans persisted
    * (the near-duplicate mining of `dedup_keep_best` checkpoints its pairs
    * while planning) is dropped, so the job itself runs on the memory
    * it would have had. */
  private def replan(cmds: Seq[Seq[String]]): Double = {
    val sc = spark.sparkContext
    val kept = sc.getPersistentRDDs.keySet
    val t = System.nanoTime()
    cmds.foreach { c =>
      val (spec, _) = graft.cli.Main.parse(c.toArray)
      graft.engine.Planner.plan(spark, spec)
    }
    val ms = (System.nanoTime() - t) / 1e6
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = true) }
    ms
  }

  def job[A](dirs: Seq[String], inputBytes: Long, cmds: Seq[Seq[String]])(body: => A): A = {
    val planMs = replan(cmds)
    val before = listing(dirs)
    val (r0, w0) = fsBytes()
    val gc0 = gcMs()
    val s = System.currentTimeMillis()
    val out = body
    val e = System.currentTimeMillis()
    val gc1 = gcMs()
    val (r1, w1) = fsBytes()
    val after = listing(dirs)
    val added = after.keySet -- before.keySet
    recs += JobRec(s, e, planMs, (gc1 - gc0).toDouble, r1 - r0, w1 - w0,
      added.size, (before.keySet -- after.keySet).size,
      added.toSeq.map(after).sum, inputBytes, after.size)
    out
  }

  /** Length of the union of `spans`, clipped to [s, e]. */
  private def covered(spans: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    spans.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Actions without an execution-end event, placed by their last
    * Catalyst phase instead (a diagnostic of the attribution). */
  var unplaced = 0

  def report(): Seq[(String, (Double, String))] = {
    org.apache.spark.sql.graftshim.ExprShim.drainListenerBus(spark, 60000)
    import TraceStore._
    val jobSpans = jobs.asScala.toSeq
    val phaseSeq = phases.asScala.toSeq
    val taskSeq = tasks.asScala.toSeq
    val actMs = actions.asScala.toSeq.map(a => (actionMs(a), a.files))
    unplaced = actions.asScala.count(a => !execEnd.containsKey(a.qeId))
    val n = recs.size.toDouble
    def in(t: Long, r: JobRec) = t >= r.startMs && t <= r.endMs
    def perJob(f: JobRec => Double): Double = recs.map(f).sum / n
    def phaseMs(name: String)(r: JobRec): Double =
      covered(phaseSeq.filter(_.name == name).map(p => (p.startMs, p.endMs)),
        r.startMs, r.endMs).toDouble
    def tasksOf(r: JobRec) = taskSeq.filter(t => in(t.finishMs, r))
    Seq(
      "engine.driver_ms" -> (perJob { r =>
        val spans = jobSpans ++ phaseSeq.filter(_.name != "parsing")
          .map(p => (p.startMs, p.endMs))
        (r.endMs - r.startMs - covered(spans, r.startMs, r.endMs)).toDouble
      }, "ms"),
      "engine.plan_ms" -> (perJob(_.planMs), "ms"),
      "catalyst.actions" -> (perJob(r => actMs.count(a => in(a._1, r)).toDouble), "count"),
      "catalyst.analysis_ms" -> (perJob(phaseMs("analysis")), "ms"),
      "catalyst.optimization_ms" -> (perJob(phaseMs("optimization")), "ms"),
      "catalyst.planning_ms" -> (perJob(phaseMs("planning")), "ms"),
      "spark.jobs" -> (perJob(r => jobSpans.count(j => in(j._1, r)).toDouble), "count"),
      "spark.tasks" -> (perJob(r => tasksOf(r).size.toDouble), "count"),
      "spark.job_ms" -> (perJob(r => covered(jobSpans, r.startMs, r.endMs).toDouble), "ms"),
      "spark.task_cpu_ms" -> (perJob(r => tasksOf(r).map(_.cpuNs).sum / 1e6), "ms"),
      "spark.gc_ms" -> (perJob(_.gcMs), "ms"),
      "spark.input_bytes" -> (perJob(r => tasksOf(r).map(_.inputBytes).sum.toDouble), "bytes"),
      "spark.shuffle_write_bytes" -> (perJob(r =>
        tasksOf(r).map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
      "spark.output_bytes" -> (perJob(r => tasksOf(r).map(_.outputBytes).sum.toDouble), "bytes"),
      "spark.spill_bytes" -> (perJob(r => tasksOf(r).map(_.spillBytes).sum.toDouble), "bytes"),
      "sources.files_scanned" -> (perJob(r =>
        actMs.filter(a => in(a._1, r)).map(_._2).sum.toDouble), "count"),
      "operators.driver_bytes_read" -> (perJob(_.fsRead.toDouble), "bytes"),
      "operators.driver_bytes_written" -> (perJob(_.fsWritten.toDouble), "bytes"),
      "operators.files_added" -> (perJob(_.added.toDouble), "count"),
      "operators.files_removed" -> (perJob(_.removed.toDouble), "count"),
      "operators.write_amp" -> (perJob(r =>
        if (r.inputBytes > 0) r.addedBytes.toDouble / r.inputBytes else 0.0), "x"),
      "operators.table_files" -> (perJob(_.tableFiles.toDouble), "count"))
  }
}
