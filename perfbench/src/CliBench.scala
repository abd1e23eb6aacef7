package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream, StringReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.cli.Main
import org.apache.spark.sql.SparkSession

/** Closed-loop CLI-job benchmark: one JVM, one client, each job issued
  * through `graft.cli.Main.parse` + `Main.execute` only after the
  * previous one returned.
  *
  * {{{
  * CliBench --workload NAME --seed N --seconds S --trace 0|1 --work DIR --out FILE [--mix K=V,...]
  * }}}
  *
  * A run is: session start, the workload's set-up, its warm-up jobs,
  * then one period of timed jobs, then the correctness checks. The
  * timed jobs are a fixed sequence, so a faster program runs the same
  * jobs, not more of them; a period is sized to last at least `--seconds`
  * on the reference host. `--mix` overrides the input shares (see
  * [[Mix]]). The result (one JSON object) goes to `--out`; everything
  * the program prints stays out of it.
  */
object CliBench {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String, mix: Mix)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--out"),
      Mix.parse(m.getOrElse("--mix", "")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val t0 = System.nanoTime()
    val spark = Session.open()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val cli = new Cli(spark)
    val wl: Workload = a.workload match {
      case "keyed_upsert" => new KeyedUpsert(cli, a.work, a.seed, a.mix)
      case "corpus_curate" => new CorpusCurate(cli, a.work, a.seed, a.mix)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      a.mix.unused.foreach(k => sys.error(s"--mix: no input share named $k"))
      val setupReps = wl.setUp()
      val setupS = sessionS + Stats.median(setupReps)
      val tracer = if (a.trace) Some(new Tracer(spark)) else None
      var j = 0
      var failed = 0
      def issue(timed: Boolean): Double = {
        val cmds = wl.commands(j)
        var ms = 0.0
        val body = () => {
          val t = System.nanoTime()
          try cmds.map(cli.run) finally ms = (System.nanoTime() - t) / 1e6
        }
        val outs =
          try Some(if (timed) tracer.fold(body())(_.job(wl.traceDirs(j),
            wl.inputBytes(j), cmds)(body())) else body())
          catch {
            case e: Throwable =>
              System.err.println(s"job $j failed: $e"); e.printStackTrace()
              None
          }
        outs match {
          case Some(o) => wl.record(j, o)
          case None => if (timed) failed += 1 else throw new IllegalStateException(
            s"warm-up job $j failed")
        }
        j += 1
        ms
      }
      val warm = (0 until wl.warmUpJobs).map(_ => issue(timed = false))
      val lat = ArrayBuffer.empty[Double]
      val host0 = Host.sample()
      val w0 = System.nanoTime()
      for (_ <- 0 until wl.period) lat += issue(timed = true)
      val windowS = (System.nanoTime() - w0) / 1e9
      val host1 = Host.sample()
      val checks = wl.check()
      checks.foreach(c => System.err.println(s"CHECK FAILED: $c"))
      val attempted = lat.size + wl.checkCount
      val allFailed = failed + checks.size
      val e2e = Seq(
        "setup_s" -> (setupS, "s"),
        "job_p50_ms" -> (Stats.median(lat.toSeq), "ms"),
        "jobs_per_s" -> (lat.size / windowS, "1/s"),
        "space_amp" -> (wl.spaceAmp(), "x"))
      val metrics = if (a.trace) tracer.get.report() else e2e
      val diag = Seq(
        "session_s" -> sessionS,
        "setup_reps_s" -> setupReps.map(Stats.fmt).mkString("[", ",", "]"),
        "warmup_jobs" -> warm.size, "timed_jobs" -> lat.size,
        "window_s" -> windowS,
        "mix" -> a.mix.toString,
        "window_steal_s" -> (host1.stealS - host0.stealS),
        "window_cpu_s" -> (host1.cpuS - host0.cpuS),
        "warmup_ms" -> warm.map(Stats.fmt).mkString("[", ",", "]"),
        "job_ms" -> lat.map(Stats.fmt).mkString("[", ",", "]")) ++
        (if (lat.size >= 100) Seq("job_p90_ms" -> Stats.quantile(lat.toSeq, 0.9))
         else Nil) ++
        (if (a.trace) e2e.map { case (k, (v, _)) => ("traced_" + k) -> v } :+
          ("trace_unplaced_actions" -> tracer.get.unplaced) else Nil)
      val json =
        s"""{"correct": ${checks.isEmpty}, "attempted": $attempted, "failed": $allFailed, """ +
        "\"metrics\": {" + metrics.map { case (k, (v, u)) =>
          s""""$k": {"value": ${Stats.fmt(v)}, "unit": "$u"}""" }.mkString(", ") +
        "}, \"diag\": {" + diag.map {
          case (k, v: Double) => s""""$k": ${Stats.fmt(v)}"""
          case (k, v: Int) => s""""$k": $v"""
          case (k, v) => s""""$k": $v"""
        }.mkString(", ") + "}}"
      Files.write(Paths.get(a.out), json.getBytes(UTF_8))
    } finally spark.stop()
  }
}

/** Input shares a workload reads with a default; `--mix` overrides
  * them (a sensitivity check of the layer split, not a metric input). */
final class Mix(values: Map[String, Double]) {
  private val read = scala.collection.mutable.Set.empty[String]
  def apply(key: String, default: Double): Double = { read += key; values.getOrElse(key, default) }
  def unused: Set[String] = values.keySet -- read
  override def toString: String =
    values.toSeq.sorted.map { case (k, v) => s"$k=${Stats.fmt(v)}" }.mkString("\"", ",", "\"")
}
object Mix {
  def parse(spec: String): Mix = new Mix(spec.split(",").filter(_.nonEmpty).map { kv =>
    val Array(k, v) = kv.split("=", 2); k -> v.toDouble
  }.toMap)
}

/** Builds the session through the CLI's own (private) `Main.session`,
  * so engine defaults — the fork-free local filesystem, shuffle
  * partitions, log level — are the ones a CLI user gets.
  */
object Session {
  def open(): SparkSession = {
    val m = Main.getClass.getDeclaredMethods
      .find(m => m.getName.endsWith("session") &&
        m.getParameterTypes.sameElements(Seq(classOf[Main.Opts])))
      .getOrElse(sys.error("graft.cli.Main.session(Opts) not found"))
    m.setAccessible(true)
    m.invoke(Main, Main.Opts()).asInstanceOf[SparkSession]
  }
}

/** One CLI command, the way a scheduled script issues it: stdin at end
  * of file (the confirm gate proceeds), stdout captured for the checks.
  */
final class Cli(val spark: SparkSession) {
  def run(args: Seq[String]): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withIn(new StringReader("")) {
      Console.withOut(ps) {
        val (job, opts) = Main.parse(args.toArray)
        Main.execute(spark, job, opts)
      }
    }
    ps.flush()
    buf.toString("UTF-8")
  }
}

/** Host steal (from /proc/stat) and process CPU seconds — diagnostics
  * printed next to the metrics, never metrics themselves. */
object Host {
  final case class Sample(stealS: Double, cpuS: Double)
  private val hz = 100.0 // USER_HZ on Linux
  def sample(): Sample = {
    val steal = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(
        _.trim.split("\\s+")(8).toDouble / hz).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
    Sample(steal, cpu)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Recursively listed regular files under `dir`: path -> bytes. */
  def listFiles(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else out += f.getPath -> f.length()
      walk(root)
      out.result()
    }
  }
  def dirBytes(dir: String): Long = listFiles(dir).values.sum
}
