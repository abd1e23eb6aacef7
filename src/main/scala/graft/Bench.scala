package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/FS paths so measurements reflect steady
    // state: a dry pass of every query at the smallest SF compiles the
    // same generated classes the measured run will hit (codegen cache
    // keys on generated source, which is data-size independent).
    // First-run codegen+JIT otherwise dominates at bench scale (e.g.
    // 8.7 s cold vs 2.0 s warm on the dedup pipeline).
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    catch { case _: Throwable => }
    // Deterministic NAME order (r10): `queries` is a HashMap, so its
    // iteration order reshuffles whenever the key set grows — r9 added
    // 5 queries and every query's in-suite neighbors (hence the JVM/
    // GC/page-cache state it starts from) changed, which showed up as
    // unexplained ×2-4 per-query drift on code-identical queries
    // (q_bpe_pairs ×4.7 in-suite vs 1.45× exclusive-warm). Sorted
    // order makes per-query numbers comparable across rounds.
    // dev filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those
    // queries (the recorded per-round numbers always run the full set)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      ordered.foreach { case (_, fn) =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => } // warmup failures surface in the timed run
        try spark.sharedState.cacheManager.clearCache()
        catch { case _: Throwable => }
      }
    // NOISE-ROBUST protocol (r13, verdict #1): same-code totals spanned
    // 139.6→295.7 s across round-12 runs — host noise (±35-110%,
    // uniform per-query inflation during stall windows) exceeded the
    // 2×-vs-baseline bar's margin, making single-shot numbers
    // unadjudicatable. Each query now runs REPS times in-process and
    // the reported per-query number is the MEDIAN (min also recorded):
    // a transient host stall inflates at most one rep, and the median
    // of three is immune to any single outlier. The headline "value"
    // is the sum of per-query medians — the number a stall-free
    // single-pass run would produce.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // INTERLEAVED passes (r13, second half): reps of one query run a
    // full suite apart, not back-to-back. The observed failure mode is
    // a minutes-long degraded host window — consecutive reps all land
    // inside it and the median learns nothing (r12's inflated
    // alphabetical band, and the 65%-within-1.15× two-run agreement
    // the back-to-back protocol measured). With pass interleaving a
    // window shorter than a whole pass (~5-10 min) can touch at most
    // ONE rep of any query, which the median discards by construction.
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    ordered.foreach { case (name, _) => acc(name) = Vector.empty }
    (0 until reps).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop write materializes EVERY output column (count() would let
        // Catalyst prune pure projections out of the measurement)
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Queries are independent jobs: drop any intra-query persist()
        // AFTER the timed region so one query's working cache can't
        // occupy unified memory and starve the next query's execution
        // side (a real pipeline owns its persist lifecycle; a bench of
        // 100+ back-to-back queries must do it here).
        try spark.sharedState.cacheManager.clearCache()
        catch { case _: Throwable => }
        if (ok) acc(name) = acc(name) :+ dt
      }
    }
    val results = acc.toSeq
    def jstr(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"'           => b.append("\\\"")
        case '\\'          => b.append("\\\\")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c             => b.append(c)
      }
      b.append("\"").toString
    }
    val meds = results.collect { case (k, ts) if ts.nonEmpty => k -> median(ts) }
    val qs = meds.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val mins = results.collect { case (k, ts) if ts.nonEmpty => k -> ts.min }
    val qmin = mins.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else "," + "\"errors\":" + errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString("{", ",", "}")
    val total = if (meds.nonEmpty) meds.map(_._2).sum else 0.0
    val minTotal = if (mins.nonEmpty) mins.map(_._2).sum else 0.0
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_$reps","min_total":$minTotal,"queries":$qs,"queries_min":$qmin$errJson,"sf":"$sfDir"}"""
    println(json)
    // The driver captures stdout with a tail that can truncate one long
    // line (BENCH_r04 recorded `parsed: null`) — persist the JSON to a
    // file as the robust secondary channel.
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write target/bench.json: $e")
    }
    if (errors.nonEmpty)
      System.err.println(s"bench: ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
