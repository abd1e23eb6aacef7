package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter — dev-only
    // fast path; the driver always runs the full set]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    def keep(n: String) = only.isEmpty || only(n)
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val dumpStatus = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumpStatus(name) = "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        dumpStatus(name) = s"failed: ${e.getMessage}"
        // Emit an explicit one-row error sentinel so the driver's
        // compare records a LOUD failing row instead of silently
        // omitting the query (r6: two erroring queries vanished from
        // CORRECTNESS and 105/112 read as a zero-failure round). The
        // sentinel can never hash-match any oracle.
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__graft_error__")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => }
      }
      // independent jobs: release any intra-query persist (see Bench)
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Differential oracles for the non-DuckDB-expressible queries:
    // hard pass/fail per query, written next to the parquet dumps.
    val checks = SparkEntry.diffChecks.toSeq.filter(kv => keep(kv._1))
      .sortBy(_._1).map { case (name, fn) =>
      val c = try fn(spark, sfDir) catch { case e: Throwable =>
        DiffChecks.Check(pass = false, s"threw: ${e.getMessage}")
      }
      val tag = if (c.pass) "PASS" else "FAIL"
      System.err.println(s"[verify] diffcheck $tag $name: ${c.detail}")
      name -> c
    }
    Files.writeString(Paths.get(s"$outDir/diffcheck.json"),
      checks.map { case (n, c) =>
        s"${q(n)}: {${q("pass")}: ${c.pass}, ${q("detail")}: ${q(c.detail)}}"
      }.mkString("{", ",", "}"))
    // Robust secondary channel (stdout tails truncate): one summary
    // file under target/ with per-query dump status + diffcheck
    // verdicts, same role as Bench's target/bench.json.
    try {
      val out = Paths.get("target/verify.json")
      Files.createDirectories(out.getParent)
      val dumps = dumpStatus.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      val dcs = checks.map { case (n, c) =>
        s"${q(n)}: {${q("pass")}: ${c.pass}, ${q("detail")}: ${q(c.detail)}}"
      }.mkString("{", ",", "}")
      Files.writeString(out,
        s"""{"sf": ${q(sfDir)}, "dumps": $dumps, "diffchecks": $dcs}""")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] could not write target/verify.json: $e")
    }
    spark.stop()
    // (No non-zero exit: the parquet dumps + oracle compare must still
    // be consumable; diffcheck.json carries the binary verdicts and
    // VerifyChecksSpec enforces them in sbt test.)
  }
}
