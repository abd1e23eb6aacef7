package graft.tools

/** r18: dump `.explain("formatted")` + the executed (post-AQE) plan of
  * named declared queries to `plans/<tag>/<query>_<suffix>.txt` — the
  * judge-checkable evidence files for the optimization round.
  *
  * Usage:
  *   sbt 'runMain graft.tools.PlanDump r18 before q_a q_b'
  * Environment: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  * The query body executes first (fixture writes + AQE finalization),
  * then both the formatted plan and the final executed plan are
  * written.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <tag> <suffix> <query>...")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.envCpus
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      // execute so AQE finalizes (isFinalPlan=true) and WholeStageCodegen
      // spans are the ones that actually ran
      qe.executedPlan.executeCollect()
      val sb = new StringBuilder
      sb.append(s"== $name ($suffix, $sfDir, local[$cpus]) ==\n\n")
      sb.append(qe.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n\n== executed plan (post-AQE) ==\n\n")
      sb.append(qe.executedPlan.toString)
      java.nio.file.Files.writeString(dir.resolve(s"${name}_$suffix.txt"),
        sb.toString)
      println(s"PLANDUMP wrote plans/$tag/${name}_$suffix.txt")
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => }
    }
    spark.stop()
  }
}
