package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.01"
    // tee everything to target/plan_audit.txt — stdout tails truncate
    val sb = new StringBuilder
    def emit(s: String): Unit = { println(s); sb.append(s).append('\n') }
    // EVERY declared query, alphabetical — derived from the registry so
    // the audit can never silently drift from the query set again (the
    // r6 hand-list covered 70 of 114)
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, dir)
      // execute first: under AQE the pre-execution plan prints
      // isFinalPlan=false with no WholeStageCodegen spans — only the
      // final plan shows what actually ran
      val qe = df.queryExecution
      qe.executedPlan.executeCollect()
      val plan = qe.executedPlan.toString
      def has(s: String) = plan.contains(s)
      emit(s"AUDIT $name: pushed=${plan.contains("PushedFilters: [")} " +
        s"bcast=${has("BroadcastHashJoin")} smj=${has("SortMergeJoin")} " +
        s"cartesian=${has("CartesianProduct")} bnlj=${has("BroadcastNestedLoopJoin")} " +
        // codegen'd nodes print as `*(stageId)` prefixes in the simple plan
        s"wsc=${has("*(")} topn=${has("TakeOrderedAndProject")}")
      val rs = plan.linesIterator.filter(_.contains("ReadSchema")).take(2).toList
      rs.foreach(l => emit("AUDIT   " + l.trim.take(150)))
      val pf = plan.linesIterator.filter(_.contains("PushedFilters")).take(2).toList
      pf.foreach(l => emit("AUDIT   " + l.trim.take(150)))
      // independent audits: release intra-query persists (see Bench)
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => }
    }
    try {
      val out = java.nio.file.Paths.get("target/plan_audit.txt")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, sb.toString)
    } catch { case e: Throwable =>
      System.err.println(s"plan audit: could not write target/plan_audit.txt: $e")
    }
    spark.stop()
  }
}
