package graft
// dev-only plan audit: prints key physical-plan properties per query
object DevExplain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", "32")
      .config("spark.sql.adaptive.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, dir)
        .queryExecution.executedPlan.toString
      // xchg is LINE-based: a ReusedExchange node prints its target as
      // ", Exchange hashpartitioning(...)" on the same line, so a
      // lookbehind regex still counts the reuse reference as a real
      // exchange; one plan node per line makes line counting exact
      val nXchg = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange") &&
          !l.contains("BroadcastExchange"))
      val markers = Seq(
        "BroadcastHashJoin" -> "bcast",
        "SortMergeJoin" -> "smj",
        "ReusedExchange" -> "reuse",
        "BroadcastExchange" -> "bxchg",
        // optional whole-stage-codegen prefix "*(3) " — a Generate
        // inside codegen must still count (r4 advice)
        "(?m)^\\W*(\\*\\(\\d+\\)\\s*)?Generate\\b" -> "gen",
        "\\*\\(" -> "wsc",
        "BroadcastNestedLoopJoin" -> "bnlj",
        "CartesianProduct" -> "cart",
        "TakeOrderedAndProject" -> "topk",
        "PushedFilters: \\[[^\\]]" -> "pushed")
      val found = markers.flatMap { case (pat, label) =>
        val c = pat.r.findAllIn(plan).size
        if (c > 0) Some(s"$label=$c") else None
      } ++ (if (nXchg > 0) Seq(s"xchg=$nXchg") else Nil)
      println(s"AUDIT $n: ${found.mkString(" ")}")
    }
    spark.stop()
  }
}
