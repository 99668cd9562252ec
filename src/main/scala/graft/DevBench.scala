package graft
// dev-only micro-bench for individual queries (kept out of Bench's contract)
object DevBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"DEVBENCH $n%-22s ${(System.nanoTime()-t0)/1e9}%8.2fs")
    }
    spark.stop()
  }
}
