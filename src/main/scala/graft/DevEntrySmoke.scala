package graft
// dev-only: the driver's entry smoke (SparkEntry.entry rows > 0)
object DevEntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("ENTRY_ROWS=" + SparkEntry.entry(spark).count())
    spark.stop()
  }
}
