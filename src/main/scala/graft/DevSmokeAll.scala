package graft
// dev-only: execute EVERY catalog query at sf0.001 and report
// failures — the fast whole-catalog execution check run after any
// schema-sensitive change (the driver regenerates testdata between
// rounds and has changed column encodings before: r5's events.ts
// flipped TIMESTAMP(NANOS) → TIMESTAMP(MICROS)).
object DevSmokeAll {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder("local[8]", "8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    var bad = 0
    names.foreach { n =>
      try println(s"OK $n ${SparkEntry.queries(n)(spark, dir).count()}")
      catch { case e: Throwable =>
        bad += 1
        println(s"FAIL $n :: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("")
            .linesIterator.take(2).mkString(" | "))
      }
    }
    println(s"TOTAL ${names.size} FAILED $bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
