package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metrics derived the same way for every workload.
  * Every value is a mean per traced op.
  */
object Layers {

  /** Span name -> its self-time metric ("Devig" -> "Devig.s",
    * "Snapshots.append" -> "Snapshots.append_s").
    */
  def timeMetric(span: String): String =
    if (span.contains('.')) span + "_s" else span + ".s"

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def common(spark: SparkSession, tr: Tracer,
             ops: Seq[Int]): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism.toDouble
    val byOp = tr.spans.groupBy(_.op)
    val perOp = ops.map { op =>
      val spans = byOp.getOrElse(op, Seq.empty).toSeq
      val c = new Counters
      spans.foreach(s => c.add(s.c))
      val wall = spans.find(_.name == "op")
        .map(s => (s.end - s.start) / 1e9).getOrElse(Double.NaN)
      val times = spans.filter(_.name != "op").groupBy(_.name).map {
        case (name, ss) => timeMetric(name) -> ss.map(_.selfNs).sum / 1e9
      }
      val served = spans.filter(_.name == "Dedup.served").map(_.c.jobs).sum
      times ++ Map(
        "spark.jobs" -> c.jobs.toDouble,
        "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.plan_s" -> c.planMs / 1e3,
        "spark.exec_run_s" -> c.runMs / 1e3,
        "spark.exec_cpu_s" -> c.cpuNs / 1e9,
        "spark.gc_s" -> c.gcMs / 1e3,
        "spark.shuffle_write_mb" -> c.shuffleWrite / 1e6,
        "spark.shuffle_read_mb" -> c.shuffleRead / 1e6,
        "spark.spill_mb" -> c.spill / 1e6,
        "spark.stage_wait_s" -> c.waitMs / 1e3,
        "spark.core_busy_frac" -> c.runMs / 1e3 / (wall * cores),
        "Dedup.closure_jobs" -> c.closureJobs.toDouble,
        "Dedup.closure_s" -> c.closureJobMs / 1e3,
        "Dedup.served_jobs" -> served.toDouble,
        "trace.spans_per_op" -> (spans.size - 1).toDouble)
    }
    val recs = tr.opRecords.filter(r => ops.contains(r.op))
    val keys = perOp.flatMap(_.keys).distinct
    keys.map(k => k -> mean(perOp.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
      "spark.persisted_after" -> mean(recs.map(_.persisted.toDouble).toSeq),
      "spark.codegen_compiles" -> noteMean(tr, ops, "spark.codegen_compiles"))
  }

  /** Mean over traced ops of a per-op note. */
  def noteMean(tr: Tracer, ops: Seq[Int], key: String): Double =
    mean(tr.opRecords.filter(r => ops.contains(r.op))
      .map(_.notes.getOrElse(key, 0.0)).toSeq)

  /** Ratio of two per-op notes summed over the traced ops. */
  def noteRatio(tr: Tracer, ops: Seq[Int], num: String,
                den: String): Double = {
    val recs = tr.opRecords.filter(r => ops.contains(r.op))
    val d = recs.map(_.notes.getOrElse(den, 0.0)).sum
    if (d == 0) 0.0 else recs.map(_.notes.getOrElse(num, 0.0)).sum / d
  }
}
