package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dev-only measurement for the r13 batch-proportional claim (r12
  * verdict Next #1's "done" evidence): the incremental cycle's edge
  * DISCOVERY must scale with the batch, not the corpus. Two legs per
  * SF dir (sf0.1 and the sf1 rehearsal), same FIXED absolute batch
  * (doc_id % 5 == 0 ∧ doc_id < 5000 — ~1k docs at either SF):
  *
  *  - `full`:  simhashEdges(corpus) — the full-corpus edge source
  *    q177 stood in for; re-bands history against itself every cycle;
  *  - `probe`: simhashBatchEdges(batch, served) with the served
  *    signature table PRE-materialized (it is maintained loop state,
  *    persisted between cycles — not a per-cycle cost): batch reps
  *    band against served reps, batch bands against itself.
  *
  * 10× corpus at fixed batch: `full` re-pays the whole detector,
  * `probe` pays only the served-rep banding scan (fingerprint-weight,
  * no history-history candidate work) — the measured gap is the
  * asymptotic claim, stated as data instead of argument.
  *
  * Usage: runMain graft.DevCycleScale [sf0.1Dir] [sf1Dir] [rounds]
  */
object DevCycleScale {
  def main(args: Array[String]): Unit = {
    val sfSmall = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sfBig = args.lift(1).getOrElse("/tmp/sf1_synth")
    val rounds = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def legs(dir: String): (Long, Double, Double, Long, Long) = {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nDocs = d.count()
      val batch = d.filter(col("doc_id") % 5 === 0 &&
        col("doc_id") < 5000)
      val hist = d.filter(!(col("doc_id") % 5 === 0 &&
        col("doc_id") < 5000))
      val served = Dedup.simhashTable(hist) // maintained loop state
      served.count() // pre-materialize: not part of the cycle cost
      var fullEdges = 0L
      var probeEdges = 0L
      val fullW = (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        fullEdges = Dedup.simhashEdges(d, maxHamming = 12).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val probeW = (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        probeEdges = Dedup.simhashBatchEdges(batch, served,
          maxHamming = 12).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (nDocs, fullW, probeW, fullEdges, probeEdges)
    }

    val (nS, fS, pS, feS, peS) = legs(sfSmall)
    val (nB, fB, pB, feB, peB) = legs(sfBig)
    println(
      s"""{"metric":"cycle_scale","rounds":$rounds,""" +
      s""""small":{"docs":$nS,"full_sec":${f"$fS%.3f"},""" +
      s""""probe_sec":${f"$pS%.3f"},"full_edges":$feS,""" +
      s""""probe_edges":$peS},""" +
      s""""big":{"docs":$nB,"full_sec":${f"$fB%.3f"},""" +
      s""""probe_sec":${f"$pB%.3f"},"full_edges":$feB,""" +
      s""""probe_edges":$peB},""" +
      s""""full_growth":${f"${fB / fS}%.2f"},""" +
      s""""probe_growth":${f"${pB / pS}%.2f"}}""")
    spark.stop()
  }
}
