package graft

import graft.sim.Similarity

/** Dev-only measurement for the q89 scale claim (r10 verdict "next"
  * item 4): five rounds of verdicts have DOCUMENTED that q89's
  * 9–13× sf1 wall is quadratic BY CONSTRUCTION at the oracle-pinned
  * fixed nlist=8, and that production sizes nlist ∝ N so the
  * within-cell pair work stays bounded — but never MEASURED it.
  * This main runs `semanticDedup` (q89's exact operator and
  * threshold) three ways:
  *
  *  1. sf0.1, nlist = 8   — the gate-scale baseline,
  *  2. sf1,   nlist = 8   — the pinned-nlist construction (cells hold
  *     10× the rows → ~100× the within-cell pairs: super-linear on
  *     purpose),
  *  3. sf1,   nlist = 80  — nlist ∝ N, the production sizing (cell
  *     occupancy constant → pair work scales with N),
  *
  * and prints one JSON line with best-of-`rounds` walls plus the
  * max-cell occupancy per leg, so BASELINE.md can carry the measured
  * wall instead of the argument.
  *
  * Centroids are the TRAINED quantizer (`trainedCentroids`, q36's
  * fit-once Lloyd refinement), not the oracle's toy fixed grid: the
  * production claim is about DATA-FITTED cells, and an unfitted grid
  * refutes itself at large nlist — more random directions make the
  * argmax winner-take-all (a first run with gridCentroids(80)
  * measured a 25k-row max cell out of 50k vectors, and the wall
  * DOUBLED vs nlist=8: the skew, not the cell count, sets the pair
  * work). Balanced cells are exactly what the k-means fit buys; the
  * fit is memoized so best-of-rounds times the warm online path.
  * Usage:
  *   runMain graft.DevNlistScale [sf0.1Dir] [sf1Dir] [rounds]
  */
object DevNlistScale {
  def main(args: Array[String]): Unit = {
    val sfSmall = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sfBig = args.lift(1).getOrElse("/tmp/sf1_synth")
    val rounds = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = GraftSession.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def best(dir: String, nlist: Int): (Double, Long, Long) = {
      val v = spark.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.trainedCentroids(v, nlist, iters = 2)
      val maxCell = Similarity.ivfCellStats(v, cents)
        .agg(org.apache.spark.sql.functions.max("n_vecs"))
        .head.getLong(0)
      var rows = 0L
      val walls = (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        rows = Similarity.semanticDedup(v, cents, threshold = 0.35,
          roundSim = Some(6)).count()
        (System.nanoTime() - t0) / 1e9
      }
      (walls.min, rows, maxCell)
    }

    best(sfSmall, 8) // JVM/codegen warmup, discarded
    val (w01, r01, m01) = best(sfSmall, 8)
    val (w1fix, r1fix, m1fix) = best(sfBig, 8)
    val (w1prop, r1prop, m1prop) = best(sfBig, 80)

    /** Refresh-cost leg (r12 — r11 verdict Next #5's measurement):
      * wall of [[Similarity.ivfRefreshDirtyCells]] at a given dirty
      * fraction against the full re-route (every cell dirty).
      * Refresh cost must track the dirty fraction, not the corpus
      * size. The sf1 embeddings table (50k vectors) is FLOOR-BOUND
      * for this measurement — a full re-route completes inside the
      * local[32] scheduler floor — so the leg runs on a 2M×64-dim
      * deterministic synthetic index (33 GFLOP full re-route at
      * nlist 256: real assignment CPU), cell-partitioned the way a
      * served index table is stored so partition pruning is part of
      * what's measured.
      */
    import org.apache.spark.sql.functions._
    val refreshDir = "/tmp/graft_refresh_bench"
    val nlistR = 1024 // nlist·d per row: enough CPU to rise off the
    // local[32] scheduler floor (131 GFLOP full re-route)
    val centsR = Similarity.gridCentroids(nlistR, 64)
    val synth = spark.range(0L, 2000000L, 1L, 32)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), " +
          "i -> cast(sin(id * 0.37D + i * 1.13D) as float))")
          .as("embedding"))
    synth.withColumn("cell",
        graft.sim.VectorExpressions
          .centroidAssign(col("embedding"), centsR).getField("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(refreshDir)
    val served = spark.read.parquet(refreshDir)
    // dirty sets picked by ROW MASS, not cell count — the unfitted
    // grid skews occupancy (documented above), and the claim under
    // test is cost ∝ rows touched
    val occ = served.groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val totalRows = occ.map(_._2).sum
    def cellsForFraction(frac: Double): Seq[Int] = {
      var cum = 0L
      occ.takeWhile { case (_, n) =>
        val keep = cum < (totalRows * frac).toLong
        cum += n
        keep
      }.map(_._1).toSeq
    }
    def refresh(dirty: Seq[Int]): (Double, Long) = {
      var rows = 0L
      val w = (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        val (_, reassigned) = Similarity.ivfRefreshDirtyCells(
          served, centsR, dirty)
        rows = reassigned.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (w, rows)
    }
    val (wRef10, nRef10) = refresh(cellsForFraction(0.1))
    val (wRef100, nRef100) = refresh(occ.map(_._1).toSeq)

    println(
      s"""{"metric":"q89_nlist_scaling","rounds":$rounds,""" +
      s""""sf01_nlist8":{"sec":$w01,"rows":$r01,"max_cell":$m01},""" +
      s""""sf1_nlist8":{"sec":$w1fix,"rows":$r1fix,"max_cell":$m1fix},""" +
      s""""sf1_nlist80":{"sec":$w1prop,"rows":$r1prop,""" +
      s""""max_cell":$m1prop},""" +
      s""""ratio_fixed":${w1fix / w01},""" +
      s""""ratio_proportional":${w1prop / w01},""" +
      s""""refresh_dirty10pct":{"sec":$wRef10,"rows":$nRef10},""" +
      s""""refresh_full":{"sec":$wRef100,"rows":$nRef100},""" +
      s""""refresh_cost_ratio":${wRef10 / wRef100},""" +
      s""""refresh_row_fraction":${nRef10.toDouble / nRef100}}""")
    spark.stop()
  }
}
