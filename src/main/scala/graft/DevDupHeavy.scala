package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dev-only WIN-SIDE measurement of the r12 signature collapse (r12
  * verdict Next #7: the gate corpus has no large exact-dup groups, so
  * the bench only ever shows the collapse's constant extra exchanges;
  * this measures the side the design paid for). A dup-heavy corpus is
  * built FROM the sf documents table: `copies` exact replicas of a
  * `groupDocs`-doc slice appended under fresh ids — the boilerplate /
  * mirrored-page shape real crawls have. Then:
  *
  *  - collapsed star edges + rep-graph CC (`simhashEdges` /
  *    `simhashClusters`) — work linear in group size;
  *  - the pre-collapse naive banded self-join — every copy bands
  *    against every copy, m² pairs inside each group;
  *
  * at increasing `copies`, so the crossover and the growth LAW are
  * both visible (collapsed should grow ~linearly with rows added,
  * naive ~quadratically).
  *
  * Usage: runMain graft.DevDupHeavy <sfDir> [groupDocs] [copies...]
  */
object DevDupHeavy {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val groupDocs = args.lift(1).map(_.toInt).getOrElse(500)
    val copyFactors = if (args.length > 2)
      args.drop(2).map(_.toInt).toSeq else Seq(10, 40, 160)
    val spark = GraftSession.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()

    def dupHeavy(copies: Int): DataFrame = {
      // `copies` replicas of the first `groupDocs` docs, fresh ids
      // above the base range — every replicated doc becomes an
      // exact-dup group of size copies+1
      val replicas = base.filter(col("doc_id") < groupDocs)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), lit(copies))).as("__r"))
        .select((col("doc_id") + col("__r") * lit(10000000L))
          .as("doc_id"), col("text"))
      base.unionByName(replicas).repartition(col("doc_id"))
    }

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      val w = (System.nanoTime() - t0) / 1e9
      println(f"DIAG $name%-34s $w%8.2fs  rows $n")
    }

    def naivePairs(docs: DataFrame): Long = {
      val banded = docs
        .withColumn("sh", Dedup.simhash(col("text")))
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("sh"),
          posexplode(array((0 until 4).map(b =>
            col("sh").substr(b * 4 + 1, 4)): _*))
            .as(Seq("band_idx", "band_val")))
      val a = banded.select(col("doc_id").as("id_a"),
        col("sh").as("sh_a"), col("band_idx"), col("band_val"))
      val b = banded.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("band_idx"), col("band_val"))
      a.join(b, Seq("band_idx", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          Dedup.simhashHamming(col("sh_a"), col("sh_b")).as("hamming"))
        .filter(col("hamming") <= 12)
        .distinct()
        .count()
    }

    println(s"base corpus: $nBase docs; dup groups: $groupDocs docs" +
      s" x (copies+1) members")
    for (c <- copyFactors) {
      val d = dupHeavy(c)
      Dedup.clearSigCache()
      graft.model.FitCache.clear(graft.model.FitCache.NearDupPairs)
      val rows = d.count()
      println(s"--- copies=$c (corpus ${rows} rows, " +
        s"${groupDocs.toLong * c} replicas) ---")
      time(s"collapsed_edges_x$c") {
        Dedup.simhashEdges(d, maxHamming = 12).count()
      }
      Dedup.clearSigCache()
      graft.model.FitCache.clear(graft.model.FitCache.NearDupPairs)
      time(s"collapsed_cc_x$c") {
        Dedup.simhashClusters(d, maxHamming = 12).count()
      }
      time(s"naive_pairs_x$c") { naivePairs(d) }
    }
    spark.stop()
  }
}
