package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Dev-only stage timing for the r12 SimHash collapse: where does
  * simhashPairs spend its wall at a given SF — signature hashing,
  * the representative band join, the member expansions — vs the
  * pre-collapse naive banded self-join. Informs whether a regression
  * is collapse overhead (extra exchanges) or something structural.
  *
  * Usage: runMain graft.DevSimhashDiag <sfDir> [rounds]
  */
object DevSimhashDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def docs: DataFrame = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .repartition(col("doc_id"))

    def time(name: String)(f: => Long): Unit = {
      val walls = (1 to rounds).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        val w = (System.nanoTime() - t0) / 1e9
        (w, n)
      }
      println(f"DIAG $name%-28s ${walls.map(_._1).min}%8.2fs  " +
        f"rows ${walls.head._2}")
    }

    // stage 1: signature hashing alone
    time("sigs_only") {
      docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
        .write.mode("overwrite").format("noop").save()
      0L
    }
    // full collapsed pair pipeline (q47 shape)
    time("collapsed_pairs") {
      Dedup.simhashPairs(docs, maxHamming = 12).count()
    }
    // star edge set (q50/q88/q174 input)
    time("star_edges") {
      Dedup.simhashEdges(docs, maxHamming = 12).count()
    }
    // granular internals (replicated from simhashRepPairs)
    def sigsF: DataFrame = docs
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .withColumn("sh", Dedup.simhash(col("text")))
      .select(col("doc_id"), col("sh"))
      .repartition(col("sh"))
    def repPairsF: DataFrame = {
      val groups = sigsF.groupBy(col("sh"))
        .agg(min(col("doc_id")).as("rep_id"))
      val banded = groups
        .select(col("sh"), col("rep_id"),
          posexplode(array((0 until 4).map(b =>
            col("sh").substr(b * 4 + 1, 4)): _*))
            .as(Seq("band_idx", "band_val")))
      val a = banded.select(col("sh").as("sh_a"),
        col("rep_id").as("rid_a"), col("band_idx"), col("band_val"))
      val b = banded.select(col("sh").as("sh_b"),
        col("rep_id").as("rid_b"), col("band_idx"), col("band_val"))
      a.join(b, Seq("band_idx", "band_val"))
        .filter(col("rid_a") < col("rid_b"))
        .select(col("sh_a"), col("sh_b"),
          Dedup.simhashHamming(col("sh_a"), col("sh_b")).as("hamming"))
        .filter(col("hamming") <= 12)
        .distinct()
    }
    val rp = repPairsF
    rp.count()
    println("=== repPairs executed plan ===")
    println(rp.queryExecution.executedPlan.toString.take(6000))
    time("rep_pairs_only") { repPairsF.count() }
    time("cross_only") {
      val members = sigsF.select(col("sh"), col("doc_id"))
      repPairsF
        .join(members.select(col("sh").as("sh_a"),
          col("doc_id").as("__ia")), Seq("sh_a"))
        .join(members.select(col("sh").as("sh_b"),
          col("doc_id").as("__ib")), Seq("sh_b"))
        .count()
    }
    // pre-collapse formulation: band every doc, no rep collapse
    time("naive_pairs") {
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
    // CC over each edge set
    time("cc_over_star") {
      Dedup.duplicateClusters(
        Dedup.simhashEdges(docs, maxHamming = 12)).count()
    }
    time("cc_over_pairs") {
      Dedup.duplicateClusters(
        Dedup.simhashPairs(docs, maxHamming = 12)).count()
    }
    spark.stop()
  }
}
