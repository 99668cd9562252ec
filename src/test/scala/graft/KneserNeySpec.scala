package graft

import org.apache.spark.sql.functions._
import graft.model.FitCache

/** q151's interpolated Kneser–Ney bigram LM against hand-computed
  * probabilities on a corpus small enough to verify on paper.
  */
class KneserNeySpec extends SparkSpec {

  private def run(rows: Seq[(Long, String, String)]): Map[Long, (Long, Any)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kn").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    SparkEntry.queries("q151_kneser_ney")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.get(2)))).toMap
  }

  test("hand-computed KN probabilities, backoff, and unseen floor") {
    // training corpus (en): "a b a b a c"
    //   c12: (a,b)=2 (b,a)=2 (a,c)=1; ctx a:(c1=3,nr=2) b:(c1=2,nr=1)
    //   cont: a=1 b=1 c=1; nall=3
    val out = run(Seq(
      (1L, "en", "a b a b a c"),
      (2L, "xx", "a z"), // seen context, unseen word -> 1e-10 floor
      (3L, "xx", "z a"), // unseen context -> pure continuation 1/3
      (4L, "xx", "solo"))) // no bigrams -> null ppl
    val pAB = math.max(2 - 0.75, 0.0) / 3 + (0.75 * 2 / 3) * (1.0 / 3)
    val pBA = math.max(2 - 0.75, 0.0) / 2 + (0.75 * 1 / 2) * (1.0 / 3)
    val pAC = math.max(1 - 0.75, 0.0) / 3 + (0.75 * 2 / 3) * (1.0 / 3)
    val lp1 = (2 * math.log(pAB) + 2 * math.log(pBA) + math.log(pAC)) / 5
    val exp1 = math.floor(math.exp(-lp1) * 1e4 + 0.5) / 1e4
    assert(out(1L)._1 == 5L)
    assert(out(1L)._2.asInstanceOf[Double] == exp1)
    // unseen word: p floors at 1e-10 -> ppl = 1e10
    assert(out(2L)._1 == 1L)
    assert(out(2L)._2.asInstanceOf[Double] == 1e10)
    // unseen context backs off to continuation p = nl(a)/nall = 1/3
    assert(out(3L)._1 == 1L)
    val exp3 = math.floor(math.exp(-math.log(1.0 / 3)) * 1e4 + 0.5) / 1e4
    assert(out(3L)._2.asInstanceOf[Double] == exp3)
    // single-token doc: no bigrams, null perplexity
    assert(out(4L)._1 == 0L && out(4L)._2 == null)
  }

  private def run3(rows: Seq[(Long, String, String)])
      : Map[Long, (Long, Any)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kn3").toString
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    SparkEntry.queries("q160_kn_trigram")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.get(2)))).toMap
  }

  test("hand-computed TRIGRAM KN: order-3 chain, context backoff, " +
      "short-doc sentinel (r9 verdict item 5)") {
    // training corpus (en): "a b a b a c"
    //   trigrams: (a,b,a) (b,a,b) (a,b,a) (b,a,c)
    //   c123: aba=2 bab=1 bac=1
    //   ctx12: (a,b)->(c12t=2, nr12=1)  (b,a)->(c12t=2, nr12=2)
    //   bigram tables as the bigram test: c12 ab=2 ba=2 ac=1;
    //   ctx a:(3,2) b:(2,1); cont a=1 b=1 c=1; nall=3
    val out = run3(Seq(
      (1L, "en", "a b a b a c"),
      (2L, "xx", "a b a"),  // seen trigram
      (3L, "xx", "z a b"),  // unseen context -> pure p2 backoff
      (4L, "xx", "a b")))   // <3 tokens -> (0, null)
    // doc 2: p2(a|b) = max(2-.75,0)/2 + (.75*1/2)*(1/3) = .75
    //        p3(a|a,b) = max(2-.75,0)/2 + (.75*1/2)*.75 = .90625
    val p2ab = math.max(2 - 0.75, 0.0) / 2 + (0.75 * 1 / 2) * (1.0 / 3)
    val p3 = math.max(2 - 0.75, 0.0) / 2 + (0.75 * 1 / 2) * p2ab
    assert(out(2L)._1 == 1L)
    assert(out(2L)._2.asInstanceOf[Double] ==
      math.floor(math.exp(-math.log(p3)) * 1e4 + 0.5) / 1e4)
    // doc 3: ctx (z,a) unseen -> p3 = p2(b|a)
    //        = max(2-.75,0)/3 + (.75*2/3)*(1/3)
    val p2b = math.max(2 - 0.75, 0.0) / 3 + (0.75 * 2 / 3) * (1.0 / 3)
    assert(out(3L)._1 == 1L)
    assert(out(3L)._2.asInstanceOf[Double] ==
      math.floor(math.exp(-math.log(p2b)) * 1e4 + 0.5) / 1e4)
    // doc 4: one sentinel row, zero trigrams, null perplexity
    assert(out(4L)._1 == 0L && out(4L)._2 == null)
    // the training doc scores under its own model
    assert(out(1L)._1 == 4L && out(1L)._2 != null)
  }

  test("trigram fit SHARES the bigram entry; re-execution refits " +
      "nothing (the zero-refit counter one order up)") {
    import spark.implicits._
    import graft.model.NgramLm
    val dir = java.nio.file.Files.createTempDirectory("kn3f").toString
    Seq((1L, "en", "a b a b a c"), (2L, "xx", "a b a"))
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    def go(q: String): Unit =
      SparkEntry.queries(q)(spark, dir).write
        .mode("overwrite").format("noop").save()
    go("q151_kneser_ney") // fits the bigram model
    val afterBigram = NgramLm.fitRunCount.get()
    go("q160_kn_trigram")
    assert(NgramLm.fitRunCount.get() == afterBigram + 1,
      "the trigram fit must add exactly ONE fit (order-3 counts) — " +
        "the bigram order comes from the shared cache entry")
    val afterTrigram = NgramLm.fitRunCount.get()
    val builds = FitCache.builds(FitCache.LmScore)
    go("q160_kn_trigram")
    assert(NgramLm.fitRunCount.get() == afterTrigram &&
      FitCache.builds(FitCache.LmScore) == builds,
      "re-execution must serve the cached trigram score frame")
  }

  test("KN is a proper distribution: per-context mass sums to one") {
    // the discount identity: sum over the vocab of
    //   max(c12−d,0)/c1 + d·nr/c1 · nl(w2)/nall
    // is (c1 − d·nr)/c1 + d·nr/c1 · Σ nl/nall = 1 exactly, because
    // continuation probabilities themselves sum to 1. A smoothing
    // bug (wrong discount mass, off-by-one type count) breaks this.
    val c12 = Map(("a", "b") -> 2L, ("b", "a") -> 2L, ("a", "c") -> 1L)
    val vocab = Seq("a", "b", "c")
    val nall = c12.size.toDouble
    val nl = vocab.map(w2 =>
      w2 -> c12.keys.count(_._2 == w2).toDouble).toMap
    val d = 0.75
    Seq("a", "b").foreach { w1 =>
      val c1 = c12.collect { case ((x, _), c) if x == w1 => c }.sum
      val nr = c12.keys.count(_._1 == w1)
      val mass = vocab.map { w2 =>
        math.max(c12.getOrElse((w1, w2), 0L) - d, 0.0) / c1 +
          (d * nr / c1) * (nl(w2) / nall)
      }.sum
      assert(approx(mass, 1.0, 1e-12), s"context $w1 mass $mass")
    }
  }
}
