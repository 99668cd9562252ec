package graft

import org.apache.spark.sql.functions._
import graft.sim.{Pq, Similarity}
import graft.model.FitCache

/** Fit-once caching of trained ANN artifacts (r6 verdict item 1):
  * the SECOND execution of a trained-quantizer query must launch ZERO
  * Lloyd training jobs — the online path is assign → probe → rescore
  * against memoized centroid literals.
  */
class FitCacheSpec extends SparkSpec {

  private def vecs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .repartition(col("vec_id"))

  test("trainedCentroids memoizes: second call runs no Lloyd fit") {
    val v = vecs
    val before = Similarity.fitRunCount.get()
    val c1 = Similarity.trainedCentroids(v, nlist = 8, iters = 2)
    val afterFirst = Similarity.fitRunCount.get()
    // an independently-built but plan-identical DataFrame (the q36 vs
    // q62 vs q111 shape — each query constructs its own `vecs`) must
    // hit the same entry
    val c2 = Similarity.trainedCentroids(vecs, nlist = 8, iters = 2)
    val afterSecond = Similarity.fitRunCount.get()
    assert(afterSecond == afterFirst,
      s"second trainedCentroids call ran ${afterSecond - afterFirst} " +
        "Lloyd fit(s); expected a cache hit")
    // a cold key (first process-wide call) fits exactly once; a warm
    // key (earlier suite ordering) fits zero times — never more
    assert(afterFirst - before <= 1)
    assert(c1.length == 8 && c1.zip(c2).forall { case (a, b) => a sameElements b })
  }

  test("cache keys separate different params and different corpora") {
    val v = vecs
    Similarity.trainedCentroids(v, nlist = 8, iters = 2)
    val before = Similarity.fitRunCount.get()
    Similarity.trainedCentroids(v, nlist = 4, iters = 2)
    assert(Similarity.fitRunCount.get() > before,
      "different nlist must be a distinct cache entry (a real fit)")
    val other = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .repartition(col("vec_id")).filter(col("vec_id") % 2 === 0)
    val before2 = Similarity.fitRunCount.get()
    Similarity.trainedCentroids(other, nlist = 8, iters = 2)
    assert(Similarity.fitRunCount.get() > before2,
      "a different corpus plan must be a distinct cache entry")
  }

  test("memoized centroids equal a direct fit (semantics unchanged)") {
    val v = vecs
    val cached = Similarity.trainedCentroids(v, nlist = 8, iters = 2)
    val direct = Similarity.fitIvfKmeans(v,
      Similarity.kmeansInit(v, 8), iters = 2)._1
    assert(cached.zip(direct).forall { case (a, b) => a sameElements b })
  }

  test("trainedCodebooks memoizes and matches a direct fit") {
    val v = vecs
    val before = Similarity.fitRunCount.get()
    val cb1 = Pq.trainedCodebooks(v, m = 8, k = 16, iters = 1)
    val afterFirst = Similarity.fitRunCount.get()
    val cb2 = Pq.trainedCodebooks(v, m = 8, k = 16, iters = 1)
    assert(Similarity.fitRunCount.get() == afterFirst,
      "second trainedCodebooks call must not re-fit")
    // cold key: one fitIvfKmeans per subspace (m=8); warm key: zero
    assert(afterFirst - before == 0 || afterFirst - before == 8)
    assert(cb1 == cb2)
  }

  test("the full trained-query family executes twice with one fit") {
    // end-to-end: q36 then q62 then q36 again over the same dir —
    // after the first execution the family shares one cache entry
    val dir = "/root/testdata/sf0.001"
    def run(name: String): Unit =
      QueriesScale.queries(name)(spark, dir).write
        .mode("overwrite").format("noop").save()
    run("q36_ann_ivf")
    val afterFirst = Similarity.fitRunCount.get()
    run("q62_ivfpq_topk")
    run("q36_ann_ivf")
    assert(Similarity.fitRunCount.get() == afterFirst,
      "q62/q36-again must reuse q36's trained centroids (zero fits)")
  }

  test("corpus-count memo: second construction launches zero count jobs") {
    // r7 verdict item 4: q129's shard count (and phashGroups' dup
    // groups) derive from a memoized corpus count — the SECOND
    // construction of a plan-identical frame must be a map hit
    val dir = "/root/testdata/sf0.001"
    def construct(): Unit =
      QueriesScale.queries("q129_epoch_shuffle")(spark, dir)
    construct()
    val afterFirst = FitCache.builds(FitCache.CorpusCount)
    construct()
    construct()
    assert(FitCache.builds(FitCache.CorpusCount) == afterFirst,
      "re-constructing q129 must not launch another count job")
    // a different corpus plan is a distinct entry (a real count)
    val other = spark.read
      .parquet(s"$dir/documents.parquet").filter(col("doc_id") % 2 === 0)
    val before = FitCache.builds(FitCache.CorpusCount)
    assert(FitCache.count(other) >= 0)
    assert(FitCache.builds(FitCache.CorpusCount) == before + 1)
    assert(FitCache.count(other) >= 0)
    assert(FitCache.builds(FitCache.CorpusCount) == before + 1)
  }

  test("q125 and q134 share one suffix-array index build") {
    // r7 verdict item 1: both queries construct the plan-identical
    // saCorpus frame, so whichever runs first pays the SA build and
    // the other reads the warm fit-once span table
    import graft.dedup.SuffixRepeats
    val dir = "/root/testdata/sf0.001"
    def run(name: String): Unit =
      QueriesScale.queries(name)(spark, dir).write
        .mode("overwrite").format("noop").save()
    run("q134_suffix_repeats")
    val afterFirst = FitCache.builds(FitCache.SpanIndex)
    run("q125_dup_substring_coverage")
    run("q134_suffix_repeats")
    assert(FitCache.builds(FitCache.SpanIndex) == afterFirst,
      "q125/q134-again must reuse the cached span table (zero builds)")
  }

  test("the served-state query family leaves no persisted frame the " +
      "registry does not own") {
    // the r14 e0 class of leak: a frame persisted by a query and never
    // released outlives it, and CacheManager plan matching then serves
    // it to later queries. Every persisted RDD a query leaves must be
    // a registry entry's; none may stay in the CacheManager.
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    import org.apache.spark.sql.graftshim.TestShims.cachedEntries
    val dir = "/root/testdata/sf0.001"
    FitCache.clear(FitCache.Kinds: _*) // every entry is built below
    val before = sc.getPersistentRDDs.keySet
    val cached = cachedEntries(spark)
    Seq("q36_ann_ivf", "q62_ivfpq_topk", "q111_residual_ivfpq",
      "q127_ivf_cell_stats", "q125_dup_substring_coverage",
      "q134_suffix_repeats", "q136_ngram_perplexity",
      "q137_dsir_weights", "q151_kneser_ney", "q156_curation_capstone",
      "q25_lsh_pairs", "q70_neardup_rescore", "q114_containment",
      "q163_takedown_neardup").foreach { n =>
      QueriesScale.queries(n)(spark, dir).write
        .mode("overwrite").format("noop").save()
    }
    val owned = FitCache.ownedFrames.map(_.queryExecution.analyzed)
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
    val leaked = sc.getPersistentRDDs.keySet -- before -- owned
    assert(leaked.isEmpty, "persisted but owned by no registry entry: " +
      leaked.map(sc.getPersistentRDDs(_).toDebugString).mkString("\n"))
    assert(cachedEntries(spark) == cached)
  }
}
