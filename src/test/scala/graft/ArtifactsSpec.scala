package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.{Artifacts, FitCache}
import graft.sim.Similarity
import graft.text.{MultiPattern, UnigramLm}

/** Artifact persistence: exact round-trips for every trained-model
  * shape, and the production handoff — a LOADED artifact drives the
  * online path with zero training jobs.
  */
class ArtifactsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_art_$name").toString + "/a"

  test("centroids round-trip bit-for-bit, order pinned by cell_id") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = Similarity.trainedCentroids(vecs, nlist = 4, iters = 2)
    val p = tmp("cent")
    Artifacts.saveCentroids(spark, p, cents)
    val back = Artifacts.loadCentroids(spark, p)
    assert(back.length == cents.length)
    cents.zip(back).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "centroid drifted")
    }
  }

  test("unigram inventory round-trips and drives Viterbi identically") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val inv = UnigramLm.cachedInventory(d, "text")
    val p = tmp("vocab")
    Artifacts.saveVocab(spark, p, inv)
    val back = Artifacts.loadVocab(spark, p)
    assert(back == inv)
    // the handoff: scoring with the LOADED inventory runs no fit
    val before = UnigramLm.fitRunCount.get()
    val a = d.withColumn("st", UnigramLm.viterbiStats(col("text"), back))
      .select(col("doc_id"), col("st.n_pieces"), col("st.cost_units"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(UnigramLm.fitRunCount.get() == before,
      "loading an artifact must not trigger training")
    val b = d.withColumn("st", UnigramLm.viterbiStats(col("text"), inv))
      .select(col("doc_id"), col("st.n_pieces"), col("st.cost_units"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
  }

  test("pattern list round-trips with positional ids intact") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val pats = MultiPattern.cachedPatterns(d, "text")
    val p = tmp("pats")
    Artifacts.savePatterns(spark, p, pats)
    assert(Artifacts.loadPatterns(spark, p) == pats)
  }

  test("BPE merges round-trip and drive the native apply identically") {
    import graft.text.{BpeApply, BpeLearn}
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val merges = BpeLearn.learnMerges(d, nMerges = 8)
    val p = tmp("merges")
    Artifacts.saveMerges(spark, p, merges)
    val back = Artifacts.loadMerges(spark, p)
    assert(back == merges, "merge list must round-trip exactly")
    // the handoff: segmentation under the LOADED merge table equals
    // segmentation under the trained one (rank order is the model)
    def seg(ms: Seq[BpeLearn.Merge]) = d
      .withColumn("st", BpeApply.segmentStats(col("text"),
        ms.map(m => (m.sym_a, m.sym_b))))
      .select(col("doc_id"), col("st.n_pieces"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(seg(back).toSeq == seg(merges).toSeq)
  }

  test("PQ codebooks round-trip bit-for-bit and score with zero fits") {
    import graft.sim.Pq
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val cbs = Pq.trainedCodebooks(vecs, m = 4, k = 4, iters = 2)
    val p = tmp("cb")
    Artifacts.saveCodebooks(spark, p, cbs)
    val back = Artifacts.loadCodebooks(spark, p)
    assert(back == cbs.map(_.map(_.toSeq).toSeq).toSeq,
      "codebooks must round-trip exactly (doubles are bit-stable)")
    // scoring with the LOADED codebooks runs no fit
    val before = Similarity.fitRunCount.get()
    val scored = vecs
      .withColumn("d", Pq.distances(col("embedding"), back))
      .select(col("vec_id"), Pq.codes(col("d")).as("codes"))
      .collect()
    assert(Similarity.fitRunCount.get() == before,
      "loading codebooks must not trigger training")
    assert(scored.nonEmpty)
  }

  test("suffix-array span table persists as an offline index") {
    import graft.dedup.SuffixRepeats
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c")
    val docs = (0L until 12L).map { i =>
      i -> Seq.fill(10 + rnd.nextInt(15))(vocab(rnd.nextInt(3)))
    }.toDF("doc_id", "tokens")
    val spans = SuffixRepeats.repeatedSpans(docs, minLen = 3, parts = 4)
    val p = tmp("spans")
    Artifacts.saveSpanTable(spans, p)
    val back = Artifacts.loadSpanTable(spark, p)
    assert(back.columns.toSeq == spans.columns.toSeq)
    val a = spans.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, "span rows must round-trip exactly")
    // consuming the loaded table is a plain scan — no SA rebuild
    val builds = FitCache.builds(FitCache.SpanIndex)
    val cov = back.agg(sum(col("covered_tokens"))).head().getLong(0)
    assert(FitCache.builds(FitCache.SpanIndex) == builds)
    assert(cov >= 0)
  }

  test("MinHash signature table persists; a loaded table serves " +
      "every serveSigs query with zero signature builds") {
    import graft.dedup.Dedup
    val d = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.clearSigCache()
    val sigs = Dedup.signatureTable(d)
    val p = tmp("sigs")
    Artifacts.saveSigs(sigs, p)
    val warmPairs = Dedup.minhashPairs(d, serveSigs = true)
      .collect().map(_.toSeq).toSet
    // fresh-session handoff: drop the in-JVM entry, load, install
    Dedup.clearSigCache()
    val loaded = Artifacts.loadSigs(spark, p)
    Dedup.installSigs(d, loaded)
    val builds = FitCache.builds(FitCache.MinhashSigs)
    val served = Dedup.minhashPairs(d, serveSigs = true)
      .collect().map(_.toSeq).toSet
    assert(FitCache.builds(FitCache.MinhashSigs) == builds,
      "a loaded signature table must serve with ZERO build jobs")
    assert(served == warmPairs,
      "pairs from the loaded table must equal the fitted path's")
    Dedup.clearSigCache()
  }

  test("near-dup pair table persists; a loaded index serves with " +
      "zero pair builds") {
    import graft.dedup.Dedup
    val d = spark.read.parquet(s"$dir/documents.parquet")
    FitCache.clear(FitCache.NearDupPairs)
    Dedup.clearSigCache()
    val pairs = Dedup.nearDuplicates(d, estThreshold = 0.0,
      exactThreshold = 0.35, servePairs = true)
    val rows = pairs.collect().map(_.toSeq).toSet
    val p = tmp("pairs")
    Artifacts.savePairs(pairs, p)
    FitCache.clear(FitCache.NearDupPairs)
    Dedup.clearSigCache()
    Dedup.installPairs(d, Artifacts.loadPairs(spark, p),
      estThreshold = 0.0, exactThreshold = 0.35)
    val builds = FitCache.builds(FitCache.NearDupPairs)
    val served = Dedup.nearDuplicates(d, estThreshold = 0.0,
        exactThreshold = 0.35, servePairs = true)
      .collect().map(_.toSeq).toSet
    assert(FitCache.builds(FitCache.NearDupPairs) == builds,
      "a loaded pair index must serve with ZERO builds")
    assert(served == rows)
    FitCache.clear(FitCache.NearDupPairs)
    Dedup.clearSigCache()
  }

  test("LM score frame persists; a loaded frame serves the scoring " +
      "branch with zero builds") {
    import graft.model.NgramLm
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        split(col("text"), "\\s+").as("tk"))
    NgramLm.clear()
    val f = NgramLm.cachedScoreFrame(base, "artspec") {
      val m = NgramLm.cachedBigram(base, "en")
      base.select(col("doc_id"), size(col("tk")).as("n_bigrams"),
        (lit(m.nall).cast("double") / (size(col("tk")) + lit(1)))
          .as("ppl"))
    }
    val rows = f.collect().map(_.toSeq).toSet
    val p = tmp("scoreframe")
    Artifacts.saveScoreFrame(f, p)
    // fresh-session handoff
    NgramLm.clear()
    val loaded = Artifacts.loadScoreFrame(spark, p)
    NgramLm.installScoreFrame(base, "artspec", loaded)
    val builds = FitCache.builds(FitCache.LmScore)
    val served = NgramLm.cachedScoreFrame(base, "artspec") {
      fail("the build branch must not run when a loaded frame is " +
        "installed"); base
    }
    assert(FitCache.builds(FitCache.LmScore) == builds)
    assert(served.collect().map(_.toSeq).toSet == rows,
      "the loaded frame must be bit-equal to the built one")
    NgramLm.clear()
  }

  test("linear-model weights round-trip in training order") {
    val w = Seq("bias" -> -0.123456, "x1" -> 0.4, "x2" -> 1.75,
      "x3" -> -8.0, "x4" -> 0.000001)
    val p = tmp("weights")
    Artifacts.saveWeights(spark, p, w)
    val back = Artifacts.loadWeights(spark, p)
    assert(back == w, "weights must round-trip exactly, in order")
    // the loaded vector rebuilds the q140 margin expression directly
    import spark.implicits._
    val margin = back.tail.zipWithIndex.foldLeft(lit(back.head._2)) {
      case (acc, ((_, wj), j)) => acc + lit(wj) * col(s"x${j + 1}")
    }
    val scored = Seq((1.0, 2.0, 3.0, 4.0)).toDF("x1", "x2", "x3", "x4")
      .select(margin.as("m")).head().getDouble(0)
    assert(approx(scored,
      -0.123456 + 0.4 * 1 + 1.75 * 2 - 8.0 * 3 + 0.000001 * 4))
  }
}
