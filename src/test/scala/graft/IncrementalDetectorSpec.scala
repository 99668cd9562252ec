package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.model.{Artifacts, FitCache}

/** Batch-proportional incremental edge discovery (r13 — r12 verdict
  * Next #1): [[Dedup.simhashBatchEdges]] / [[Dedup.minhashBatchEdges]]
  * band an arriving batch against the SERVED signature tables, and
  * feeding [[Dedup.mergeClusters]] must be indistinguishable from the
  * full detector + closure over the union — while the cycle plan
  * reads the batch and the served artifacts ONLY, never the corpus
  * documents.
  */
class IncrementalDetectorSpec extends SparkSpec {

  import spark.implicits._

  /** Near-dup-structured corpus: 8 base texts, each doc either an
    * exact copy (i % 3 == 0) or a one-token mutation of its group's
    * base — SimHash stays within a small hamming ball and MinHash
    * shingle overlap stays high inside a group, while groups are far
    * apart.
    */
  private def corpus(n: Int): DataFrame = {
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa")
    val rnd = new scala.util.Random(13)
    (0 until n).map { i =>
      val g = i % 8
      val base = (0 until 24).map(j =>
        words((g * 7 + j * 3 + g * j) % words.length))
      val txt =
        if (i % 3 == 0) base
        else base.updated(rnd.nextInt(24),
          words(rnd.nextInt(words.length)))
      (i.toLong, txt.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def clustersOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("simhash: batch probe + merge equals the full closure over " +
      "the union, on every history/batch split") {
    val d = corpus(60)
    val full = clustersOf(Dedup.simhashClusters(d, maxHamming = 12))
    for (m <- Seq(3L, 5L, 10L)) {
      val hist = d.filter(col("doc_id") % m =!= 0)
      val batch = d.filter(col("doc_id") % m === 0)
      val labels = Dedup.simhashClusters(hist, maxHamming = 12)
      val edges = Dedup.simhashBatchEdges(batch,
        Dedup.simhashTable(hist), maxHamming = 12)
      val merged = Dedup.mergeClusters(labels, edges)
      assert(clustersOf(merged) == full,
        s"split %$m diverged from the full recompute")
    }
  }

  test("minhash: batch probe + merge equals the full closure over " +
      "the union") {
    val d = corpus(48)
    val full = clustersOf(Dedup.duplicateClusters(
      Dedup.minhashEdges(d, threshold = 0.5)))
    val hist = d.filter(col("doc_id") % 4 =!= 0)
    val batch = d.filter(col("doc_id") % 4 === 0)
    val labels = Dedup.duplicateClusters(
      Dedup.minhashEdges(hist, threshold = 0.5))
    val edges = Dedup.minhashBatchEdges(batch,
      Dedup.signatureTable(hist), threshold = 0.5)
    assert(clustersOf(Dedup.mergeClusters(labels, edges)) == full)
  }

  test("chained cycles riding the real detector: three arriving " +
      "batches, served sigs growing each cycle, equals one full " +
      "recompute") {
    val d = corpus(60)
    val b0 = d.filter(col("doc_id") < 20)
    val b1 = d.filter(col("doc_id") >= 20 && col("doc_id") < 40)
    val b2 = d.filter(col("doc_id") >= 40)
    // bootstrap cycle: the first batch IS the corpus
    var labels = Dedup.simhashClusters(b0, maxHamming = 12)
    var served = Dedup.simhashTable(b0)
    for (b <- Seq(b1, b2)) {
      val edges = Dedup.simhashBatchEdges(b, served, maxHamming = 12)
      labels = Dedup.mergeClusters(labels, edges)
      served = served.unionByName(Dedup.simhashTable(b))
    }
    val full = clustersOf(Dedup.simhashClusters(d, maxHamming = 12))
    assert(clustersOf(labels) == full)
  }

  test("a batch doc matching a large exact-dup served group emits " +
      "ONE representative cross edge, not one per member") {
    // 400 identical served docs + 1 identical batch doc: the probe
    // must collapse the served side before banding (the r11/r12
    // collapse discipline applied to the incremental path)
    val served = (1L to 400L).map(i => (i, "same text here"))
      .toDF("doc_id", "text")
    val batch = Seq((1000L, "same text here")).toDF("doc_id", "text")
    val edges = Dedup.simhashBatchEdges(batch,
      Dedup.simhashTable(served), maxHamming = 3)
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1000L)),
      s"expected the single rep edge (1,1000), got ${got.length} edges")
    // and the merge attaches the batch doc to the full group
    val labels = Dedup.simhashClusters(served, maxHamming = 3)
    val merged = Dedup.mergeClusters(labels, edges)
    assert(merged.count() == 401L)
    assert(merged.select(col("cluster_id")).distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("the cycle plan reads the batch and the served artifacts " +
      "ONLY — no corpus-document scan (r12 verdict's done-criterion)") {
    val root = Files.createTempDirectory("graft_cycle").toString
    val d = corpus(60)
    val hist = d.filter(col("doc_id") % 5 =!= 0)
    val batch = d.filter(col("doc_id") % 5 === 0)
    // offline: the loop's artifacts persist (signatures + labels)
    d.write.mode("overwrite").parquet(s"$root/corpus")
    batch.write.mode("overwrite").parquet(s"$root/batch")
    Artifacts.saveSimhashSigs(Dedup.simhashTable(hist),
      s"$root/sigs")
    Artifacts.saveLabels(Dedup.simhashClusters(hist, maxHamming = 12),
      s"$root/labels")
    // online cycle, in a "fresh driver": loaded artifacts + batch file
    val loadedSigs = Artifacts.loadSimhashSigs(spark, s"$root/sigs")
    val loadedLabels = Artifacts.loadLabels(spark, s"$root/labels")
    val batchDf = spark.read.parquet(s"$root/batch")
    val edges = Dedup.simhashBatchEdges(batchDf, loadedSigs,
      maxHamming = 12)
    // every file the edge-discovery plan can read must live under
    // batch/ — the loaded artifacts are materialized served state
    val eFiles = edges.inputFiles
    assert(eFiles.nonEmpty && eFiles.forall(_.contains("/batch")),
      s"edge discovery reads outside the batch: " +
        eFiles.filterNot(_.contains("/batch")).mkString(", "))
    // the full-recompute expectation, read BEFORE the corpus parquet
    // is destroyed below
    val full = clustersOf(Dedup.simhashClusters(
      spark.read.parquet(s"$root/corpus"), maxHamming = 12))
    // HARD no-corpus-scan guarantee (r13 — mergeClusters now
    // materializes its inputs eagerly, so the returned frame's
    // inputFiles can no longer witness the scans): delete the corpus
    // parquet outright; any cycle-side corpus read now fails loudly
    // instead of passing a lineage inspection
    val corpusDir = new java.io.File(s"$root/corpus")
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(corpusDir)
    assert(!corpusDir.exists())
    val cycle = Dedup.mergeClusters(loadedLabels, edges)
    // and the loaded-artifact cycle matches the full recompute
    assert(clustersOf(cycle) == full)
  }

  /** Near-dup-structured embeddings: 6 base directions, each member
    * either an exact copy (i % 3 == 0) or a small perturbation of its
    * group's base (cosine ≈ 0.99 within a group; random 64-dim
    * gaussian bases are near-orthogonal across groups, cosine ≈ 0).
    */
  private def vecCorpus(n: Int): DataFrame = {
    val rnd = new scala.util.Random(29)
    val bases = (0 until 6).map(_ =>
      Array.fill(64)(rnd.nextGaussian().toFloat))
    (0 until n).map { i =>
      val base = bases(i % 6)
      val v =
        if (i % 3 == 0) base.clone()
        else base.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def srpFull(d: DataFrame): Set[(Long, Long)] =
    clustersOf(Dedup.duplicateClusters(
      graft.sim.Similarity.nearDuplicates(d, threshold = 0.35,
        planes = 16, bands = 4, roundSim = Some(6))))

  test("srp embeddings: batch probe + merge equals the full " +
      "closure over the union, on every history/batch split") {
    import graft.sim.Similarity
    val d = vecCorpus(48)
    val full = srpFull(d)
    assert(full.nonEmpty)
    for (m <- Seq(3L, 5L)) {
      val hist = d.filter(col("vec_id") % m =!= 0)
      val batch = d.filter(col("vec_id") % m === 0)
      val labels = Dedup.duplicateClusters(Similarity.nearDuplicates(
        hist, threshold = 0.35, planes = 16, bands = 4,
        roundSim = Some(6)))
      val edges = Similarity.srpBatchEdges(batch,
        Similarity.srpTable(hist), threshold = 0.35,
        planes = 16, bands = 4, roundSim = Some(6))
      val merged = Dedup.mergeClusters(labels, edges)
      assert(clustersOf(merged) == full,
        s"split %$m diverged from the full recompute")
    }
  }

  test("srp: a batch vector matching a large identical-embedding " +
      "served group emits ONE representative cross edge; zero-norm " +
      "vectors never edge (NaN cosine, as the full pair build)") {
    import graft.sim.Similarity
    val rnd = new scala.util.Random(41)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val served = (1L to 400L).map(i => (i, base.clone()))
      .toDF("vec_id", "embedding")
    val batch = Seq((1000L, base.clone())).toDF("vec_id", "embedding")
    val edges = Similarity.srpBatchEdges(batch,
      Similarity.srpTable(served), threshold = 0.35,
      planes = 16, bands = 4, roundSim = Some(6))
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1000L)),
      s"expected the single rep edge (1,1000), got ${got.length} edges")
    // zero vectors: identical signatures and bands, but NaN cosine —
    // the batch probe must drop them exactly as nearDuplicates does
    val zeros = (1L to 3L).map(i => (i, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    val zBatch = Seq((9L, Array.fill(64)(0.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.srpBatchEdges(zBatch, Similarity.srpTable(zeros),
      threshold = 0.35, planes = 16, bands = 4,
      roundSim = Some(6)).isEmpty)
    assert(Similarity.nearDuplicates(zeros.unionByName(zBatch),
      threshold = 0.35, planes = 16, bands = 4,
      roundSim = Some(6)).isEmpty)
  }

  test("the srp cycle plan reads the batch and the served artifacts " +
      "ONLY — history vectors are never re-scanned") {
    import graft.sim.Similarity
    val root = Files.createTempDirectory("graft_srpcycle").toString
    val d = vecCorpus(48)
    val hist = d.filter(col("vec_id") % 5 =!= 0)
    val batch = d.filter(col("vec_id") % 5 === 0)
    d.write.mode("overwrite").parquet(s"$root/corpus")
    batch.write.mode("overwrite").parquet(s"$root/batch")
    Artifacts.saveSrpTable(Similarity.srpTable(hist), s"$root/srp")
    Artifacts.saveLabels(Dedup.duplicateClusters(
      Similarity.nearDuplicates(hist, threshold = 0.35, planes = 16,
        bands = 4, roundSim = Some(6))), s"$root/labels")
    val loadedSrp = Artifacts.loadSrpTable(spark, s"$root/srp")
    val loadedLabels = Artifacts.loadLabels(spark, s"$root/labels")
    val batchDf = spark.read.parquet(s"$root/batch")
    val edges = Similarity.srpBatchEdges(batchDf, loadedSrp,
      threshold = 0.35, planes = 16, bands = 4, roundSim = Some(6))
    val eFiles = edges.inputFiles
    assert(eFiles.nonEmpty && eFiles.forall(_.contains("/batch")),
      s"edge discovery reads outside the batch: " +
        eFiles.filterNot(_.contains("/batch")).mkString(", "))
    // expectation first, then the HARD guarantee: destroy the corpus
    // parquet so any cycle-side scan of history vectors fails loudly
    // (mergeClusters materializes eagerly; lineage inspection of the
    // returned frame can no longer witness the scans)
    val full = srpFull(spark.read.parquet(s"$root/corpus"))
    val corpusDir = new java.io.File(s"$root/corpus")
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(corpusDir)
    assert(!corpusDir.exists())
    val cycle = Dedup.mergeClusters(loadedLabels, edges)
    assert(clustersOf(cycle) == full)
  }

  test("simhash signature table round-trips and serves with zero " +
      "rebuild jobs (installSimhashSigs)") {
    val d = corpus(30)
    val p = Files.createTempDirectory("graft_shsigs").toString + "/s"
    Dedup.clearSigCache()
    val before = FitCache.builds(FitCache.SimhashSigs)
    val sigs = Dedup.simhashTable(d)
    assert(FitCache.builds(FitCache.SimhashSigs) == before + 1)
    // a second request serves from the cache — no rebuild
    Dedup.simhashTable(d)
    assert(FitCache.builds(FitCache.SimhashSigs) == before + 1)
    Artifacts.saveSimhashSigs(sigs, p)
    // "fresh session": drop the cache, install the LOADED table
    Dedup.clearSigCache()
    val loaded = Artifacts.loadSimhashSigs(spark, p)
    Dedup.installSimhashSigs(d, loaded)
    val servedAgain = Dedup.simhashTable(d)
    assert(FitCache.builds(FitCache.SimhashSigs) == before + 1,
      "serving a loaded table must schedule zero signature builds")
    assert(servedAgain.collect().map(r =>
        (r.getLong(0), r.getString(1))).toSet ==
      sigs.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    Dedup.clearSigCache()
  }
}
