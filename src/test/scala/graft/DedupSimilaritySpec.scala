package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextAnalysis
import graft.model.FitCache

/** Scale-operator semantics: fingerprint/exact dedup, MinHash-LSH,
  * SimHash, n-gram Jaccard, cosine similarity + ANN.
  */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "The  quick   brown fox jumps over the lazy dog again and AGAIN"),
    (4L, "a completely different document about spark query engines"),
    (5L, "the quick brown fox jumps over the lazy cat again and again")
  ).toDF("doc_id", "text")

  test("fingerprint is whitespace- and case-insensitive") {
    val fps = docs.select($"doc_id",
      TextAnalysis.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) == fps(3L)) // normalized whitespace + lowercase
    assert(fps(1L) != fps(4L))
  }

  test("exact dedup keeps the lowest id per fingerprint") {
    val kept = Dedup.exact(docs).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_dups")).toMap
    assert(kept(1L) == 3) // docs 1,2,3 collapse
    assert(kept(4L) == 1 && kept(5L) == 1)
  }

  test("identical docs share minhash signatures; near-dups collide") {
    val sigs = docs.select($"doc_id",
      Dedup.minhashSignature($"text").as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    // doc 5 differs by one word: most signature components agree
    val agree = sigs(1L).zip(sigs(5L)).count { case (a, b) => a == b }
    assert(agree >= 8)
  }

  test("minhashPairs surfaces the duplicate cluster, not the outlier") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashPairs matches the naive banded self-join formulation") {
    // the signature-collapse rewrite (r4 verdict item 2) must be
    // output-identical to the direct banded self-join it replaced;
    // threshold 0.0 = every colliding pair, the widest surface
    val k = 16
    val sigs = Dedup.withMinhash(docs)
    val a = sigs.select($"doc_id".as("id_a"), $"sig".as("sig_a"),
      $"band_idx", $"band_hash")
    val b = sigs.select($"doc_id".as("id_b"), $"sig".as("sig_b"),
      $"band_idx", $"band_hash")
    val naive = a.join(b, Seq("band_idx", "band_hash"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        (size(filter(zip_with($"sig_a", $"sig_b",
          (x, y) => x === y), p => p)).cast("double") / k)
          .as("est_jaccard"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hardened = Dedup.minhashPairs(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(hardened == naive)
  }

  test("minhashPairs: 1000-identical-doc cluster stays bounded") {
    // r4 verdict item 2's hazard case: m identical docs share every
    // band, so the pre-hardening join pushed bands*m^2 rows through
    // the distinct exchange. Collapsed signatures keep the band join
    // linear; the m(m-1)/2 output pairs are inherent to the pair
    // semantics and must all appear, each at est_jaccard exactly 1.0.
    val m = 1000L
    val cluster = spark.range(1L, m + 1)
      .select($"id".as("doc_id"),
        lit("identical boilerplate navigation header repeated on every page")
          .as("text"))
    val extra = Seq(
      (5000L, "identical boilerplate navigation footer repeated on every page"),
      (6000L, "entirely unrelated document discussing spark physical plans")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashPairs(cluster.union(extra), threshold = 0.0)
    val within = out.filter($"id_a" <= m && $"id_b" <= m)
    assert(within.count() == m * (m - 1) / 2)
    assert(within.filter($"est_jaccard" =!= 1.0).count() == 0)
    // no duplicate pairs from the expansion joins
    assert(out.count() == out.select($"id_a", $"id_b").distinct().count())
    // cross pairs (near-dup doc vs the cluster) score identically to
    // every member — est_jaccard is a function of the signatures only
    val cross = out.filter($"id_b" === 5000L)
    assert(cross.select($"est_jaccard").distinct().count() <= 1)
  }

  test("nearDuplicates verifies candidates with exact jaccard") {
    val nd = Dedup.nearDuplicates(docs, estThreshold = 0.3,
      exactThreshold = 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(nd.contains((1L, 2L)))
  }

  test("served pair table: one build serves the unfiltered and " +
      "seed-filtered consumers; filtered output equals the inline " +
      "candidate-stage prune") {
    val d = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    FitCache.clear(FitCache.NearDupPairs)
    Dedup.clearSigCache()
    val inlineAll = Dedup.nearDuplicates(d, estThreshold = 0.0,
        exactThreshold = 0.35).collect().map(_.toSeq).toSet
    val b0 = FitCache.builds(FitCache.NearDupPairs)
    val servedAll = Dedup.nearDuplicates(d, estThreshold = 0.0,
        exactThreshold = 0.35, servePairs = true)
      .collect().map(_.toSeq).toSet
    assert(FitCache.builds(FitCache.NearDupPairs) == b0 + 1)
    assert(servedAll == inlineAll,
      "the served table must equal the inline rescore")
    // a pure pair-id predicate applied to the served table == the
    // inline candidate-stage prune (q163's equivalence)
    import org.apache.spark.sql.DataFrame
    val seeds = d.filter($"doc_id" % 17 === 3).select($"doc_id")
    val touch: DataFrame => DataFrame = c => c
      .join(seeds.select($"doc_id".as("id_a"), lit(true).as("__a")),
        Seq("id_a"), "left")
      .join(seeds.select($"doc_id".as("id_b"), lit(true).as("__b")),
        Seq("id_b"), "left")
      .filter($"__a".isNotNull || $"__b".isNotNull)
      .drop("__a", "__b")
    val inlineFiltered = Dedup.nearDuplicates(d, estThreshold = 0.0,
        exactThreshold = 0.35, pairFilter = touch)
      .select($"id_a", $"id_b").collect().map(_.toSeq).toSet
    val servedFiltered = Dedup.nearDuplicates(d, estThreshold = 0.0,
        exactThreshold = 0.35, pairFilter = touch, servePairs = true)
      .select($"id_a", $"id_b").collect().map(_.toSeq).toSet
    assert(FitCache.builds(FitCache.NearDupPairs) == b0 + 1,
      "the filtered consumer must ride the SAME build")
    assert(servedFiltered == inlineFiltered)
    FitCache.clear(FitCache.NearDupPairs)
    Dedup.clearSigCache()
  }

  test("simhash: equal texts equal, near texts close in hamming") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(_.length == 16))
    def hamming(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        Integer.bitCount(Integer.parseInt(x.toString, 16) ^
          Integer.parseInt(y.toString, 16))
      }.sum
    assert(hamming(sh(1L), sh(5L)) < hamming(sh(1L), sh(4L)))
  }

  test("simhash banded pairs find exact dups at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming")))
    // docs 1 and 2 are byte-identical -> hamming 0
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    // the unrelated doc 4 never pairs at <= 3 bits
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashPairs: collapsed join equals the naive banded join") {
    // differential vs the pre-r12 formulation (band every doc, no
    // identical-signature collapse) — the hardening must be invisible
    // in the output
    val banded = docs
      .withColumn("sh", Dedup.simhash($"text"))
      .select($"doc_id", $"sh",
        posexplode(array((0 until 4).map(b =>
          $"sh".substr(b * 4 + 1, 4)): _*))
          .as(Seq("band_idx", "band_val")))
    val a = banded.select($"doc_id".as("id_a"), $"sh".as("sh_a"),
      $"band_idx", $"band_val")
    val b = banded.select($"doc_id".as("id_b"), $"sh".as("sh_b"),
      $"band_idx", $"band_val")
    val naive = a.join(b, Seq("band_idx", "band_val"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        Dedup.simhashHamming($"sh_a", $"sh_b").as("hamming"))
      .filter($"hamming" <= 12)
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hardened = Dedup.simhashPairs(docs, maxHamming = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(naive.nonEmpty)
    assert(hardened == naive)
  }

  test("simhashPairs: 1000-identical-doc cluster stays bounded") {
    // r11 verdict item 1's hazard case, the minhashPairs discipline
    // applied to SimHash: m exact dups share one 64-bit signature, so
    // the pre-hardening join pushed 4·m² rows through the hamming
    // rescore and the distinct exchange. Collapsed signatures keep
    // the band join at distinct-signature cardinality; the m(m-1)/2
    // output pairs are inherent to the pair semantics and must all
    // appear, each at hamming exactly 0.
    val m = 1000L
    val cluster = spark.range(1L, m + 1)
      .select($"id".as("doc_id"),
        lit("identical boilerplate navigation header repeated on every page")
          .as("text"))
    val extra = Seq(
      (5000L, "identical boilerplate navigation footer repeated on every page"),
      (6000L, "entirely unrelated document discussing spark physical plans")
    ).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(cluster.union(extra), maxHamming = 20)
    val within = out.filter($"id_a" <= m && $"id_b" <= m)
    assert(within.count() == m * (m - 1) / 2)
    assert(within.filter($"hamming" =!= 0).count() == 0)
    // no duplicate pairs from the expansion joins
    assert(out.count() == out.select($"id_a", $"id_b").distinct().count())
    // cross pairs (near-dup doc vs the cluster) inherit their
    // representatives' hamming — distance is a function of the two
    // signatures only
    val cross = out.filter($"id_b" === 5000L)
    assert(cross.select($"hamming").distinct().count() <= 1)
  }

  test("simhashEdges: star edge set is linear and preserves " +
      "components exactly") {
    val m = 1000L
    val cluster = spark.range(1L, m + 1)
      .select($"id".as("doc_id"),
        lit("identical boilerplate navigation header repeated on every page")
          .as("text"))
    val extra = Seq(
      (5000L, "identical boilerplate navigation footer repeated on every page"),
      (6000L, "entirely unrelated document discussing spark physical plans")
    ).toDF("doc_id", "text")
    val corpus = cluster.union(extra)
    val edges = Dedup.simhashEdges(corpus, maxHamming = 20)
    // linear: m-1 star edges inside the identical group + one rep
    // edge per candidate signature pair — NOT m(m-1)/2
    val withinEdges = edges.filter($"id_a" <= m && $"id_b" <= m)
    assert(withinEdges.count() == m - 1)
    assert(withinEdges.filter($"id_a" =!= 1L).count() == 0,
      "star edges hang off the group's min-id representative")
    // identical components to the full pair graph
    val fromEdges = Dedup.duplicateClusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromPairs = Dedup.duplicateClusters(
        Dedup.simhashPairs(corpus, maxHamming = 20)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromEdges == fromPairs)
    // and on the varied small corpus too
    val e2 = Dedup.duplicateClusters(
        Dedup.simhashEdges(docs, maxHamming = 12)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = Dedup.duplicateClusters(
        Dedup.simhashPairs(docs, maxHamming = 12)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2 == p2 && e2.nonEmpty)
  }

  test("duplicateClusters: single-task union-find path equals the " +
      "distributed min-label loop (r13 size-adaptive closure)") {
    // a chain (diameter > shortcut window), a triangle with a
    // redundant edge, a 2-clique, and an isolated pair — exercises
    // pointer jumping, duplicate edges, and both orientations
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (15L, 16L), (16L, 17L), (17L, 18L), (18L, 19L),
      (30L, 31L), (31L, 32L), (30L, 32L), (30L, 31L),
      (40L, 41L), (50L, 51L)).toDF("id_a", "id_b")
    def cl(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDsu = cl(Dedup.duplicateClusters(edges))
    assert(Dedup.lastCcRounds.get() == 1L,
      "small edge list must take the union-find path")
    // force the distributed loop by zeroing the size threshold
    spark.conf.set("graft.cc.localEdgeMax", "0")
    try {
      val viaLoop = cl(Dedup.duplicateClusters(edges))
      assert(Dedup.lastCcRounds.get() > 1L,
        "threshold 0 must take the distributed loop")
      assert(viaDsu == viaLoop && viaDsu.nonEmpty)
      val expected = ((10L to 19L).map(i => (i, 10L)) ++
        Seq((30L, 30L), (31L, 30L), (32L, 30L),
          (40L, 40L), (41L, 40L), (50L, 50L), (51L, 50L))).toSet
      assert(viaDsu == expected)
    } finally spark.conf.unset("graft.cc.localEdgeMax")
  }

  test("simhashClusters: rep-graph CC + member attach equals the " +
      "full pair-graph closure") {
    val m = 1000L
    val cluster = spark.range(1L, m + 1)
      .select($"id".as("doc_id"),
        lit("identical boilerplate navigation header repeated on every page")
          .as("text"))
    val extra = Seq(
      (5000L, "identical boilerplate navigation footer repeated on every page"),
      (6000L, "entirely unrelated document discussing spark physical plans")
    ).toDF("doc_id", "text")
    val corpus = cluster.union(extra)
    def cl(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = cl(Dedup.simhashClusters(corpus, maxHamming = 20))
    val viaPairs = cl(Dedup.duplicateClusters(
      Dedup.simhashPairs(corpus, maxHamming = 20)))
    assert(direct == viaPairs && direct.nonEmpty)
    // and on the varied small corpus — including the multi-member
    // group whose rep has no cross-group candidates
    val d2 = cl(Dedup.simhashClusters(docs, maxHamming = 12))
    val p2 = cl(Dedup.duplicateClusters(
      Dedup.simhashPairs(docs, maxHamming = 12)))
    assert(d2 == p2 && d2.nonEmpty)
    // a corpus whose ONLY structure is one exact-dup group (no
    // cross-group edges at a tight threshold): the group still
    // clusters under its rep
    val iso = Seq(
      (7L, "alpha beta gamma delta epsilon"),
      (9L, "alpha beta gamma delta epsilon"),
      (4L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val got = cl(Dedup.simhashClusters(iso, maxHamming = 0))
    assert(got == Set((4L, 4L), (7L, 4L), (9L, 4L)))
  }

  test("minhashEdges: star edge set is linear and preserves " +
      "components exactly") {
    val m = 500L
    val cluster = spark.range(1L, m + 1)
      .select($"id".as("doc_id"),
        lit("identical boilerplate navigation header repeated on every page")
          .as("text"))
    val extra = Seq(
      (5000L, "identical boilerplate navigation footer repeated on every page"),
      (6000L, "entirely unrelated document discussing spark physical plans")
    ).toDF("doc_id", "text")
    val corpus = cluster.union(extra)
    val edges = Dedup.minhashEdges(corpus, threshold = 0.3)
    val withinEdges = edges.filter($"id_a" <= m && $"id_b" <= m)
    assert(withinEdges.count() == m - 1,
      "one star edge per non-rep member, not m(m-1)/2 pairs")
    val fromEdges = Dedup.duplicateClusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromPairs = Dedup.duplicateClusters(
        Dedup.minhashPairs(corpus, threshold = 0.3)
          .select($"id_a", $"id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromEdges == fromPairs && fromEdges.nonEmpty)
    // and on the varied small corpus
    val e2 = Dedup.duplicateClusters(
        Dedup.minhashEdges(docs, threshold = 0.3)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = Dedup.duplicateClusters(
        Dedup.minhashPairs(docs, threshold = 0.3)
          .select($"id_a", $"id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2 == p2 && e2.nonEmpty)
  }

  test("jaccard of shingle sets") {
    val j = docs.filter($"doc_id".isin(1L, 5L))
      .agg(collect_list(struct($"doc_id", $"text"))).collect()
    val df = Seq((
      "a b c d", "a b c e"
    )).toDF("t1", "t2").select(
      Dedup.jaccard(TextAnalysis.shingles($"t1", 2),
        TextAnalysis.shingles($"t2", 2)).as("j"))
    // shingles(2): {a b, b c, c d} vs {a b, b c, c e}: 2/4
    assert(approx(df.collect().head.getDouble(0), 0.5))
  }

  test("cosine and l2Norm match hand computation") {
    val df = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f)))
      .toDF("a", "b")
      .select(Similarity.l2Norm($"a").as("na"),
        Similarity.dot($"a", $"b").as("d"),
        Similarity.cosine($"a", $"b").as("c"))
    val r = df.collect().head
    assert(approx(r.getAs[Double]("na"), 5.0))
    assert(approx(r.getAs[Double]("d"), 24.0))
    assert(approx(r.getAs[Double]("c"), 24.0 / 25.0))
  }

  test("bruteForceTopK ranks the nearest neighbor first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1L),
      k = 2).orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 2L)
    assert(top.length == 2)
  }

  test("banded near-dup = subset of brute force; recall pinned (sf0.01)") {
    import graft.functions.PortableRound.pround
    // brute-force all-pairs is the PARITY REFERENCE here, demoted from
    // the benched catalog (it is O(n^2) — the banded equi-join is the
    // production q29 path)
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val v = vecs.select($"vec_id", $"embedding",
      Similarity.l2Norm($"embedding").as("nrm"))
    val a = v.select($"vec_id".as("id_a"), $"embedding".as("ea"),
      $"nrm".as("na"))
    val b = v.select($"vec_id".as("id_b"), $"embedding".as("eb"),
      $"nrm".as("nb"))
    val brute = a.join(b, $"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        pround(Similarity.dot($"ea", $"eb") / ($"na" * $"nb"), 6).as("c"))
      .filter($"c" >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.nearDuplicates(vecs, threshold = 0.35,
      planes = 16, bands = 4, roundSim = Some(6))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(brute.nonEmpty)
    // exact rescoring ⇒ precision 1 (every banded pair is a true pair)
    assert(banded.subsetOf(brute))
    // deterministic planes + fixed data ⇒ recall is a constant; pin a
    // floor under the measured value (~0.52 at threshold 0.35 — low
    // thresholds are hostile to SRP; near-dup thresholds ≥0.9 recall
    // far higher)
    val recall = banded.size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall of ${brute.size} pairs")
  }

  test("SRP-LSH buckets identical vectors together (self-consistency)") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.5f)),
      (3L, Array(-1.0f, 0.2f, -0.5f))
    ).toDF("vec_id", "embedding")
    val dups = Similarity.nearDuplicates(vecs, threshold = 0.999)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(dups.toSet == Set((1L, 2L)))
  }

  test("semanticDedup keeps the min id of an identical-vector group") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.5f)),   // dup of 1 -> dropped
      (7L, Array(1.0f, 0.001f, 0.5f)), // near-dup of 1 -> dropped
      (3L, Array(-1.0f, 0.2f, -0.5f))  // far away -> survives
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(vecs,
      Similarity.gridCentroids(4, 3), threshold = 0.999)
      .collect().map(_.getAs[Long]("vec_id")).sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("semanticDedup: 1000-identical-vector cluster stays bounded") {
    // the q25/minhashPairs hazard applied to embeddings: m identical
    // vectors land in one cell and would put m²/2 pairs through the
    // within-cell join; the (cell, vector) collapse sends ONE
    // representative per distinct vector instead. Semantics pinned:
    // min id of the identical group survives, everything else in the
    // group drops, far-away vectors are untouched.
    val dup = Array(0.6f, -0.2f, 0.8f, 0.1f)
    val far = Array(-0.6f, 0.2f, -0.8f, -0.1f)
    val vecs = ((1L to 1000L).map(i => (i, dup)) :+ (2000L, far))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(vecs,
      Similarity.gridCentroids(4, 4), threshold = 0.9,
      roundSim = Some(6))
      .collect().map(_.getAs[Long]("vec_id")).sorted.toSeq
    assert(kept == Seq(1L, 2000L))
  }

  test("semanticDedup: zero-norm identical group survives whole") {
    // cosine with a zero-norm vector is null, so zero vectors never
    // pair — the collapse must not invent a drop for them
    val z = Array(0.0f, 0.0f, 0.0f)
    val vecs = Seq((1L, z), (2L, z), (3L, Array(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(vecs,
      Similarity.gridCentroids(4, 3), threshold = 0.5,
      roundSim = Some(6))
      .collect().map(_.getAs[Long]("vec_id")).sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
  }

  test("semanticDedup: salted hot-cell split equals the plain join") {
    // r5 verdict #1: a mis-sized nlist concentrates vectors in few
    // cells; the salt-split must spread that cell's pair work across
    // sub-cell join keys WITHOUT changing the survivor set. Half the
    // corpus lands in one direction cluster (one cell), and the
    // forced-hot runs (hotCellRows=2 puts every multi-rep cell on the
    // salted path, including sub-cell counts that don't divide the
    // cell evenly) must equal the replication-free plain join.
    val rnd = new scala.util.Random(7)
    val base = Array(0.7f, -0.1f, 0.4f)
    val vecs = (1L to 120L).map { i =>
      if (i <= 60) (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
      else (i, Array.fill(3)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.gridCentroids(4, 3)
    def kept(hotRows: Int, subs: Int): Set[Long] =
      Similarity.semanticDedup(vecs, cents, threshold = 0.98,
        roundSim = Some(6), hotCellRows = hotRows, subCells = subs)
        .collect().map(_.getAs[Long]("vec_id")).toSet
    val plain = kept(Int.MaxValue, 1)
    assert(plain.nonEmpty && plain.size < 120) // something dropped
    assert(kept(2, 4) == plain)
    assert(kept(2, 1) == plain)
    assert(kept(3, 7) == plain)
  }

  test("semanticDedup: maxCellRows turns a hot cell into a loud error") {
    // same-direction (distinct-magnitude) vectors all route to one
    // cell; with the cap set below the cell size the plan must fail
    // loudly instead of running quadratic pair work
    val base = Array(0.5f, 0.1f, 0.2f)
    val vecs = (1L to 50L)
      .map(i => (i, base.map(_ * (1.0f + i * 0.001f))))
      .toDF("vec_id", "embedding")
    val ex = intercept[Throwable] {
      Similarity.semanticDedup(vecs, Similarity.gridCentroids(4, 3),
        threshold = 0.999, roundSim = Some(6), maxCellRows = Some(10L))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxCellRows")))
  }

  test("semanticDedup invariants at sf0.01: maximal independent prefix") {
    import graft.functions.PortableRound.pround
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cents = Similarity.gridCentroids(8, 64)
    val keptRows = Similarity.semanticDedup(vecs, cents,
      threshold = 0.35, roundSim = Some(6)).collect()
    val keptIds = keptRows.map(_.getAs[Long]("vec_id")).toSet
    assert(keptIds.nonEmpty && keptIds.size < 500) // something dropped
    val cellOfId = keptRows
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    // all-pairs above threshold (reference computation, test-only)
    val v = vecs.select($"vec_id", $"embedding",
      Similarity.l2Norm($"embedding").as("nrm"))
    val a = v.select($"vec_id".as("id_a"), $"embedding".as("ea"),
      $"nrm".as("na"))
    val b = v.select($"vec_id".as("id_b"), $"embedding".as("eb"),
      $"nrm".as("nb"))
    val simPairs = a.join(b, $"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        pround(Similarity.dot($"ea", $"eb") / ($"na" * $"nb"), 6).as("c"))
      .filter($"c" >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no two SURVIVORS in the same cell may be above threshold: the
    // larger id would have had a smaller-id neighbor and been dropped
    val violations = simPairs.filter { case (x, y) =>
      keptIds.contains(x) && keptIds.contains(y) &&
        cellOfId.get(x) == cellOfId.get(y)
    }
    assert(violations.isEmpty, s"co-surviving near-dups: $violations")
  }

  test("incrementalNew drops history dups and keeps one per batch group") {
    val history = Seq((1L, "already ingested document text"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "already  INGESTED document text"), // dup of history (normalized)
      (11L, "fresh doc one"),
      (12L, "fresh doc one"),                   // in-batch dup of 11
      (13L, "fresh doc two")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalNew(batch, history).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(kept == Seq(11L, 13L))
  }

  test("contamination scores shingle overlap against a benchmark set") {
    // benchmark = doc 2 (identical to doc 1); corpus = docs 1, 4, 5
    val corpus = docs.filter($"doc_id".isin(1L, 4L, 5L))
    val bench = docs.filter($"doc_id" === 2L)
    val scores = Dedup.contamination(corpus, bench).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("overlap_frac"))).toMap
    assert(scores(1L) == ((10L, 10L, 1.0)))  // exact dup of the bench doc
    assert(scores(4L)._2 == 0L)              // unrelated: zero overlap
    // doc 5 differs in one token (position 9 of 12) => the 3 shingles
    // covering it miss, the other 7 of 10 hit
    assert(scores(5L) == ((10L, 7L, 0.7)))
  }

  test("duplicateClusters chains transitive pairs to the min label") {
    // a~b, b~c but never a~c directly; plus an unrelated pair {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("duplicateClusters converges on a long chain (diameter > 1 round)") {
    val n = 12L
    val chain = (1L until n).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(chain).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(clusters.length == n)
    assert(clusters.forall(_._2 == 1L))
  }

  test("duplicateClusters resolves a deep chain in O(log diameter) rounds") {
    // Crawl-mirror pathology (r2 verdict item 7): a path graph of
    // diameter 400. Plain min-label propagation needs ~400 rounds —
    // far past any sane maxIter; the pointer-jumping shortcut must
    // resolve it within the default budget (40 rounds covers
    // diameters up to ~2^40). Correctness: every vertex labels to the
    // chain head.
    val n = 400L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(chain).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(clusters.length == n)
    assert(clusters.forall(_._2 == 1L))
  }

  test("duplicateClusters with a reliable checkpointDir matches the " +
      "localCheckpoint default") {
    // r3 verdict item 7: localCheckpoint pins iteration state to
    // executors — an executor loss mid-iteration kills the job on a
    // real cluster. The opt-in reliable checkpoint() path must
    // produce identical clusters (only the lineage barrier differs).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toString
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L))
        .toDF("id_a", "id_b")
      val got = Dedup
        .duplicateClusters(pairs, checkpointDir = Some(dir))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
        .toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L,
        6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
      // the reliable store was actually written (RDD checkpoint dirs)
      assert(new java.io.File(dir).listFiles() != null &&
        new java.io.File(dir).listFiles().nonEmpty,
        s"no checkpoint data written under $dir")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("containment is asymmetric where jaccard is diluted") {
    // doc 11's shingles are a strict subset of doc 10's: containment
    // 11→10 is exactly 1.0 while jaccard is |A|/|B| < 0.5 — the quote
    // case symmetric similarity misses.
    val quoted = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "totally unrelated text about query planners and shuffles")
    ).toDF("doc_id", "text")
    val sh = TextAnalysis.shingles(col("text"), 3)
    val pair = quoted.filter($"doc_id" === 10L)
      .select(sh.as("sh_b")).crossJoin(
        quoted.filter($"doc_id" === 11L).select(sh.as("sh_a")))
    val r = pair.select(
      Dedup.containment($"sh_a", $"sh_b").as("c_ab"),
      Dedup.containment($"sh_b", $"sh_a").as("c_ba"),
      Dedup.jaccard($"sh_a", $"sh_b").as("jac")).collect().head
    assert(approx(r.getAs[Double]("c_ab"), 1.0))
    assert(r.getAs[Double]("c_ba") < 0.5)
    assert(r.getAs[Double]("jac") < 0.5)
    // operator surface: a prefix-subset pair (13 ⊂ 10, high enough
    // jaccard to band-collide) survives a containment threshold that
    // its smaller-side jaccard direction would not clear, and the
    // unrelated doc stays out
    val corpus = quoted.union(Seq(
      (13L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho")).toDF("doc_id", "text"))
    val pairs = Dedup.containmentPairs(corpus, containThreshold = 0.99)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1)))
    assert(pairs.contains((10L, 13L)) || pairs.contains((13L, 10L)),
      s"subset pair missing from $pairs")
    assert(!pairs.exists { case (a, b) => a == 12L || b == 12L })
  }

  test("incrementalNearDup gates new docs against history, best-match") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " +
      "while seven wizards brew quartz potions at dawn"
    val hist = Seq(
      (1L, base),                       // original
      (3L, base),                       // exact dup in history too
      (5L, "completely different content about spark catalyst " +
        "optimizer rules and distributed shuffle exchanges")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, base),                     // exact re-crawl -> est 1.0
      (102L, base + " extra trailing words"), // light edit -> near
      (103L, "unrelated novel text nobody has ever written before " +
        "in any corpus anywhere truly unique")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(fresh, hist, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // exact re-crawl: est 1.0, witness pinned to the MIN history id
    // of the matching signature group (1, not 3)
    assert(out(101L) == ((1L, 1.0)))
    // light edit: caught with high (but not necessarily 1.0) estimate
    assert(out.contains(102L) && out(102L)._2 >= 0.5)
    // novel doc passes the gate
    assert(!out.contains(103L))
  }

  test("minhash signature table is fit-once served state (r10): one " +
      "build serves the whole family; clearSigCache forces a rebuild") {
    import graft.dedup.Dedup
    Dedup.clearSigCache()
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
    run("q25_lsh_pairs")
    val builds = FitCache.builds(FitCache.MinhashSigs)
    run("q70_neardup_rescore")
    run("q114_containment")
    run("q25_lsh_pairs")
    assert(FitCache.builds(FitCache.MinhashSigs) == builds,
      "q70/q114/q25-again must serve q25's signature table " +
        "(same corpus plan, k, shingle size)")
    Dedup.clearSigCache()
    run("q25_lsh_pairs")
    assert(FitCache.builds(FitCache.MinhashSigs) > builds,
      "clearSigCache drops the table: the next run rebuilds")
  }
}
