package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.Release
import graft.sampling.Packing
import graft.sim.Similarity
import graft.model.FitCache

/** Release management (r11): version diff, content-addressed shard
  * manifest, dirty-shard decision, semantic decontamination, and the
  * ensemble dedup closure — properties asserted on hand-built frames
  * where every expected value is derivable by inspection.
  */
class ReleaseSpec extends SparkSpec {

  import spark.implicits._

  test("diff classifies added / removed / changed and drops the " +
      "unchanged mass") {
    val v0 = Seq((1L, "a", "h1"), (2L, "a", "h2"), (3L, "b", "h3"))
      .toDF("doc_id", "source", "fp")
    val v1 = Seq((2L, "a", "h2"), (3L, "b", "h3x"), (4L, "c", "h4"))
      .toDF("doc_id", "source", "fp")
    val got = Release.diff(v0, v1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", "removed"),
      (3L, "b", "changed"), (4L, "c", "added")))
  }

  // four docs, one chunk each, two buckets (doc_id % 2) — manifest
  // values are hand-checkable and a one-chunk edit is bucket-local
  private def packedOf(texts: Map[Long, String]): DataFrame = {
    val chunks = texts.toSeq.sortBy(_._1)
      .map { case (id, t) =>
        (id, 0, t.split(" ").length.toLong,
          // stand-in chunk hash: the text itself keeps the
          // fingerprint chain inspectable
          t)
      }
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_hash")
    Packing.packSequences(chunks, capacity = 4, buckets = 2)
  }

  private val baseTexts = Map(
    0L -> "aa bb", 1L -> "cc dd", 2L -> "ee ff", 3L -> "gg hh")

  test("manifest is deterministic under row order and partitioning") {
    val m1 = Release.manifest(packedOf(baseTexts))
    val m2 = Release.manifest(
      packedOf(baseTexts).repartition(7).sortWithinPartitions(
        col("seq_offset").desc))
    val k = (df: DataFrame) => df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._1).toSeq
    assert(k(m1) == k(m2))
    assert(k(m1).map(_._1) == Seq(0, 1))
    // bucket 0 holds docs 0 and 2: two 2-token chunks packed into
    // one 4-capacity sequence
    assert(k(m1).head == ((0, 1L, 2L, 4L, k(m1).head._5)))
  }

  test("a one-doc edit dirties exactly its bucket") {
    val m0 = Release.manifest(packedOf(baseTexts))
    val m1 = Release.manifest(packedOf(baseTexts + (2L -> "ee XX")))
    val got = Release.dirtyShards(m0, m1).collect()
      .map(r => (r.getInt(0), r.getBoolean(7))).sortBy(_._1)
    assert(got.toSeq == Seq((0, true), (1, false)))
  }

  test("root chains shard fps in bucket order; one flipped chunk " +
      "hash flips the root") {
    val r0 = Release.root(Release.manifest(packedOf(baseTexts)))
      .collect().head
    assert(r0.getAs[Long]("n_shards") == 2L)
    assert(r0.getAs[Long]("n_sequences") == 2L)
    assert(r0.getAs[Long]("n_chunks") == 4L)
    assert(r0.getAs[Long]("n_tokens") == 8L)
    // flipping ONE chunk hash (doc 2's text) must flip the root —
    // the chain is sensitive to every leaf
    val r1 = Release.root(
      Release.manifest(packedOf(baseTexts + (2L -> "ee XX"))))
      .collect().head
    assert(r1.getAs[String]("release_fp") !=
      r0.getAs[String]("release_fp"))
    // and the root is a pure function of the manifest — identical
    // content reproduces it bit-for-bit under any partitioning
    val r2 = Release.root(Release.manifest(
      packedOf(baseTexts).repartition(5))).collect().head
    assert(r2.getAs[String]("release_fp") ==
      r0.getAs[String]("release_fp"))
  }

  test("verifyShards: clean download verifies; a corrupted chunk " +
      "fails its shard only; an unpublished bucket fails loudly") {
    val packed = packedOf(baseTexts)
    val manifest = Release.manifest(packed)
    // clean, subset download (bucket 0 only): ok, and verifying one
    // shard never needs the other's rows
    val clean = Release.verifyShards(
      packed.filter(col("bucket") === 0), manifest).collect()
    assert(clean.length == 1 && clean.head.getAs[Boolean]("ok"))
    // corrupt one downloaded chunk hash: that bucket fails, the
    // clean one verifies
    val corrupted = packed.withColumn("chunk_hash",
      when(col("bucket") === 0 && col("seq_offset") === 0,
        lit("tampered")).otherwise(col("chunk_hash")))
    val got = Release.verifyShards(corrupted, manifest).collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Boolean]("ok")))
      .sortBy(_._1)
    assert(got.toSeq == Seq((0, false), (1, true)))
    // a bucket the release never published: expected_fp null, ok false
    val phantom = packed.withColumn("bucket",
      when(col("bucket") === 1, lit(9)).otherwise(col("bucket")))
    val ph = Release.verifyShards(phantom, manifest)
      .filter(col("bucket") === 9).collect().head
    assert(ph.isNullAt(ph.fieldIndex("expected_fp")))
    assert(!ph.getAs[Boolean]("ok"))
  }

  test("verifyShards with an expected-bucket list: an expected shard " +
      "that never arrived surfaces as ok = false, not silence") {
    val packed = packedOf(baseTexts)
    val manifest = Release.manifest(packed)
    // the consumer believes it fetched buckets 0 AND 1, but bucket 1
    // arrived completely empty — without the list this is invisible
    // (r12 ADVICE item 3)
    val got = Release.verifyShards(packed.filter(col("bucket") === 0),
        manifest, expectedBuckets = Some(Seq(0, 1))).collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Boolean]("ok"),
        r.isNullAt(r.fieldIndex("actual_fp"))))
      .sortBy(_._1)
    assert(got.toSeq == Seq((0, true, false), (1, false, true)))
    // a downloaded bucket OUTSIDE the list still verifies — the list
    // widens the output, never narrows it
    val wide = Release.verifyShards(packed, manifest,
        expectedBuckets = Some(Seq(0))).collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Boolean]("ok")))
      .sortBy(_._1)
    assert(wide.toSeq == Seq((0, true), (1, true)))
  }

  test("verifyRoot: an intact manifest reproduces the published " +
      "root; one tampered shard fp flips the verdict") {
    val manifest = Release.manifest(packedOf(baseTexts))
    val published = Release.root(manifest)
    val ok = Release.verifyRoot(manifest, published).collect().head
    assert(ok.getAs[Boolean]("ok"))
    assert(ok.getAs[String]("actual_fp") ==
      ok.getAs[String]("expected_fp"))
    // tamper ONE shard fingerprint in the downloaded manifest
    val tampered = manifest.withColumn("shard_fp",
      when(col("bucket") === 1, md5(lit("tamper")))
        .otherwise(col("shard_fp")))
    val bad = Release.verifyRoot(tampered, published).collect().head
    assert(!bad.getAs[Boolean]("ok"))
    assert(bad.getAs[String]("actual_fp") !=
      bad.getAs[String]("expected_fp"))
    // a TRUNCATED manifest (a dropped shard) also fails — the chain
    // covers presence, not just per-shard bytes
    val truncated = manifest.filter(col("bucket") === 0)
    val trunc = Release.verifyRoot(truncated, published).collect().head
    assert(!trunc.getAs[Boolean]("ok"))
  }

  test("diff srcCol parameter renames the provenance column end to " +
      "end") {
    val v0 = Seq((1L, "s3://a", "h1")).toDF("doc_id", "origin", "fp")
    val v1 = Seq((2L, "s3://b", "h2")).toDF("doc_id", "origin", "fp")
    val got = Release.diff(v0, v1, srcCol = "origin").collect()
      .map(r => (r.getLong(0), r.getAs[String]("origin"),
        r.getString(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "s3://a", "removed"),
      (2L, "s3://b", "added")))
  }

  test("a shard present in only one version is dirty") {
    val m0 = Release.manifest(packedOf(baseTexts))
    val m1 = Release.manifest(
      packedOf(baseTexts).filter(col("bucket") =!= 1))
    val got = Release.dirtyShards(m0, m1).collect()
      .map(r => (r.getInt(0), r.getBoolean(7))).sortBy(_._1)
    assert(got.toSeq == Seq((0, false), (1, true)))
    // and the null side carries null stats, not zeros
    val b1 = Release.dirtyShards(m0, m1)
      .filter(col("bucket") === 1).head
    assert(b1.isNullAt(b1.fieldIndex("fp_v1")))
  }

  test("manifest breaks seq_offset ties by chunk hash (zero-token " +
      "chunks share an offset with their successor)") {
    // a zero-token chunk does not advance the packing cumsum, so it
    // shares (seq_id, seq_offset) with the next chunk in its bucket —
    // the fingerprint order must stay deterministic (offset, hash)
    val chunks = Seq(
      (0L, 0, 0L, "zz-empty"),  // 0 tokens: ties with the next chunk
      (1L, 0, 2L, "aa-next"),
      (2L, 0, 2L, "mm-tail")
    ).toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_hash")
    val packed = Packing.packSequences(chunks, capacity = 8,
      buckets = 1)
    // doc 0 and doc 1 share seq_offset 0 — the tie under test
    val offs = packed.select(col("doc_id"), col("seq_offset"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(offs(0L) == 0L && offs(1L) == 0L)
    val fp1 = Release.manifest(packed).select(col("shard_fp")).head
      .getString(0)
    val fp2 = Release.manifest(packed.repartition(5)
        .sortWithinPartitions(col("chunk_hash").desc))
      .select(col("shard_fp")).head.getString(0)
    assert(fp1 == fp2, "tied-offset fingerprint must be order-free")
  }

  test("repackSurvivors output feeds a second takedown wave") {
    // chained waves: the output carries `repacked`, which must not
    // duplicate when the frame re-enters repackSurvivors
    val chunks = spark.range(0, 8)
      .select(col("id").as("doc_id"), lit(0).as("chunk_idx"))
      .withColumn("n_chunk_tokens", lit(3L))
    val packed = Packing.packSequences(chunks, capacity = 8,
      buckets = 2)
    val wave1 = graft.operators.Takedown.repackSurvivors(packed,
      Seq(2L).toDF("doc_id"), capacity = 8)
    val wave2 = graft.operators.Takedown.repackSurvivors(wave1,
      Seq(5L).toDF("doc_id"), capacity = 8)
    assert(wave2.columns.count(_ == "repacked") == 1)
    val ids = wave2.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 3L, 4L, 6L, 7L))
  }

  test("benchContamination flags by max cosine and counts hits") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),   // sim 1.0 to b1, 0.6 to b2
      (11L, Array(0.0f, 1.0f)),   // sim 0.0 to b1, 0.8 to b2
      (12L, Array(-1.0f, 0.0f))   // negative sims only
    ).toDF("vec_id", "embedding")
    val bench = Seq(
      (90L, Array(1.0f, 0.0f)),
      (91L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.benchContamination(corpus, bench,
        threshold = 0.5, roundSim = Some(6)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (10L, 1.0, 2L, true),     // hits both benchmarks
      (11L, 0.8, 1L, true),     // paraphrase-shaped: only b2
      (12L, -0.6, 0L, false)))  // max sim is -0.6 (vs b2)
  }

  test("benchContamination: empty suite fails loudly; the probe is " +
      "memoized per bench plan (zero jobs on re-construction)") {
    val corpus = Seq((10L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val bench = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(4)
    FitCache.clear(FitCache.BenchProbe)
    val empty = bench.filter(col("vec_id") < -1)
    intercept[IllegalArgumentException] {
      Similarity.benchContamination(corpus, empty, threshold = 0.5)
    }
    // r11 ADVICE item 3: harness loops construct the query many
    // times — only the FIRST construction pays the limit-1 probe job
    val before = FitCache.builds(FitCache.BenchProbe)
    Similarity.benchContamination(corpus, bench, threshold = 0.5)
    assert(FitCache.builds(FitCache.BenchProbe) == before + 1)
    (1 to 3).foreach { _ =>
      Similarity.benchContamination(corpus, bench, threshold = 0.5)
    }
    assert(FitCache.builds(FitCache.BenchProbe) == before + 1,
      "re-constructions must ride the memoized verdict")
    FitCache.clear(FitCache.BenchProbe)
  }

  test("benchContamination probe re-keys when the bench file is " +
      "rewritten in place (content-sensitive memo, r12 ADVICE 1)") {
    val corpus = Seq((10L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bench").toString + "/b"
    Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    FitCache.clear(FitCache.BenchProbe)
    val before = FitCache.builds(FitCache.BenchProbe)
    Similarity.benchContamination(corpus, spark.read.parquet(dir),
      threshold = 0.5)
    assert(FitCache.builds(FitCache.BenchProbe) == before + 1)
    // rewrite the bench table IN PLACE to empty — the plan-only key
    // would keep the stale non-empty verdict; the content key must
    // re-probe and fail loudly
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] {
      Similarity.benchContamination(corpus, spark.read.parquet(dir),
        threshold = 0.5)
    }
    FitCache.clear(FitCache.BenchProbe)
  }

  /** Serve state over a parquet dir, rewrite the dir IN PLACE with
    * `v2`, re-read it and serve again — with no clear call between.
    * The second answer must be the state fitted on the NEW bytes: what
    * `serve` gives over `v2` itself, a frame the registry keys apart.
    * Returns what went wrong, if anything.
    */
  private def rewritten[T](name: String, v1: DataFrame, v2: DataFrame)
                          (serve: DataFrame => T): Option[String] = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stale").toString + "/t"
    v1.write.mode("overwrite").parquet(dir)
    val first = serve(spark.read.parquet(dir))
    v2.write.mode("overwrite").parquet(dir)
    val again = serve(spark.read.parquet(dir))
    if (again == first) Some(s"$name served the state of the old bytes")
    else if (again != serve(v2)) Some(s"$name differs from a fresh fit")
    else None
  }

  test("every file-backed fit-once kind re-keys when its input is " +
      "rewritten in place") {
    import graft.dedup.{Dedup, SuffixRepeats}
    import graft.model.NgramLm
    import graft.sim.Pq
    import graft.text.{MultiPattern, UnigramLm}
    def docs(texts: String*): DataFrame = texts.zipWithIndex
      .map { case (t, i) => (i.toLong + 1, "en", t) }
      .toDF("doc_id", "lang", "text")
    val d1 = docs("the quick brown fox jumps", "over the lazy dog today",
      "the quick brown fox jumps")
    val d2 = docs("alpha beta gamma delta epsilon",
      "zeta eta theta iota kappa", "zeta eta theta iota kappa",
      "lambda lambda lambda lambda mu mu mu mu")
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    def tk(df: DataFrame): DataFrame = df.select(col("doc_id"),
      col("lang"), split(col("text"), " ").as("tk"))
    def vecs(xs: (Float, Float)*): DataFrame = xs.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, Array(a, b)) }
      .toDF("vec_id", "embedding")
    val v1 = vecs((1f, 0.1f), (0.9f, 0.2f), (1f, 0f))
    val v2 = vecs((0.1f, 1f), (0.2f, 0.9f))
    val wrong = Seq(
      rewritten("corpus count", d1, d2)(FitCache.count),
      rewritten("MinHash table", d1, d2)(d => rows(Dedup.signatureTable(d))),
      rewritten("SimHash table", d1, d2)(d => rows(Dedup.simhashTable(d))),
      rewritten("served pairs", d1, d2)(
        d => rows(Dedup.nearDuplicates(d, servePairs = true))),
      rewritten("bigram LM", d1, d2) { d =>
        val m = NgramLm.cachedBigram(tk(d))
        (rows(m.c12), m.nall)
      },
      rewritten("LM score frame", d1, d2)(d => rows(
        NgramLm.cachedScoreFrame(tk(d), "stale")(tk(d).drop("tk")))),
      rewritten("span index", d1, d2)(d => rows(
        SuffixRepeats.repeatedSpanList(d.select(col("doc_id"),
          split(col("text"), " ").as("tokens")), minLen = 2, parts = 4))),
      rewritten("centroids", v1, v2)(v =>
        Similarity.trainedCentroids(v, nlist = 1, iters = 1).map(_.toSeq)),
      rewritten("codebooks", v1, v2)(
        Pq.trainedCodebooks(_, m = 1, k = 1, iters = 1)),
      rewritten("patterns", d1, d2)(MultiPattern.cachedPatterns(_, k = 2)),
      rewritten("inventory", d1, d2)(UnigramLm.cachedInventory(_))
    ).flatten
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("ensemble closure merges chains split across detectors") {
    // detector A sees 1~2, detector B sees 2~3: neither alone links
    // 1 to 3, the union closure must
    val a = Seq((1L, 2L)).toDF("id_a", "id_b")
    val b = Seq((2L, 3L)).toDF("id_a", "id_b")
    val cl = graft.dedup.Dedup.duplicateClusters(a.unionByName(b))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(cl.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }
}
