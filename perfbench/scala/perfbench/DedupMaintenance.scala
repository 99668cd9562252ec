package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, SuffixRepeats}
import graft.model.{Checkpoints, NgramLm}
import graft.sim.Similarity
import graft.text.TextAnalysis

/** Incremental dedup maintenance against served history state.
  *
  * The build writes a seeded history shaped like the catalog's sf0.1
  * `documents` and `embeddings` tables (see [[Gen]] and the README for
  * the profile) and builds the served state a maintenance loop keeps:
  * the SimHash signature table (fit-once cache) and its cluster labels,
  * the SRP table and semantic labels, the suffix span list (fit-once)
  * and gram index over a boilerplated sample, and the bigram LM
  * (fit-once). Tables the engine does not cache itself are
  * materialized once.
  *
  * Every op is one maintenance query of the q180-q187 family over a
  * fresh seeded batch, the legs taken in turn: SimHash batch edges and
  * label delta (q183), SRP batch edges and merge (q184), suffix-span
  * merge (q182), LM count retract (q187). Ops never feed back into the
  * served state, so every cycle does the same work.
  */
final class DedupMaintenance(spark: SparkSession, seed: Long) extends Workload {
  /** A quarter of sf0.1's 5,000 documents and 2,000 vectors (README:
    * a larger history does not fit the run budget); batches are 2% of it.
    */
  val HistDocs = 1250
  val HistVecs = 500
  /** q182's sizes at sf0.1: the suffix index runs over a 250-doc
    * sample with a boilerplate block appended to 20% of it, and absorbs
    * a 25-doc batch (`saCorpus`).
    */
  val SpanHistDocs = 250
  val SpanBoilerRate = 0.2
  val SpanBatchDocs = 25
  val BatchDocs = HistDocs / 50
  val BatchVecs = HistVecs / 50
  val Removed = HistDocs / 50
  /** sf0.1: 250 of 5,000 documents are near-duplicates of another. */
  val NearDupRate = 0.05
  val Dims = 64
  /** The q180-q187 parameters. */
  val MinLen = 25
  private val Hamming = 12
  private val Cosine = 0.35

  private val Legs =
    IndexedSeq("simhash_delta", "srp_merge", "span_merge", "lm_retract")
  val cycleLen = Legs.size
  private def leg(i: Int) = Legs(Math.floorMod(i, cycleLen))

  private var dir = ""
  private var histDocs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var boiler: Array[String] = Array.empty
  private var digest = new Gen.Digest
  private var inputsAtOp0 = ("", 0L)

  // served state
  private var hist: DataFrame = _
  private var lmBase: DataFrame = _
  private var spanTok: DataFrame = _
  private var vhist: DataFrame = _
  private var shLabels: DataFrame = _
  private var srpServed: DataFrame = _
  private var semLabels: DataFrame = _
  private var grams: DataFrame = _

  // for the checks: the history's SimHash labels, computed in plain
  // Scala, and the current batch's documents and removal set
  private var histLabels: Set[(Long, Long)] = Set.empty
  private var batchDocs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var removedIds: Set[Long] = Set.empty

  private def tok(df: DataFrame) =
    df.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tokens"))
  private def lmFrame(df: DataFrame) = df.select(col("doc_id"), col("lang"),
    TextAnalysis.tokens(col("text")).as("tk"))
  private def nearDups(v: DataFrame) = Similarity.nearDuplicates(v,
    threshold = Cosine, planes = 16, bands = 4, roundSim = Some(6))

  /** Materialize a built table once, so ops read it instead of
    * recomputing it.
    */
  private def served(df: DataFrame): DataFrame = Checkpoints.materialize(df)

  /** `n` documents from id `idBase` on: near-duplicates of `pool` (or
    * of the documents made so far) at NearDupRate, the rest fresh.
    */
  private def docs(r: java.util.SplittableRandom, n: Int, idBase: Long,
                   pool: IndexedSeq[Gen.Doc]): IndexedSeq[Gen.Doc] = {
    val out = mutable.ArrayBuffer.empty[Gen.Doc]
    for (j <- 0 until n) {
      val src = if (pool.nonEmpty) pool else out
      val toks =
        if (src.nonEmpty && r.nextDouble() < NearDupRate)
          Gen.nearDup(r, src(r.nextInt(src.size)).toks)
        else Gen.doc(r)
      out += Gen.Doc(idBase + j, toks, Gen.lang(r))
    }
    out.toIndexedSeq
  }

  def build(d: String): Unit = {
    dir = d
    digest = new Gen.Digest
    val r = Gen.rng(seed, "dedup-history")
    histDocs = docs(r, HistDocs, 0L, IndexedSeq.empty)
    val spanDocs = docs(r, SpanHistDocs, HistDocs.toLong, IndexedSeq.empty)
    boiler = Array.fill(4)(Gen.doc(r)).flatten
    val spanHist = spanDocs.map(x =>
      if (r.nextDouble() < SpanBoilerRate) x.copy(toks = x.toks ++ boiler) else x)
    val histVecs = (0 until HistVecs).map(id => Gen.Vec(id, Gen.unitVec(r, Dims)))
    Gen.writeDocs(spark, histDocs, s"$dir/hist_docs", digest)
    Gen.writeDocs(spark, spanHist, s"$dir/span_docs", digest)
    Gen.writeVecs(spark, histVecs, s"$dir/hist_vecs", digest)

    hist = Gen.readDocs(spark, s"$dir/hist_docs")
    lmBase = lmFrame(hist)
    spanTok = tok(Gen.readDocs(spark, s"$dir/span_docs"))
    vhist = Gen.readVecs(spark, s"$dir/hist_vecs")
    Dedup.simhashTable(hist)
    shLabels = served(Dedup.simhashClusters(hist, maxHamming = Hamming))
    histLabels = simhashLabels(histDocs)
    srpServed = served(Similarity.srpTable(vhist, planes = 16))
    semLabels = served(Dedup.duplicateClusters(nearDups(vhist)))
    SuffixRepeats.repeatedSpanList(spanTok, MinLen)
    grams = served(SuffixRepeats.gramIndex(spanTok, MinLen))
    NgramLm.cachedBigram(lmBase)
  }

  private def batchPath(b: Int) = s"$dir/batch/$b"
  private def out(b: Int) = s"${batchPath(b)}/out"

  /** Op `b`'s input, for its leg only: a document batch (near-dups of
    * history at NearDupRate plus fresh docs), a vector batch, a
    * boilerplated document batch (as q182's), or a removal set.
    */
  def prepare(b: Int): Unit = {
    val r = Gen.rng(seed, "dedup-batch", b + 1000L)
    val idBase = 1000000L + (b + 1000L) * 1000L
    val path = s"${batchPath(b)}/in"
    leg(b) match {
      case "simhash_delta" =>
        batchDocs = docs(r, BatchDocs, idBase, histDocs)
        Gen.writeDocs(spark, batchDocs, path, digest)
      case "srp_merge" =>
        Gen.writeVecs(spark, (0 until BatchVecs).map(j =>
          Gen.Vec(idBase + j, Gen.unitVec(r, Dims))), path, digest)
      case "span_merge" =>
        Gen.writeDocs(spark, (0 until SpanBatchDocs).map(j =>
          Gen.Doc(idBase + j, Gen.doc(r) ++ boiler, Gen.lang(r))), path, digest)
      case "lm_retract" =>
        removedIds = Iterator.continually(r.nextInt(HistDocs).toLong)
          .distinct.take(Removed).toSet
        import spark.implicits._
        removedIds.toSeq.sorted.toDF("doc_id").write.mode("overwrite")
          .parquet(path)
        removedIds.toSeq.sorted.foreach(id => digest.add("removed", id))
    }
    if (b == 0) inputsAtOp0 = (digest.hex, digest.rows)
  }

  /** Band-join candidates vs confirmed edges, from the executed plan. */
  private def useful(tr: Tracer, prefix: String, key: String)(
      src: DataFrame): Unit = {
    tr.note(s"$prefix.cand", Tracer.joinOutputRows(src, key).toDouble)
    tr.note(s"$prefix.edges", src.count().toDouble)
  }

  def op(b: Int, tr: Tracer): Unit = {
    val in = s"${batchPath(b)}/in"
    def publish(df: DataFrame): Unit = tr.span("Output.write") {
      df.write.mode("overwrite").parquet(out(b))
    }
    leg(b) match {
      case "simhash_delta" =>
        // q183: batch probe against the served SimHash table, label delta
        val sh = tr.span("Dedup.served")(Dedup.simhashTable(hist))
        val edges = tr.frame("Dedup.batch_edges")(
          Dedup.simhashBatchEdges(Gen.readDocs(spark, in), sh,
            maxHamming = Hamming))(useful(tr, "dedup", "band_idx"))
        publish(tr.frame("Dedup.merge")(
          Dedup.mergeClustersDelta(shLabels, edges))())
      case "srp_merge" =>
        // q184: SRP batch edges into the semantic labels
        val edges = tr.frame("Similarity.batch_edges")(
          Similarity.srpBatchEdges(Gen.readVecs(spark, in), srpServed,
            threshold = Cosine, planes = 16, bands = 4, roundSim = Some(6)))(
          useful(tr, "sim", "band_idx"))
        publish(tr.frame("Dedup.merge")(Dedup.mergeClusters(semLabels, edges))())
      case "span_merge" =>
        // q182: suffix spans of sample + batch from the served span list
        val spans = tr.span("Dedup.served")(
          SuffixRepeats.repeatedSpanList(spanTok, MinLen))
        publish(tr.frame("SuffixRepeats.merge")(
          SuffixRepeats.mergeSpanList(spans, grams, spanTok,
            tok(Gen.readDocs(spark, in)), MinLen)._1)())
      case "lm_retract" =>
        // q187: the removal batch's bigrams leave the served LM
        val lm = tr.span("Dedup.served")(NgramLm.cachedBigram(lmBase))
        publish(tr.span("NgramLm.retract") {
          NgramLm.retractCounts(lm,
            lmBase.join(spark.read.parquet(in), Seq("doc_id"), "left_semi")).c12
        })
    }
  }

  // ---- correctness: an absorbed batch equals the full recompute over
  // history + batch; retracted LM counts equal bigram counts over the
  // surviving docs, computed in plain Scala ----

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def spanSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("doc_id").cast("long"), col("s").cast("long"),
      col("e").cast("long"), col("span_max_ell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  private val md5Bits = mutable.HashMap.empty[String, Long]

  /** The engine's 64-bit SimHash: each token's md5 votes with its first
    * 64 bits, bit 0 being the digest's high bit.
    */
  private def simhash(toks: Array[String]): Long = {
    val votes = new Array[Int](64)
    for (t <- toks) {
      val h = md5Bits.getOrElseUpdate(t, java.nio.ByteBuffer.wrap(
        java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))).getLong)
      for (j <- 0 until 64) votes(j) += (if ((h >>> (63 - j) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((sig, j) =>
      if (votes(j) > 0) sig | 1L << (63 - j) else sig)
  }

  /** SimHash clusters as the q183 oracle SQL defines them: pairs that
    * share one of four 16-bit bands and differ in at most Hamming bits,
    * closed transitively; (doc_id, min doc id of its component) for
    * every doc with a pair.
    */
  private def simhashLabels(ds: Seq[Gen.Doc]): Set[(Long, Long)] = {
    val sigs = ds.map(d => (d.id, simhash(d.toks))).toArray
    val root = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = root.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); root(x) = r; r }
    }
    for (band <- 0 until 4;
         g <- sigs.groupBy(x => x._2 >>> (48 - 16 * band) & 0xFFFFL).values;
         i <- g.indices; j <- i + 1 until g.length
         if java.lang.Long.bitCount(g(i)._2 ^ g(j)._2) <= Hamming) {
      val (a, b) = (find(g(i)._1), find(g(j)._1))
      if (a != b) root(math.max(a, b)) = math.min(a, b)
    }
    root.keys.map(x => x -> find(x)).toSet
  }

  def check(b: Int): Option[String] = {
    val got = spark.read.parquet(out(b))
    val in = s"${batchPath(b)}/in"
    val ok = leg(b) match {
      case "simhash_delta" =>
        pairs(got) == simhashLabels(histDocs ++ batchDocs) -- histLabels
      case "srp_merge" =>
        pairs(got) == pairs(Dedup.duplicateClusters(
          nearDups(vhist.unionByName(Gen.readVecs(spark, in)))))
      case "span_merge" =>
        spanSet(got) == spanSet(SuffixRepeats.repeatedSpanList(
          spanTok.unionByName(tok(Gen.readDocs(spark, in))), MinLen))
      case "lm_retract" =>
        val want = mutable.HashMap.empty[(String, String), Long]
        for (d <- histDocs if d.lang == "en" && !removedIds.contains(d.id);
             Array(a, c) <- d.toks.sliding(2))
          want((a, c)) = want.getOrElse((a, c), 0L) + 1
        got.collect().map(r =>
          (r.getAs[String]("w1"), r.getAs[String]("w2")) ->
            r.getAs[Number]("c12").longValue()).toMap == want.toMap
    }
    if (ok) None else Some(s"${leg(b)}: result != full recompute")
  }

  def inputs: Map[String, Any] = Map(
    "history_docs" -> HistDocs, "history_vectors" -> HistVecs,
    "span_history_docs" -> SpanHistDocs, "batch_docs" -> BatchDocs,
    "batch_vectors" -> BatchVecs, "span_batch_docs" -> SpanBatchDocs,
    "removed_docs" -> Removed, "near_dup_rate" -> NearDupRate,
    "legs" -> Legs,
    "input_rows_to_op0" -> inputsAtOp0._2,
    "input_sha256_to_op0" -> inputsAtOp0._1)

  def layerMetrics(tr: Tracer, ops: Seq[Int]): Map[String, Double] = Map(
    "Dedup.useful_frac" -> Layers.noteRatio(tr, ops, "dedup.edges", "dedup.cand"),
    "Similarity.useful_frac" -> Layers.noteRatio(tr, ops, "sim.edges", "sim.cand"))
}
