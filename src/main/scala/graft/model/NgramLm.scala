package graft.model

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fit-once n-gram language models (r8 verdict item 1): the
  * q136/q151 bigram count tables and q137's DSIR bucket log-ratio
  * table are TRAINED STATE — exactly like the IVF centroids and the
  * suffix-array span table — but were rebuilt from the corpus inside
  * every query execution, which made the LM-scoring family the only
  * >2×-behind queries in the catalog (and at 100 TB would re-scan
  * the trusted slice per run).
  *
  * Discipline (the [[graft.sim.Similarity.trainedCentroids]] /
  * [[graft.dedup.SuffixRepeats.repeatedSpanList]] pattern): the
  * model tables are built ONCE per (corpus plan, params) key —
  * vocab-bounded aggregates, eagerly materialized via
  * [[Checkpoints.materialize]] so they live in executor storage with
  * truncated lineage — and served from [[FitCache]]. q136 and q151
  * construct plan-identical token frames, so they SHARE one
  * [[BigramLm]] entry: whichever runs first pays the fit, the other
  * scores against warm tables with zero model jobs (NgramLmSpec
  * asserts it via [[fitRunCount]]).
  *
  * The tables are DataFrames, not driver collections, because an
  * n-gram model is vocab-bounded but NOT driver-sized at 100 TB
  * (billions of distinct bigrams): they stay distributed and join
  * shuffle-hash into the scoring stream. Cross-job persistence is
  * [[Artifacts.saveNgram]]/[[Artifacts.loadNgram]].
  */
object NgramLm {

  /** Trained bigram model over a trusted slice:
    *  - `c12`:  (w1, w2, c12)    — pair counts
    *  - `ctx`:  (w1, c1, nr)     — context total + distinct
    *                               continuations N1+(w1,·)
    *  - `cont`: (w2, nl)         — continuation types N1+(·,w2)
    *  - `nall`: total distinct pairs N1+(··)
    *  - `v`:    distinct continuation vocabulary |{w2}|
    * Everything an add-α (q136) or interpolated Kneser–Ney (q151)
    * scorer needs; all values are integer counts, so the model is
    * bit-identical however many times it is (re)built.
    */
  final case class BigramLm(c12: DataFrame, ctx: DataFrame,
                            cont: DataFrame, nall: Long, v: Long)

  /** Count of ACTUAL model fits (cache hits leave it untouched) —
    * FitCacheSpec's zero-model-jobs-on-re-execution counter.
    */
  private[graft] val fitRunCount = new AtomicLong(0L)

  /** Drop every fit-once LM entry: models AND score frames. */
  def clear(): Unit = FitCache.clear(FitCache.Bigram, FitCache.Trigram,
    FitCache.Dsir, FitCache.LmScore)

  /** Fit-once discipline ONE LEVEL UP (r9 verdict item 1): the
    * per-doc score frame — (doc_id, n_bigrams, ppl) for add-α,
    * (doc_id, n_feats, __s) for DSIR, (doc_id, n_bigrams, kn_ppl)
    * for Kneser–Ney — is itself DERIVED TRAINED STATE: a pure
    * function of (corpus plan, scorer), exactly like the model
    * tables, and q156's capstone recomputed q136's whole scoring
    * branch (explode → model joins → per-doc aggregate) although the
    * identical frame had just been built. Here the frame is built
    * once per (scorer tag, corpus plan), eagerly materialized via
    * [[Checkpoints.materialize]] (executor storage, truncated
    * lineage — corpus-sized, so NEVER driver-localized), and served
    * to every later caller: q136's warm path is the materialized
    * frame + the bucketed rank, and q156 inherits the same entry.
    * Integer/4dp-rounded columns make re-build vs serve bit-equal.
    */
  def cachedScoreFrame(base: DataFrame, tag: String)
                      (build: => DataFrame): DataFrame =
    FitCache.getOrBuild(FitCache.LmScore, base, tag)(
      Checkpoints.materialize(build))

  /** Install a LOADED score frame ([[Artifacts.loadScoreFrame]]) as
    * the served entry for (tag, corpus plan): a fresh session that
    * loads the persisted artifact scores with ZERO build jobs — the
    * parquet-handoff leg the model artifacts already have (r10
    * verdict item 3). The caller passes the same `base` frame and
    * tag the online query constructs.
    */
  def installScoreFrame(base: DataFrame, tag: String,
                        frame: DataFrame): Unit =
    FitCache.install(FitCache.LmScore, base, frame, tag)

  /** Small fitted tables become driver-local relations (the IVF
    * "centroid literal" discipline applied to tables): a broadcast
    * over a LocalRelation builds its hashed relation from driver
    * rows directly — no per-execution collect job against executor
    * block storage — so the cached online path of q136/q137/q151
    * schedules strictly fewer jobs. Above the threshold the tables
    * stay distributed (never driver-sized at 100 TB).
    */
  private def localized(df: DataFrame, rows: Long,
                        maxPairs: Long): DataFrame =
    if (rows > maxPairs) df
    else df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def broadcastMaxPairs(df: DataFrame): Long =
    df.sparkSession.conf.getOption(BroadcastMaxPairsConf)
      .map(_.toLong).getOrElse(DefaultBroadcastMaxPairs)

  /** The query-facing trained bigram LM: `base` must carry
    * (doc_id, lang, tk) with `tk` the token array. First call per
    * corpus plan pays one pass over the trusted slice (explode →
    * three vocab-bounded aggregates + a 1-row totals job); every
    * later call — including the 2nd/3rd bench rounds and the q136 ↔
    * q151 cross-query hit — reads the fitted tables with zero model
    * jobs. Counts are integers, so semantics are identical to
    * building the tables inline.
    */
  def cachedBigram(base: DataFrame,
                   trustedLang: String = "en"): BigramLm =
    FitCache.getOrBuild(FitCache.Bigram, base, trustedLang) {
      fitRunCount.incrementAndGet()
      val bg = base.filter(col("lang") === trustedLang)
        .select(explode(when(size(col("tk")) >= 2,
          sequence(lit(1), size(col("tk")) - 1))
          .otherwise(array().cast("array<int>"))).as("p"),
          col("tk"))
        .select(element_at(col("tk"), col("p")).as("w1"),
          element_at(col("tk"), col("p") + 1).as("w2"))
      val c12 = Checkpoints.materialize(
        bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
      val (ctx, cont, nall, v) = deriveTables(c12)
      val mx = broadcastMaxPairs(base)
      val m = BigramLm(localized(c12, nall, mx),
        localized(ctx, nall, mx), localized(cont, nall, mx), nall, v)
      if (nall <= mx) // the checkpoints are superseded by the
        Seq(c12, ctx, cont).foreach(Checkpoints.release) // local copies
      m
    }

  /** Broadcast-vs-shuffle cutover for the scoring joins, in PAIRS
    * (c12 rows ≈ 50 B each → the default ≈ 200 MB broadcast, inside
    * a healthy executor budget). The model's exact size is KNOWN at
    * fit time (`nall`), so the decision needs no stats estimation —
    * it is the AQE sized-join decision made with a certain number.
    */
  val BroadcastMaxPairsConf = "graft.ngram.broadcastMaxPairs"
  private val DefaultBroadcastMaxPairs = 4000000L

  /** Score a corpus bigram stream (doc_id, w1, w2) against a trained
    * [[BigramLm]]: left-joins the model tables in, evaluates `lp`
    * (a log-probability over the joined columns c12/c1/nr/nl), and
    * returns (doc_id, lp) — the shared online path of q136 (add-α)
    * and q151 (Kneser–Ney).
    *
    * Two shapes by MEASURED model size:
    *  - model ≤ [[BroadcastMaxPairsConf]] pairs: BROADCAST joins —
    *    bigram occurrences never exchange, the doc_id clustering of
    *    the scan survives to the per-doc aggregate, and the whole
    *    score is scan-shaped.
    *  - larger (the 100 TB shape: billions of distinct bigrams):
    *    log-probs are computed per DISTINCT corpus pair
    *    (vocab-bounded; the distinct's partial aggregation means
    *    only per-partition-distinct pairs exchange, never raw
    *    occurrences) through SHUFFLE_HASH model joins, then joined
    *    back — occurrence rows traverse exactly ONE exchange.
    * Both shapes evaluate the identical expression over identical
    * integer inputs, so results are bit-equal.
    */
  def scoreBigrams(bg: DataFrame, m: BigramLm, lp: org.apache.spark.sql.Column,
                   useCont: Boolean = true): DataFrame = {
    // sentinel rows (null w1 — a caller's marker for a doc with no
    // bigrams) must flow through with a NULL score, so the per-doc
    // aggregate sees the doc without a tail join: count(lp) skips it
    val lpn = when(col("w1").isNull, lit(null).cast("double"))
      .otherwise(lp)
    val maxPairs = bg.sparkSession.conf
      .getOption(BroadcastMaxPairsConf)
      .map(_.toLong).getOrElse(DefaultBroadcastMaxPairs)
    if (m.nall <= maxPairs) {
      val j0 = bg.join(broadcast(m.c12), Seq("w1", "w2"), "left")
        .join(broadcast(m.ctx), Seq("w1"), "left")
      val j = if (useCont) j0.join(broadcast(m.cont), Seq("w2"), "left")
        else j0
      j.select(col("doc_id"), lpn.as("lp"))
    } else {
      val pairs = bg.select(col("w1"), col("w2")).distinct()
      val plp0 = pairs
        .join(m.c12.hint("shuffle_hash"), Seq("w1", "w2"), "left")
        .join(m.ctx.hint("shuffle_hash"), Seq("w1"), "left")
      val plp = (if (useCont)
        plp0.join(m.cont.hint("shuffle_hash"), Seq("w2"), "left")
      else plp0)
        .select(col("w1").as("__pw1"), col("w2").as("__pw2"),
          lpn.as("lp"))
      // inner + null-safe keys: every corpus pair — the sentinel
      // (null, null) included — is in plp by construction
      bg.join(plp.hint("shuffle_hash"),
          bg("w1") <=> col("__pw1") && bg("w2") <=> col("__pw2"))
        .select(col("doc_id"), col("lp"))
    }
  }

  /** Trained trigram extension (r9 verdict item 5) stacked on the
    * SHARED bigram model — `bigram` is the same cache entry
    * q136/q151 serve, so fitting the trigram order never refits the
    * lower order:
    *  - `c123`:  (w1, w2, w3, c123) — trigram counts
    *  - `ctx12`: (w1, w2, c12t, nr12) — trigram-context total +
    *             distinct continuations N1+(w1w2,·). The denominator
    *             is the TRIGRAM-context total (Σ_w3 c123), derived
    *             purely from c123 so a loaded artifact can never
    *             drift from a fitted model; it differs from the raw
    *             bigram count only by end-of-document positions.
    *  - `n3`:    distinct trigram types (the broadcast-size measure)
    */
  final case class TrigramLm(c123: DataFrame, ctx12: DataFrame,
                             n3: Long, bigram: BigramLm)

  /** The query-facing trained trigram LM: one pass over the trusted
    * slice for the order-3 counts; the bigram order comes from
    * [[cachedBigram]]'s shared entry (zero extra jobs when any
    * family member has run).
    */
  def cachedTrigram(base: DataFrame,
                    trustedLang: String = "en"): TrigramLm =
    FitCache.getOrBuild(FitCache.Trigram, base, trustedLang) {
      val bg = cachedBigram(base, trustedLang)
      fitRunCount.incrementAndGet()
      val tg = base.filter(col("lang") === trustedLang)
        .select(explode(when(size(col("tk")) >= 3,
          sequence(lit(1), size(col("tk")) - 2))
          .otherwise(array().cast("array<int>"))).as("p"),
          col("tk"))
        .select(element_at(col("tk"), col("p")).as("w1"),
          element_at(col("tk"), col("p") + 1).as("w2"),
          element_at(col("tk"), col("p") + 2).as("w3"))
      val c123 = Checkpoints.materialize(
        tg.groupBy(col("w1"), col("w2"), col("w3"))
          .agg(count(lit(1)).as("c123")))
      val (ctx12, n3) = deriveTrigramTables(c123)
      val mx = broadcastMaxPairs(base)
      val m = TrigramLm(localized(c123, n3, mx),
        localized(ctx12, n3, mx), n3, bg)
      if (n3 <= mx)
        Seq(c123, ctx12).foreach(Checkpoints.release)
      m
    }

  /** Score a corpus trigram stream (doc_id, w1, w2, w3) against a
    * trained [[TrigramLm]]: joins the order-3 tables on
    * (w1,w2,w3)/(w1,w2) and the BACKOFF bigram tables keyed on the
    * trailing bigram (w2,w3) — the order-3 interpolated-KN chain
    * p3 = max(c123−d,0)/c12t + d·nr12/c12t · p2(w3|w2). Same
    * size-adaptive shapes as [[scoreBigrams]]: broadcast when both
    * orders' fitted sizes are small, per-distinct-triple SHUFFLE_HASH
    * at scale (occurrence rows traverse exactly one exchange); both
    * evaluate the identical expression over identical integer
    * inputs, so results are bit-equal.
    */
  def scoreTrigrams(tg: DataFrame, m: TrigramLm,
                    lp: org.apache.spark.sql.Column): DataFrame = {
    val lpn = when(col("w1").isNull, lit(null).cast("double"))
      .otherwise(lp)
    val b12 = m.bigram.c12.select(col("w1").as("w2"),
      col("w2").as("w3"), col("c12"))
    val bctx = m.bigram.ctx.select(col("w1").as("w2"), col("c1"),
      col("nr"))
    val bcont = m.bigram.cont.select(col("w2").as("w3"), col("nl"))
    val maxPairs = tg.sparkSession.conf
      .getOption(BroadcastMaxPairsConf)
      .map(_.toLong).getOrElse(DefaultBroadcastMaxPairs)
    if (math.max(m.n3, m.bigram.nall) <= maxPairs) {
      tg.join(broadcast(m.c123), Seq("w1", "w2", "w3"), "left")
        .join(broadcast(m.ctx12), Seq("w1", "w2"), "left")
        .join(broadcast(b12), Seq("w2", "w3"), "left")
        .join(broadcast(bctx), Seq("w2"), "left")
        .join(broadcast(bcont), Seq("w3"), "left")
        .select(col("doc_id"), lpn.as("lp"))
    } else {
      val triples = tg.select(col("w1"), col("w2"), col("w3"))
        .distinct()
      val plp = triples
        .join(m.c123.hint("shuffle_hash"), Seq("w1", "w2", "w3"),
          "left")
        .join(m.ctx12.hint("shuffle_hash"), Seq("w1", "w2"), "left")
        .join(b12.hint("shuffle_hash"), Seq("w2", "w3"), "left")
        .join(bctx.hint("shuffle_hash"), Seq("w2"), "left")
        .join(bcont.hint("shuffle_hash"), Seq("w3"), "left")
        .select(col("w1").as("__p1"), col("w2").as("__p2"),
          col("w3").as("__p3"), lpn.as("lp"))
      tg.join(plp.hint("shuffle_hash"),
          tg("w1") <=> col("__p1") && tg("w2") <=> col("__p2") &&
            tg("w3") <=> col("__p3"))
        .select(col("doc_id"), col("lp"))
    }
  }

  private[model] def deriveTrigramTables(c123: DataFrame)
      : (DataFrame, Long) = {
    val ctx12 = Checkpoints.materialize(
      c123.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c123")).as("c12t"), count(lit(1)).as("nr12")))
    val n3 = c123.agg(count(lit(1)).as("n3")).head().getLong(0)
    (ctx12, n3)
  }

  /** Incremental model refresh (r9 verdict item 6): merge a NEW
    * batch's counts into a served model WITHOUT re-scanning the
    * history corpus — the count tables are associative integers, so
    * summing the batch delta into the served c12 and re-deriving
    * ctx/cont/totals via the shared [[deriveTables]] is bit-identical
    * to a full refit over history+batch (MergeCountsSpec asserts it).
    * The signature is the no-rescan guarantee: the method receives
    * the fitted model and the new batch ONLY — the history corpus is
    * unreachable, and the merge's corpus-sized work is exactly one
    * aggregate over the new batch (the old table is vocab-bounded
    * served state). This completes the q60/q126 incremental-ingest
    * story on the model side: corpus growth updates the model at
    * batch cost, not corpus cost.
    */
  def mergeCounts(m: BigramLm, newBatch: DataFrame,
                  trustedLang: String = "en"): BigramLm = {
    val bg = newBatch.filter(col("lang") === trustedLang)
      .select(explode(when(size(col("tk")) >= 2,
        sequence(lit(1), size(col("tk")) - 1))
        .otherwise(array().cast("array<int>"))).as("p"),
        col("tk"))
      .select(element_at(col("tk"), col("p")).as("w1"),
        element_at(col("tk"), col("p") + 1).as("w2"))
    val delta = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c12 = Checkpoints.materialize(
      m.c12.unionByName(delta)
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("c12")).as("c12")))
    val (ctx, cont, nall, v) = deriveTables(c12)
    val mx = broadcastMaxPairs(newBatch)
    val merged = BigramLm(localized(c12, nall, mx),
      localized(ctx, nall, mx), localized(cont, nall, mx), nall, v)
    if (nall <= mx)
      Seq(c12, ctx, cont).foreach(Checkpoints.release)
    merged
  }

  /** Order-3 twin of [[mergeCounts]]: merges the batch's trigram
    * counts into the served c123 AND delegates the bigram order to
    * the bigram merge — one call refreshes the whole backoff chain
    * at batch cost, bit-identical to a refit.
    */
  def mergeCounts(m: TrigramLm, newBatch: DataFrame,
                  trustedLang: String): TrigramLm = {
    val tg = newBatch.filter(col("lang") === trustedLang)
      .select(explode(when(size(col("tk")) >= 3,
        sequence(lit(1), size(col("tk")) - 2))
        .otherwise(array().cast("array<int>"))).as("p"),
        col("tk"))
      .select(element_at(col("tk"), col("p")).as("w1"),
        element_at(col("tk"), col("p") + 1).as("w2"),
        element_at(col("tk"), col("p") + 2).as("w3"))
    val delta = tg.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
    val c123 = Checkpoints.materialize(
      m.c123.unionByName(delta)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("c123")).as("c123")))
    val (ctx12, n3) = deriveTrigramTables(c123)
    val mx = broadcastMaxPairs(newBatch)
    val merged = TrigramLm(localized(c123, n3, mx),
      localized(ctx12, n3, mx), n3,
      mergeCounts(m.bigram, newBatch, trustedLang))
    if (n3 <= mx)
      Seq(c123, ctx12).foreach(Checkpoints.release)
    merged
  }

  /** TAKEDOWN-SIDE model maintenance (r13 — [[mergeCounts]]' delete
    * path, completing the lifecycle the cluster/suffix/IVF indexes
    * got this round): subtract a REMOVED batch's counts from the
    * served model without re-scanning the surviving corpus. Counts
    * are associative integers, so summing the negated batch delta
    * into the served c12 and DROPPING zeroed rows is bit-identical
    * to a refit over the survivors — including the derived
    * vocabulary/type totals, because a zeroed pair leaves the type
    * sets exactly as the survivor refit builds them
    * (MergeCountsSpec asserts the differential). A count driven
    * NEGATIVE fails loudly: it means the "removed" batch was never
    * (fully) ingested — retracting twice, or retracting pre-ingest
    * edits — and subtracting it would silently corrupt every
    * survivor probability.
    */
  def retractCounts(m: BigramLm, removedBatch: DataFrame,
                    trustedLang: String = "en"): BigramLm = {
    val bg = removedBatch.filter(col("lang") === trustedLang)
      .select(explode(when(size(col("tk")) >= 2,
        sequence(lit(1), size(col("tk")) - 1))
        .otherwise(array().cast("array<int>"))).as("p"),
        col("tk"))
      .select(element_at(col("tk"), col("p")).as("w1"),
        element_at(col("tk"), col("p") + 1).as("w2"))
    val delta = bg.groupBy(col("w1"), col("w2"))
      .agg((-count(lit(1))).as("c12"))
    val summed = Checkpoints.materialize(
      m.c12.unionByName(delta)
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("c12")).as("c12")))
    val neg = summed.filter(col("c12") < 0)
    if (!neg.isEmpty) {
      val r = neg.select(col("w1"), col("w2"), col("c12")).head()
      throw new IllegalStateException(
        s"retractCounts: bigram (${r.get(0)}, ${r.get(1)}) would go " +
          s"to ${r.get(2)} — the removed batch was never (fully) " +
          "ingested into this model")
    }
    val c12 = Checkpoints.materialize(summed.filter(col("c12") > 0))
    Checkpoints.release(summed)
    val (ctx, cont, nall, v) = deriveTables(c12)
    val mx = broadcastMaxPairs(removedBatch)
    val out = BigramLm(localized(c12, nall, mx),
      localized(ctx, nall, mx), localized(cont, nall, mx), nall, v)
    if (nall <= mx)
      Seq(c12, ctx, cont).foreach(Checkpoints.release)
    out
  }

  /** Order-3 twin of [[retractCounts]]: subtracts the removed
    * batch's trigram counts AND delegates the bigram order — one
    * call retracts the whole backoff chain at batch cost,
    * bit-identical to a survivor refit, with the same
    * negative-count loud-fail.
    */
  def retractCounts(m: TrigramLm, removedBatch: DataFrame,
                    trustedLang: String): TrigramLm = {
    val tg = removedBatch.filter(col("lang") === trustedLang)
      .select(explode(when(size(col("tk")) >= 3,
        sequence(lit(1), size(col("tk")) - 2))
        .otherwise(array().cast("array<int>"))).as("p"),
        col("tk"))
      .select(element_at(col("tk"), col("p")).as("w1"),
        element_at(col("tk"), col("p") + 1).as("w2"),
        element_at(col("tk"), col("p") + 2).as("w3"))
    val delta = tg.groupBy(col("w1"), col("w2"), col("w3"))
      .agg((-count(lit(1))).as("c123"))
    val summed = Checkpoints.materialize(
      m.c123.unionByName(delta)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("c123")).as("c123")))
    val neg = summed.filter(col("c123") < 0)
    if (!neg.isEmpty) {
      val r = neg.select(col("w1"), col("w2"), col("w3"),
        col("c123")).head()
      throw new IllegalStateException(
        s"retractCounts: trigram (${r.get(0)}, ${r.get(1)}, " +
          s"${r.get(2)}) would go to ${r.get(3)} — the removed " +
          "batch was never (fully) ingested into this model")
    }
    val c123 = Checkpoints.materialize(summed.filter(col("c123") > 0))
    Checkpoints.release(summed)
    val (ctx12, n3) = deriveTrigramTables(c123)
    val mx = broadcastMaxPairs(removedBatch)
    val out = TrigramLm(localized(c123, n3, mx),
      localized(ctx12, n3, mx), n3,
      retractCounts(m.bigram, removedBatch, trustedLang))
    if (n3 <= mx)
      Seq(c123, ctx12).foreach(Checkpoints.release)
    out
  }

  /** Derive the context/continuation tables and scalar totals from a
    * pair-count table — ONE implementation shared by the fitter and
    * [[Artifacts.loadNgram]], so a loaded artifact can never drift
    * from a fitted model. The context table comes from ONE pass over
    * the pair counts: total count AND distinct-continuation count
    * (every c12 row is a type).
    */
  private[model] def deriveTables(c12: DataFrame)
      : (DataFrame, DataFrame, Long, Long) = {
    val ctx = Checkpoints.materialize(c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nr")))
    val cont = Checkpoints.materialize(c12.groupBy(col("w2"))
      .agg(count(lit(1)).as("nl")))
    val tot = c12.agg(count(lit(1)).as("nall"),
      countDistinct(col("w2")).as("v")).head()
    (ctx, cont, tot.getLong(0), tot.getLong(1))
  }

  /** The query-facing trained DSIR importance model (q137): the
    * bucket log-ratio table (b, lw) — exactly `bBuckets` rows, so
    * the scoring join BROADCASTS at any corpus size. `base` carries
    * (doc_id, lang, tk); both the raw and target distributions come
    * from one pass (the target count is a conditional sum inside the
    * raw count's aggregate).
    */
  def cachedDsir(base: DataFrame, bBuckets: Int,
                 trustedLang: String = "en"): DataFrame =
    FitCache.getOrBuild(FitCache.Dsir, base, bBuckets, trustedLang) {
      fitRunCount.incrementAndGet()
      val bg = base.select(col("lang"),
        explode(when(size(col("tk")) >= 2,
          sequence(lit(1), size(col("tk")) - 1))
          .otherwise(array().cast("array<int>"))).as("p"),
        col("tk"))
        .select(col("lang"),
          pmod(conv(substring(md5(concat_ws(" ",
            element_at(col("tk"), col("p")),
            element_at(col("tk"), col("p") + 1))), 1, 8), 16, 10)
            .cast("long"), lit(bBuckets.toLong)).as("b"))
      val g = bg.groupBy(col("b")).agg(
        count(lit(1)).as("cr"),
        sum(when(col("lang") === trustedLang, lit(1L))
          .otherwise(lit(0L))).as("ct"))
      val tot = g.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
      val fitted = g.crossJoin(broadcast(tot))
        .select(col("b"),
          (log((col("ct") + lit(1.0)) /
            (col("nt") + lit(bBuckets.toDouble)))
            - log((col("cr") + lit(1.0)) /
              (col("nr") + lit(bBuckets.toDouble)))).as("lw"))
      // ≤ bBuckets rows by construction → always a driver-local
      // relation: the per-execution broadcast builds from driver
      // rows, no collect job
      fitted.sparkSession.createDataFrame(
        java.util.Arrays.asList(fitted.collect(): _*), fitted.schema)
    }
}
