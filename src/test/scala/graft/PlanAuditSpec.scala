package graft

/** Physical-plan regression guard: the scale properties the design
  * claims must survive refactors. Asserts over the optimizer's plan at
  * sf0.001 (plan shape, not data).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    }
  }

  test("every query output is scalar-only (driver harness compat)") {
    // The driver compares results via pandas sort_values, which raises
    // "unhashable type" on list/dict cells (r2: q57's array<int>
    // pq_codes column was the catalog's only red row for exactly this).
    // Nested values must be flattened (array_join / one column per
    // element) before they reach a query's output schema.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val schema = SparkEntry.queries(name)(spark, dir).schema
      val bad = schema.fields.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      })
      assert(bad.isEmpty,
        s"$name exposes non-scalar column(s) ${bad.map(_.name).mkString(",")}" +
          " — the driver's pandas-based compare cannot sort these")
    }
  }

  test("dim joins broadcast") {
    val p = plan("q12_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("global top-k plans as TakeOrderedAndProject") {
    assert(plan("q33_global_topk").contains("TakeOrderedAndProject"))
    // vocabulary top-k: TakeOrdered over the aggregated counts, never
    // a full sort of the vocabulary
    assert(plan("q64_vocab_topk").contains("TakeOrderedAndProject"))
  }

  test("ANN broadcasts the query side (nested-loop, corpus unshuffled)") {
    val p = plan("q28_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("LSH candidates come from an equi-join, not an all-pairs loop") {
    val p = plan("q25_lsh_pairs")
    assert(p.contains("Join") && !p.contains("NestedLoop"),
      p.take(2000))
  }

  test("embedding near-dup candidates come from a banded equi-join") {
    val p = plan("q29_embed_neardup")
    assert(p.contains("Join") && !p.contains("NestedLoop"),
      p.take(2000))
  }

  test("SRP top-k candidates come from a bucket equi-join") {
    val p = plan("q48_lsh_topk")
    assert(p.contains("Join") && !p.contains("NestedLoop"),
      p.take(2000))
  }

  test("range join plans a bucketed equi-join, not a nested loop") {
    // the naive inequality formulation would plan BroadcastNestedLoop;
    // RangeJoin's bucket explode must keep it a plain equi-join
    val p = plan("q80_range_join")
    assert(p.contains("Join") && !p.contains("NestedLoop"),
      p.take(2000))
  }

  test("corpus queries tokenize/hash the text exactly once") {
    // r3 verdict item 1 (q66), generalized: any aggregate-then-probe
    // query that references its exploded token/shingle frame twice
    // lets Catalyst re-derive the explode subtree on both sides — the
    // dominant stage on 100 TB of text runs twice. q66's df is a
    // window count over the tf aggregate; q78's min-owner is a window
    // over the shingle hash (not a self-join); q79/q84 derive vocab
    // AND per-doc stats from the map-side (doc_id, token) counts.
    // Each plan must hold ONE Generate over documents. Asserted with
    // AQE off: the static ReuseExchange rule then dedups the shared
    // subtree in the printed plan; under AQE the same canonicalized
    // reuse happens at runtime (stage-level), but the pre-execution
    // plan string still shows both copies.
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      Seq("q66_tfidf", "q78_shingle_novelty", "q79_oov_rate",
        "q84_token_rank_score", "q91_chunk_dedup",
        "q96_unigram_logprob").foreach { name =>
        val p = plan(name)
        // optional "*(3) " codegen prefix: a Generate fused into a
        // WholeStageCodegen span must still count (r4 advice — the
        // bare ^\W* form cannot cross the stage-id digit)
        val nGen =
          "(?m)^\\W*(\\*\\(\\d+\\)\\s*)?Generate\\b".r.findAllIn(p).length
        assert(nGen == 1,
          s"$name expected exactly 1 Generate (explode), got $nGen:\n" +
            p.take(3000))
      }
    } finally saved.fold(conf.unset("spark.sql.adaptive.enabled"))(
      conf.set("spark.sql.adaptive.enabled", _))
  }

  test("langId is one native expression, not an inlined CASE pipeline") {
    // r3 verdict item 2: the when/otherwise column chain repeated each
    // length(replace(lower(text)...)) marker count once per CASE
    // branch (~8x per row). The native expression leaves exactly one
    // langid(...) call and zero replace chains in the projection.
    Seq("q22_lang_id", "q41_clean_corpus").foreach { name =>
      val p = plan(name)
      // literal replace() only — q41's fingerprint keeps its
      // legitimate regexp_replace
      assert("(?<!regexp_)\\breplace\\(".r.findFirstIn(p).isEmpty,
        s"$name still inlines marker replace() chains: ${p.take(2000)}")
      assert(p.toLowerCase.contains("langid"),
        s"$name does not use the native langid expression: ${p.take(2000)}")
    }
  }

  test("hll sketch aggregates per-partition before its one exchange") {
    // The whole point of q71: estimating |vocab| must never shuffle a
    // token. The plan must partial-aggregate (≤256 register rows per
    // partition) before each exchange — a plan that exchanges raw
    // (register, rho) rows forwards the corpus through the shuffle.
    val p = plan("q71_hll_distinct")
    assert(p.contains("partial_max") || p.contains("partial max") ||
      "HashAggregate.*max".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("bloom bit set and cms counter table broadcast to their probes") {
    assert(plan("q72_bloom_contamination").contains("BroadcastHashJoin"),
      plan("q72_bloom_contamination").take(2000))
    assert(plan("q73_cms_heavy_hitters").contains("BroadcastHashJoin"),
      plan("q73_cms_heavy_hitters").take(2000))
  }

  test("filter pushdown reaches the parquet scans") {
    val p = plan("q12_join_enrich")
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      "expected non-empty PushedFilters")
  }

  test("contamination probes the benchmark shingle set via broadcast") {
    val p = plan("q54_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("incremental dedup anti-joins the history fingerprints") {
    val p = plan("q60_incremental_dedup")
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("kmeans refinement partial-aggregates before its one exchange") {
    // the whole point of q93: the corpus-sized posexplode fan-out must
    // combine map-side so the exchange carries ≤ parts × nlist × dims
    // rows; a plan that shuffles raw (cell, dim, unit) rows forwards
    // 64× the corpus through the wire
    val p = plan("q93_kmeans_refine")
    assert(p.contains("partial_sum") || p.contains("partial sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("cluster sample assigns cells from folded literals, no join") {
    // q98's centroid assignment is argmax over constant-folded
    // centroid scores — a plan that joins a centroid table (or worse,
    // nested-loops it) re-introduces a per-row join at 100 TB
    val p = plan("q98_cluster_sample")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("token budget selection computes the stats pass exactly once") {
    // q100 decomposes a global cumsum into bucketed prefix sums; the
    // bucket-total branch and the probe branch must share the ONE
    // repartition(bucket) exchange — a second documents scan means
    // the barrier failed and the corpus stats pass runs twice (the
    // original defect: the join's isnotnull(bucket) filter pushed
    // into one branch's scan and desynced the subtrees). Asserted
    // with AQE off (static ReuseExchange dedups the shared subtree in
    // the printed plan, same setup as the Generate audit).
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan("q100_token_budget_select")
      val n = "documents\\.parquet".r.findAllIn(p).length
      assert(n == 1,
        s"q100 expected exactly 1 documents scan, got $n:\n${p.take(3000)}")
      // line-based: a ReusedExchange node prints its TARGET as
      // ", Exchange hashpartitioning(...)" on the same line, so a
      // plain (?<!Reused) lookbehind would count the reuse references
      // too (the r4-advice DevExplain bug class)
      val nBucketX = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(bucket") &&
          !l.contains("ReusedExchange"))
      assert(nBucketX == 1,
        s"q100 expected 1 non-reused bucket exchange, got $nBucketX:\n" +
          p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    } finally saved.fold(conf.unset("spark.sql.adaptive.enabled"))(
      conf.set("spark.sql.adaptive.enabled", _))
  }

  test("source quality rank computes the stats pass exactly once") {
    // q108 is q100's bucketed two-level design applied per source:
    // the bucket-total branch and the probe branch must share the
    // ONE repartition(source, bucket) exchange, so the corpus
    // quality-stats pass runs once (same defect class as q100).
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan("q108_source_quality_rank")
      val n = "documents\\.parquet".r.findAllIn(p).length
      assert(n == 1,
        s"q108 expected exactly 1 documents scan, got $n:\n${p.take(3000)}")
      // the CORPUS-sized exchange is the (source, bucket) repartition
      // barrier; the later hashpartitioning(source) exchanges operate
      // on the ≤|sources|·101-row bucket table and are benign
      val nX = p.linesIterator.count(l =>
        "Exchange hashpartitioning\\(source#\\d+, bucket".r
          .findFirstIn(l).isDefined && !l.contains("ReusedExchange"))
      assert(nX == 1,
        s"q108 expected 1 non-reused (source, bucket) exchange, got $nX:\n" +
          p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    } finally saved.fold(conf.unset("spark.sql.adaptive.enabled"))(
      conf.set("spark.sql.adaptive.enabled", _))
  }

  test("topk heap aggregate partial-aggregates before its exchange") {
    // q109's whole point: the heap is a real aggregate, so the
    // partial/final split applies — map-side heaps absorb each
    // partition BEFORE the shuffle (two ObjectHashAggregate nodes,
    // the partial one below the exchange), and no WindowExec / global
    // sort appears anywhere
    val p = plan("q109_topk_heap_agg")
    val nAgg = "ObjectHashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2,
      s"q109 expected partial+final ObjectHashAggregate, got $nAgg:\n" +
        p.take(2000))
    assert(p.contains("partial_topkbyscore"),
      s"q109 expected a partial_ aggregate mode below the exchange:\n" +
        p.take(2000))
    assert(!p.contains("Window"),
      s"q109 must not fall back to a window sort:\n${p.take(2000)}")
  }

  test("q144 stratified sample inherits the q109 heap-agg shape") {
    // r7 verdict item 7: the fixed-k-per-stratum sampler must plan as
    // the bounded-heap aggregate — partial heaps absorbed map-side
    // below the exchange, never a per-stratum window sort
    val p = plan("q144_stratified_sample")
    val nAgg = "ObjectHashAggregate".r.findAllIn(p).length
    assert(nAgg >= 2,
      s"q144 expected partial+final ObjectHashAggregate, got $nAgg:\n" +
        p.take(2000))
    assert(p.contains("partial_topkbyscore"),
      s"q144 expected a partial_ aggregate mode below the exchange:\n" +
        p.take(2000))
    assert(!p.contains("Window"),
      s"q144 must not fall back to a window sort:\n${p.take(2000)}")
  }

  test("scd2 merge shares one exchange across both window passes") {
    // Merge.scd2's key repartition must serve the same-instant winner
    // window AND the range-chaining window — hash(key) satisfies the
    // finer (key, valid_from) clustering, so EnsureRequirements may
    // add sorts but never a second shuffle
    val p = plan("q94_scd2_merge")
    val n = "(?<!Reused)Exchange".r.findAllIn(p).length
    assert(n == 1, s"expected 1 exchange, got $n:\n${p.take(3000)}")
  }

  /** The odds refresh chain over a small temp parquet history, the
    * way `StorageStreamingSpec` builds one: two appended snapshot
    * batches → `Snapshots.latest` → decimalize/impliedProb →
    * proportional + power devig per (game, book).
    */
  private lazy val refreshView = {
    import org.apache.spark.sql.functions.col
    import graft.functions.OddsFunctions.{decimalize, impliedProb}
    import graft.operators.Devig
    import graft.sources.Snapshots
    import spark.implicits._
    val hist = java.nio.file.Files.createTempDirectory("graft_plan")
      .toString + "/canonical"
    Seq(1L, 2L).foreach { ts =>
      Snapshots.appendCanonical((for {
        g <- 1 to 4; b <- Seq("bk0", "bk1"); o <- Seq("home", "away")
      } yield (ts, s"g$g", s"h$g", s"a$g", b, "h2h", o,
        100.0 + 10 * g + ts)).toDF("snapshot_ts", "game_id", "home_team",
        "away_team", "bookmaker", "market", "outcome", "price"), hist)
    }
    val view = Snapshots.latest(Snapshots.readCanonical(spark, hist),
      Seq("game_id", "bookmaker", "market", "outcome"), "snapshot_ts")
    val priced = view
      .withColumn("price_decimal", decimalize(col("price")))
      .withColumn("implied_prob", impliedProb(col("price_decimal")))
    val group = Seq("game_id", "bookmaker")
    Devig.power(Devig.proportional(priced, groupCols = group),
      groupCols = group)
  }

  private def nExchanges(p: String): Int =
    "(?<!Reused)Exchange".r.findAllIn(p).length

  test("odds refresh arbitrage plans one game_id exchange and no join") {
    // Snapshots.latest hashes the history on game_id alone; that one
    // exchange clusters the latest, devig, best-price and per-game
    // margin windows, so Arb.summary needs neither a shuffle nor a join
    import org.apache.spark.sql.functions.col
    val p = graft.operators.Arb
      .summary(refreshView.withColumn("price", col("price_decimal")))
      .queryExecution.executedPlan.toString
    val n = nExchanges(p)
    assert(n == 1, s"expected 1 exchange, got $n:\n${p.take(4000)}")
    assert("Exchange hashpartitioning\\(game_id#\\d+, \\d+\\)".r
      .findFirstIn(p).isDefined, p.take(4000))
    assert(!p.contains("Join"), p.take(4000))
  }

  test("odds refresh high-EV table adds only its global-sort exchange") {
    import graft.operators.Ev
    val p = Ev.highEv(Ev.enrich(refreshView))
      .queryExecution.executedPlan.toString
    val n = nExchanges(p)
    assert(n == 2, s"expected 2 exchanges, got $n:\n${p.take(4000)}")
    assert(p.contains("Exchange hashpartitioning(game_id") &&
      p.contains("Exchange rangepartitioning("), p.take(4000))
  }

  test("runtime bloom-filter pruning injects on selective shuffle joins") {
    // At 100 TB the big fact⋈fact joins are shuffle joins; Spark's
    // InjectRuntimeFilter turns a selective dim-side predicate into a
    // bloom filter probed BEFORE the fact side shuffles. Nothing in
    // the engine's session config may break that. Thresholds are
    // production-scale, so force the trigger conditions at toy scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      val joined = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        p.take(3000))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("BPE apply is scan-shaped: no join, no explode, one exchange") {
    val p = plan("q112_bpe_apply")
    assert(!p.contains("Join"), p.take(2000))
    assert("(?m)^\\W*(\\*\\(\\d+\\)\\s*)?Generate\\b".r
      .findFirstIn(p).isEmpty, p.take(2000))
    // the only exchange is the docs() parallelism repartition — the
    // merge chain itself adds zero shuffles
    val nXchg = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("ReusedExchange") &&
        !l.contains("BroadcastExchange"))
    assert(nXchg <= 1, s"expected <=1 exchange, plan:\n${p.take(3000)}")
  }

  test("fuzzy join candidates come from a segment equi-join") {
    // PassJoin's point: the candidate step must be a shuffled
    // equi-join on (seg, i, m); nested loops may appear ONLY in the
    // short-string residual branches (broadcast, empty on this data).
    val p = plan("q113_fuzzy_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(3000))
    val nBnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nBnlj <= 2,
      s"expected <=2 residual nested loops, got $nBnlj:\n${p.take(3000)}")
  }

  test("perceptual near-dup pairs come from equi-joins, not all-pairs") {
    // q118 (audio fingerprint bands) and q122 (video frame hashes):
    // the pair join must be keyed — band/frame-hash equality — never
    // a nested loop over the square
    Seq("q118_audio_fingerprint", "q122_video_near_dup").foreach { n =>
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n pairs via a nested loop:\n${p.take(2000)}")
      assert(p.contains("Join"), s"$n lost its pair join:\n${p.take(2000)}")
    }
  }

  test("quality classifier is scan-shaped: no shuffle-for-compute") {
    // the only exchange allowed is docs()'s REPARTITION_BY_COL
    // parallelism spread (single-row-group test parquet); the
    // classifier itself must add no aggregation/join exchange
    val p = plan("q119_quality_classifier")
    val ex = "(?<!Reused)Exchange".r.findAllIn(p).length
    assert(ex <= 1 && (ex == 0 || p.contains("REPARTITION_BY_COL")),
      s"q119 must be embarrassingly parallel:\n${p.take(2000)}")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("weighted sample rolls up with a partial agg and no join") {
    val p = plan("q120_weighted_sample")
    assert(p.contains("partial_"),
      s"q120 expected a map-side partial aggregate:\n${p.take(2000)}")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("hard negatives broadcast queries and heap-aggregate, no window") {
    // q121: corpus scanned once against a broadcast query sample
    // (label-mismatch is a non-equi predicate -> nested loop over the
    // BROADCAST side only), then the bounded-heap aggregate with its
    // partial mode below the exchange; never a window sort
    val p = plan("q121_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("partial_topkbyscore"),
      s"q121 expected map-side partial heaps:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      s"q121 must not fall back to a window sort:\n${p.take(2000)}")
  }

  test("incremental near-dup joins bands and heap-aggregates, no window") {
    val p = plan("q126_incremental_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q126 must probe history via the band equi-join:\n${p.take(2000)}")
    assert(p.contains("partial_topkbyscore"),
      s"q126 expected the bounded-heap top-1 partial mode:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      s"q126 must not window-sort per new doc:\n${p.take(2000)}")
  }

  test("ivf cell stats: counter-sized rollup with a map-side partial") {
    val p = plan("q127_ivf_cell_stats")
    assert(p.contains("partial_"),
      s"q127 expected a map-side partial aggregate:\n${p.take(2000)}")
    assert(!p.contains("Join"),
      s"q127 is one corpus scan, no joins:\n${p.take(2000)}")
  }

  test("code-switch chunks explode once and langId stays native") {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan("q115_code_switch")
      val nGen =
        "(?m)^\\W*(\\*\\(\\d+\\)\\s*)?Generate\\b".r.findAllIn(p).length
      assert(nGen == 1, s"expected 1 Generate, got $nGen:\n${p.take(3000)}")
      assert(p.toLowerCase.contains("langid"), p.take(2000))
    } finally saved.fold(conf.unset("spark.sql.adaptive.enabled"))(
      conf.set("spark.sql.adaptive.enabled", _))
  }

  // ---- LM scoring shapes: since r10 the queries serve a fit-once
  // per-doc score frame (their final plan is a Scan ExistingRDD —
  // LmPipelineSpec pins that), so the sized-join properties under
  // test live in the score-frame BUILD plan. Reproduce it through
  // the same scoreBigrams path the build closures call.
  private def knScoringPlan(): String = {
    import org.apache.spark.sql.functions._
    import graft.model.NgramLm
    import graft.text.TextAnalysis
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("tk"))
    val m = NgramLm.cachedBigram(base, "en")
    val bg = base.select(col("doc_id"),
        explode(when(size(col("tk")) >= 2,
          sequence(lit(1), size(col("tk")) - 1))
          .otherwise(array(lit(null).cast("int")))).as("p"),
        col("tk"))
      .select(col("doc_id"),
        element_at(col("tk"), col("p")).as("w1"),
        element_at(col("tk"), col("p") + 1).as("w2"))
    NgramLm.scoreBigrams(bg, m,
        coalesce(col("c12"), lit(0L)).cast("double"))
      .queryExecution.executedPlan.toString
  }

  test("kneser-ney scoring: small model broadcasts, zero corpus joins") {
    // NgramLm.scoreBigrams' sized decision, small side: at sf0.001
    // the fitted model is far under the pair threshold, so every
    // model join must be a BROADCAST (occurrence rows never exchange
    // for scoring) and nothing may sort the bigram stream
    val p = knScoringPlan()
    assert(p.contains("BroadcastHashJoin"),
      s"q151's small-model joins must broadcast:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"q151 must not sort the bigram stream:\n${p.take(3000)}")
    assert(!p.contains("ShuffledHashJoin"),
      s"a small fitted model must not shuffle the corpus:\n${p.take(3000)}")
  }

  test("kneser-ney scoring at scale: shuffle-hash, never sort-merge") {
    // the 100 TB shape: force the sized decision to the large-model
    // path — log-probs per DISTINCT pair through SHUFFLE_HASH model
    // joins (the model side is vocab-bounded; sorting the corpus
    // bigram stream is the failure mode)
    spark.conf.set(graft.model.NgramLm.BroadcastMaxPairsConf, "0")
    try {
      val p = knScoringPlan()
      assert(p.contains("ShuffledHashJoin"),
        s"q151's large-model joins must be SHUFFLE_HASH:\n${p.take(3000)}")
      assert(!p.contains("SortMergeJoin"),
        s"q151 must not sort the bigram stream:\n${p.take(3000)}")
    } finally spark.conf.unset(graft.model.NgramLm.BroadcastMaxPairsConf)
  }

  test("the served LM queries rank over a materialized frame: no " +
      "joins, no explode, no sort-merge anywhere in the online plan") {
    for (q <- Seq("q151_kneser_ney", "q160_kn_trigram")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q must serve the materialized score frame:\n${p.take(1000)}")
      assert(!p.contains("Join") && !p.contains("Generate"),
        s"$q's online plan must be projection-only:\n${p.take(2000)}")
    }
  }

  test("robots screening: host rules broadcast, URLs never shuffle") {
    val p = plan("q153_robots_screen")
    assert(p.contains("BroadcastHashJoin"),
      s"q153's host-rule table must broadcast:\n${p.take(2000)}")
    assert(p.contains("robotsdecision") || p.contains("RobotsDecision"),
      s"q153's decision must be the native glob expression:\n${p.take(2000)}")
    // the two scan-spread repartitions (URL branch + hosts branch),
    // the host-distinct aggregate, and the broadcast itself — the
    // URL stream must not exchange FOR THE DECISION (no shuffle
    // keyed on path/rules anywhere)
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx <= 4,
      s"q153 expected host-bounded exchanges only, got $nEx:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q153 must never shuffle URLs against rules:\n${p.take(2000)}")
  }

  test("gzip warc segmentation: same one-exchange local-parse shape") {
    // member-wise inflation happens INSIDE the partition-local walk —
    // compression must not change the plan
    val p = plan("q152_warc_gz_segment")
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx == 1,
      s"q152 expected exactly the container-assembly exchange, got " +
        s"$nEx:\n${p.take(3000)}")
    assert(p.contains("MapPartitions"),
      s"q152 parse/inflate must be a mapPartitions seam:\n${p.take(2000)}")
  }

  test("warc segmentation: one assembly exchange, parse stays local") {
    val p = plan("q147_warc_segment")
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx == 1,
      s"q147 expected exactly the container-assembly exchange, got " +
        s"$nEx:\n${p.take(3000)}")
    assert(p.contains("MapPartitions"),
      s"q147 parse must be a mapPartitions seam:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"q147 has no joins:\n${p.take(2000)}")
  }

  test("crawl capstone: assembly + rollup exchanges only, no joins") {
    val p = plan("q150_crawl_pipeline")
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx == 2,
      s"q150 expected assembly + source-rollup exchanges, got $nEx:\n" +
        p.take(3000))
    assert(!p.contains("Join"), s"q150 has no joins:\n${p.take(2000)}")
    assert(p.contains("partial_"),
      s"q150 rollup needs a map-side partial below the exchange:\n" +
        p.take(3000))
  }

  test("url canonicalization groups fingerprints, never page content") {
    val p = plan("q149_url_canonical")
    assert(!p.contains("Join"), s"q149 has no joins:\n${p.take(2000)}")
    assert(!p.contains("text#"),
      s"q149 must not carry document text past the scan:\n" +
        p.take(3000))
  }

  test("html extraction adds no exchange beyond the scan spread") {
    // docs() hash-spreads the single-split parquet scan (one
    // REPARTITION_BY_COL); render + extract are per-row map stages
    // that must add NOTHING on top
    val p = plan("q148_html_extract")
    val nEx = "Exchange".r.findAllIn(p).length
    assert(nEx == 1,
      s"q148 expected only the scan-spread exchange, got $nEx:\n" +
        p.take(3000))
    assert(!p.contains("Join"), s"q148 has no joins:\n${p.take(2000)}")
  }

  test("semantic decontam broadcasts the bench side and partial-aggs") {
    // q171: the benchmark suite is bounded → broadcast nested loop
    // over the BROADCAST side only; the per-vector max/count must
    // collapse map-side (partial agg) so the exchange carries one row
    // per corpus vector, not the |corpus|·|bench| expansion
    val p = plan("q171_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("partial_max"),
      s"q171 expected a map-side partial aggregate:\n${p.take(2000)}")
    assert(!p.contains("Window"), p.take(2000))
  }

  test("release diff joins fingerprints, never text") {
    // q172: md5 is computed UNDER the scan so the full-outer join's
    // exchange carries (doc_id, source, fp) — the plan must not
    // reference the text column above its md5 projection
    val p = plan("q172_release_diff")
    assert(p.contains("FullOuter"), p.take(3000))
    // structural assertion (r11 ADVICE item 1 — the string-prefix
    // check only covered operators ABOVE the join): no Exchange
    // anywhere in the plan may carry the text column — md5 projects
    // under the scan, so every shuffle moves (id, source, fp) only
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // AQE wraps the physical plan in AdaptiveSparkPlanExec (a leaf to
    // collect()) — descend into it explicitly
    def nodes(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: nodes(a.executedPlan)
      case _ => pl +: pl.children.flatMap(nodes)
    }
    val exec = nodes(SparkEntry.queries("q172_release_diff")(spark, dir)
      .queryExecution.executedPlan)
    val leaky = exec.collect {
      case e: Exchange if e.output.exists(_.name == "text") => e
    }
    assert(leaky.isEmpty,
      s"q172 shuffles raw text:\n${leaky.map(_.toString).mkString}")
    // and the join's inputs themselves are fingerprint-only
    val joinIn = exec.collect { case j: BaseJoinExec => j }
      .flatMap(j => j.children.flatMap(_.output.map(_.name)))
    assert(joinIn.nonEmpty && !joinIn.contains("text"),
      s"q172 carries raw text into the join: $joinIn")
  }
}
