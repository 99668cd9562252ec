package graft.dedup

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Checkpoints

/** EXACT-substring repeat detection via a distributed SUFFIX ARRAY
  * (r6 verdict item 4): every maximal repeated token span of length
  * ≥ L across the corpus, with its TRUE length — the "deduplicate
  * ≥ 50-token verbatim spans" guarantee of Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" (ACL'22), which
  * fixed-length positional n-grams (q125) only approximate: grams
  * certify coverage but FRAGMENT a 200-token verbatim repeat into
  * anonymous fixed windows (its extent is lost), and consecutive
  * repeated grams cannot be chained into one long repeat because
  * adjacent windows may match different sources.
  *
  * Construction — prefix OCTUPLING (Manber–Myers doubling, three
  * steps at a time; each round is the sort/shuffle discipline the
  * layout queries q101/q102 already run):
  *   - suffixes are PER-DOCUMENT tails: a repeat never crosses a
  *     document boundary, so no sentinel plumbing is needed — a
  *     suffix simply ends at its document's end. Out-of-range
  *     coordinates take the hash-of-null marker, a single "past the
  *     end" pseudo-token: the max-LCP-adjacency property only needs
  *     SOME total order over (tokens + terminator), not the
  *     lexicographic one, so where the marker sorts is irrelevant —
  *     which is also why token VALUES may be ordered by xxhash64
  *     rather than by collation (collision odds are the catalog's
  *     usual hash-key budget — see the base-round comment);
  *   - the base round ranks 64-token prefixes straight off the
  *     token arrays (one `transform`, no joins); each later round
  *     ranks the tuple (rank_w(p), rank_w(p+w), …, rank_w(p+7w)) —
  *     seven equi-joins plus one order-preserving dense rank —
  *     giving rank_{8w}; typical web-document lengths need ONE such
  *     round. Rounds stop once the width covers the longest
  *     document: document length does not grow with corpus size, so
  *     rounds are O(log max_doc_len) regardless of SF. The final
  *     round appends a (doc, pos) tiebreak coordinate, so its dense
  *     rank IS the suffix-array position outright (identical full
  *     suffixes — exact-duplicate tails — only ever needed an
  *     arbitrary-but-deterministic adjacency order).
  *   - dense ranking is collect-free and never single-partition:
  *     range-partition + local sort + eager localCheckpoint (pins
  *     the partition layout), then partition-local `row_number` plus
  *     per-partition-count offsets (a window over ONE ROW PER
  *     PARTITION — metadata). The per-round checkpoints keep lineage
  *     round-independent (duplicateClusters' barrier discipline);
  *     set `graft.checkpoint.dir` to make every truncation a
  *     RELIABLE checkpoint that survives executor loss
  *     ([[graft.model.Checkpoints]]), and superseded rounds are
  *     released eagerly rather than left to ContextCleaner GC.
  *
  * ℓ(p) — the longest repeat starting at p — is the max LCP of
  * suffix p with ANY other suffix, which equals the max of its LCPs
  * with its two suffix-array neighbors (the classic SA property
  * under any total symbol order, so the DuckDB oracle may sort
  * suffixes its own way — ℓ values are order-independent). Neighbor
  * LCPs are computed directly: each adjacent pair joins its two
  * documents' token arrays and one codegen'd `zip_with`
  * null-safe-equality pass finds the first mismatch (the exchange
  * carries each document's tokens once per adjacency side — linear
  * in corpus text, one stage; a binary-lifting walk over retained
  * rank tables is the same asymptotics at 2·log(max_doc_len) extra
  * joins, and loses on job count). Truncation-equal tails are equal
  * whole suffixes, so clamping the no-mismatch case to the shorter
  * suffix length is exact. Spans are per-document interval unions of
  * [p, p+ℓ(p)) for ℓ(p) ≥ L — gaps-and-islands over a
  * doc-partitioned window.
  *
  * Scale shape: every stage is a bounded-key shuffle, a
  * doc-partitioned window, or a range-partitioned sort; nothing is
  * quadratic and nothing corpus-sized reaches the driver. The
  * positions frame is |corpus tokens| rows — the cardinality q125
  * already exchanges.
  */
object SuffixRepeats {

  /** Order-preserving dense rank of (k1..k<width>) long tuples, collect-
    * free: distinct → range partition → local sort → eager
    * localCheckpoint (fixes the partition layout so
    * `spark_partition_id` is stable) → partition-local row_number +
    * per-partition-count offsets. The offsets window runs over one
    * row per partition — metadata, never data. Returns
    * (k1..k<width>, rank) with rank dense in [0, #distinct).
    */
  private def denseRankTuples(tuples: DataFrame, parts: Int,
                              width: Int,
                              scratch: ListBuffer[DataFrame]): DataFrame = {
    val ks = (1 to width).map(i => col(s"k$i"))
    val ranked = Checkpoints.materializeFresh(tuples.select(ks: _*)
      .distinct()
      .repartitionByRange(parts, ks: _*)
      .sortWithinPartitions(ks: _*))
    scratch += ranked
    val distinctCk = ranked.withColumn("pid", spark_partition_id())
    val offs = distinctCk.groupBy(col("pid"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val localIdx = row_number().over(
      Window.partitionBy(col("pid")).orderBy(ks: _*))
    distinctCk
      .withColumn("__li", localIdx.cast("long"))
      .join(broadcast(offs), Seq("pid"))
      .select(ks :+ (col("off") + col("__li") - 1).as("rank"): _*)
  }

  /** Suffix arrays are offline INDEXES in a dedup pipeline (Lee et
    * al. build the SA once and reuse it) — so the computed span table
    * is memoized per (corpus plan, params) with the same fit-once
    * discipline as Similarity.trainedCentroids: first execution pays
    * the prefix-octupling rounds; later executions read the eagerly
    * checkpointed span table (doc-count-sized — one row per document
    * with repeats) with zero ranking jobs ([[graft.model.FitCache]]).
    *
    * The cached SA index primitive: the merged SPAN LIST — one row
    * per maximal repeated span of ≥ `minLen` tokens,
    * (doc_id, s, e, span_max_ell) with [s, e) 1-based token
    * positions and span_max_ell the longest single repeat starting
    * inside the span. Everything downstream is a projection of this
    * sliver: the q134 per-doc aggregate ([[repeatedSpans]]), q125's
    * coverage fraction, and q146's span REMOVAL (the actual
    * "deduplicate the training set" transform of Lee et al.).
    */
  def repeatedSpanList(docsTok: DataFrame, minLen: Int,
                       parts: Int = 8): DataFrame =
    graft.model.FitCache.getOrBuild(graft.model.FitCache.SpanIndex,
      docsTok, minLen, parts)(spanListUncached(docsTok, minLen, parts))

  /** Uncached span-list build (the [[repeatedSpanList]] body without
    * the memo) — the incremental merge ([[mergeSpanList]]) ranks
    * ad-hoc sub-corpora that must not pollute the fit-once cache.
    * The span table is materialized, then every per-round checkpoint
    * behind it is garbage and releases eagerly (r7 ADVICE item 2).
    */
  private def spanListUncached(docsTok: DataFrame, minLen: Int,
                               parts: Int): DataFrame = {
    val scratch = ListBuffer.empty[DataFrame]
    val caches = ListBuffer.empty[DataFrame]
    val built = Checkpoints.materialize(
      buildSpanList(docsTok, minLen, parts, scratch, caches))
    scratch.foreach(Checkpoints.release)
    caches.foreach(_.unpersist(false))
    built
  }

  /** Per-position `minLen`-gram hash index (d, p, g) over a
    * (doc_id, tokens) frame — the PROBE side of the incremental
    * suffix-index merge. g = xxhash64 of the space-joined gram
    * starting at 1-based position p (positions with fewer than
    * minLen tokens remaining cannot start a qualifying repeat and
    * are skipped). Tokens are whitespace-split, so the space join is
    * injective on token sequences; hash collisions only ever ADD
    * candidate documents (the merge re-compares real tokens), never
    * drop one — the probe is recall-exact.
    */
  def gramIndex(docsTok: DataFrame, minLen: Int): DataFrame =
    docsTok
      .select(col("doc_id").cast("long").as("d"), col("tokens").as("tk"))
      .filter(size(col("tk")) >= minLen)
      .select(col("d"), explode(transform(
        sequence(lit(1), size(col("tk")) - minLen + 1),
        p => struct(p.cast("long").as("p"),
          xxhash64(concat_ws(" ", slice(col("tk"), p, lit(minLen))))
            .as("g")))).as("x"))
      .select(col("d"), col("x.p").as("p"), col("x.g").as("g"))

  /** INCREMENTAL suffix-index maintenance (r13 — r12 verdict Next
    * #3: the exact-substring family was the last fit-once artifact
    * without an incremental twin). Merge a batch of NEW documents
    * into a served (span table, gram index) pair without re-running
    * the prefix-octupling over the whole corpus:
    *
    *  1. probe — corpus documents holding ≥ 1 position whose
    *     minLen-gram occurs anywhere in the batch become CANDIDATE
    *     docs (one semi-join of the persisted gram index against the
    *     batch's distinct gram set; every cross-corpus repeat of
    *     length ≥ minLen starts at such a position on both sides, so
    *     the probe is recall-exact);
    *  2. rank — the full span-list build runs over batch ∪ candidate
    *     docs ONLY (whole docs, so every octupling shift resolves);
    *  3. merge — the sub-build's spans interval-union into the old
    *     span table per doc (gaps-and-islands), max-ell per merged
    *     island.
    *
    * Merged ≡ full rebuild over (corpus ∪ batch), exactly: adding
    * documents never changes corpus-internal LCPs, a corpus position
    * whose ℓ grows past minLen is a candidate by construction, the
    * sub-build's ℓ values are true-pair LCPs bounded by the full
    * rebuild's, and wherever the full value exceeds a sub value the
    * old span table already carries the difference —
    * SuffixMergeSpec holds the differential on seeded splits and
    * chained batches.
    *
    * Scale shape: the expensive stages — the O(log max_doc_len)
    * global sort rounds — now run over batch + candidates instead of
    * the corpus; what remains corpus-sized is two PROBE passes (the
    * gram-index semi-join, whose batch side broadcasts, and the
    * candidate-doc token fetch, a semi-join-pruned scan), both
    * single linear scans with no sort. Batch doc ids must be fresh
    * (new documents, the append-only corpus contract). Returns
    * (merged span table, merged gram index — old ∪ batch, the next
    * cycle's probe side).
    */
  def mergeSpanList(oldSpans: DataFrame, oldGrams: DataFrame,
                    corpusTok: DataFrame, batchTok: DataFrame,
                    minLen: Int, parts: Int = 8)
      : (DataFrame, DataFrame) = {
    val bGrams = gramIndex(batchTok, minLen)
    val bGramSet = bGrams.select(col("g")).distinct()
    val candDocs = oldGrams.join(bGramSet, Seq("g"), "left_semi")
      .select(col("d").as("doc_id")).distinct()
    val candTok = corpusTok.join(candDocs, Seq("doc_id"), "left_semi")
    val subSpans = spanListUncached(
      batchTok.select(col("doc_id"), col("tokens"))
        .unionByName(candTok.select(col("doc_id"), col("tokens"))),
      minLen, parts)
    val all = oldSpans.select(col("doc_id"), col("s"), col("e"),
        col("span_max_ell"))
      .unionByName(subSpans)
    val wD = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"))
    val runMax = max(col("e")).over(
      wD.rowsBetween(Window.unboundedPreceding, -1))
    val merged = all
      .withColumn("__new",
        when(runMax.isNull || col("s") > runMax, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wD))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"),
        max(col("span_max_ell")).as("span_max_ell"))
      .select(col("doc_id"), col("s"), col("e"), col("span_max_ell"))
    (merged, oldGrams.unionByName(bGrams))
  }

  /** TAKEDOWN-SIDE incremental suffix-index maintenance (r13 — the
    * delete path of [[mergeSpanList]]'s loop): removing documents can
    * SHRINK or ERASE other documents' spans — a span survives only if
    * its repeat evidence survives — so retraction re-derives spans
    * where they can change and nowhere else:
    *
    *  1. scope — a surviving doc's spans can change ONLY if it holds
    *     a position whose minLen-gram occurs in a removed doc (a
    *     ≥ minLen match with a removed doc implies the first-minLen
    *     gram matches, so the gram probe is recall-exact; every other
    *     doc's match multiset loses nothing). One semi-join of the
    *     surviving gram index against the removed docs' gram set
    *     finds the AFFECTED docs;
    *  2. rank — the span build runs over affected ∪ candidate docs
    *     only, where candidates are surviving docs sharing a gram
    *     with an affected doc (an affected doc's surviving evidence
    *     partners all sit in its gram-candidate set, so its sub-built
    *     spans are exact);
    *  3. replace — affected docs' span rows are REPLACED by the
    *     sub-build's (unlike the merge path's interval-union: ℓ
    *     values can only shrink here, so old spans must not win);
    *     removed docs' rows and gram entries drop.
    *
    * Retracted ≡ full rebuild over (corpus ∖ removed), exactly —
    * RetractionSpec holds the differential, including an
    * evidence-erased span and a shrink-in-place. Scale shape: the
    * sort rounds run over affected + candidates; corpus-sized work is
    * the gram-index probes (broadcast-able removed/affected gram
    * sets) and the semi-join-pruned token fetch — linear scans, no
    * sort. Returns (retracted span table, retracted gram index).
    */
  def retractSpanList(oldSpans: DataFrame, oldGrams: DataFrame,
                      corpusTok: DataFrame, removed: DataFrame,
                      minLen: Int, parts: Int = 8)
      : (DataFrame, DataFrame) = {
    val rem = removed.select(col("doc_id"))
    val remD = rem.select(col("doc_id").as("d"))
    // the corpus token frame feeds the removed-doc gram explode AND
    // the candidate token fetch — materialized once when it is an
    // in-query plan (r14); the production loaded-parquet shape passes
    // through as a leaf scan
    val corpus = Checkpoints.materializeIfComplex(
      corpusTok.select(col("doc_id"), col("tokens")))
    // materialized once (r13 opt round 1): the surviving gram index
    // feeds the affected-doc probe, the candidate-gram set, the
    // candidate-doc probe AND the returned next-cycle artifact — as a
    // lazy plan over an in-query gram build each consumer re-ran the
    // corpus-wide gram explode (~4 full explodes per cycle measured);
    // production persists exactly this frame between cycles anyway,
    // so the one-copy cost is the artifact write it already pays
    val survGrams = Checkpoints.materialize(
      oldGrams.join(remD, Seq("d"), "left_anti"))
    // the removed docs' gram set comes from THEIR OWN tokens, not
    // from probing oldGrams (r14): the served gram index is
    // gramIndex(corpusTok) by the maintenance contract (mergeSpanList
    // returns exactly old ∪ gramIndex(batch), and survGrams below is
    // returned as the SURVIVING corpus's index on the same premise),
    // so both derivations are identical — but the semi-join probe
    // re-ran the corpus-wide gram explode a second time (the
    // survGrams materialization above already pays it once), while
    // this explode is removed-batch-sized (guide §1.2: don't compute
    // what you throw away).
    val rGramSet = gramIndex(
        corpus.join(rem, Seq("doc_id"), "left_semi"), minLen)
      .select(col("g")).distinct()
    // affected is doc-id-sized and feeds THREE consumers (the
    // candidate-gram chain, the kept-span anti-join, the replacement
    // semi-join) — materialized once so the surviving-gram semi-join
    // + distinct doesn't re-run per consumer (r13 opt round 1)
    val affected = Checkpoints.materializeFresh(
      survGrams.join(rGramSet, Seq("g"), "left_semi")
        .select(col("d").as("doc_id")).distinct())
    val aGramSet = survGrams
      .join(affected.select(col("doc_id").as("d")), Seq("d"),
        "left_semi")
      .select(col("g")).distinct()
    val candDocs = survGrams.join(aGramSet, Seq("g"), "left_semi")
      .select(col("d").as("doc_id")).distinct()
    val survTok = corpus.join(rem, Seq("doc_id"), "left_anti")
    val subTok = survTok.join(candDocs, Seq("doc_id"), "left_semi")
    val subSpans = spanListUncached(
      subTok.select(col("doc_id"), col("tokens")), minLen, parts)
    val keptSpans = oldSpans
      .select(col("doc_id"), col("s"), col("e"), col("span_max_ell"))
      .join(rem, Seq("doc_id"), "left_anti")
      .join(affected, Seq("doc_id"), "left_anti")
    val newAffected = subSpans
      .join(affected, Seq("doc_id"), "left_semi")
    (keptSpans.unionByName(newAffected), survGrams)
  }

  /** Per-doc maximal repeated spans of ≥ `minLen` tokens over a
    * (doc_id, tokens: array<string>) frame. One row per document
    * containing at least one qualifying span:
    * (doc_id, n_spans, covered_tokens, max_repeat_len). A projection
    * of the fit-once cached [[repeatedSpanList]] — the per-doc max of
    * per-span maxima IS the per-doc max ℓ, since every qualifying
    * starter lies in exactly one merged span.
    */
  def repeatedSpans(docsTok: DataFrame, minLen: Int,
                    parts: Int = 8): DataFrame =
    repeatedSpanList(docsTok, minLen, parts)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("e") - col("s")).cast("long").as("covered_tokens"),
        max(col("span_max_ell")).cast("long").as("max_repeat_len"))

  /** Whether the most recent [[buildSpanList]] took the single-task
    * path — dev/spec measurement hook, not part of any query path.
    */
  private[graft] val lastBuildLocal =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Single-task span-list build for [[buildSpanList]]'s
    * below-threshold path: exact suffix sort + adjacent-LCP scan +
    * per-doc island merge over one partition's (doc_id, tokens)
    * iterator, emitting (doc_id, s, e, span_max_ell) — the
    * distributed octupling pipeline's output exactly (see the call
    * site for the equivalence argument). Runs on an executor
    * (mapPartitions), never the driver. Tokens intern to positive
    * ints (LCP is invariant under injective relabeling); each doc
    * ends in a unique negative sentinel, so suffix comparisons and
    * LCP scans terminate at document boundaries and two distinct
    * suffixes never compare equal — equal-whole-suffix pairs resolve
    * to LCP = min remaining length, the distributed rule.
    */
  private[graft] def localSpanList(
      rows: Iterator[(Long, Array[String])],
      minLen: Int): Iterator[(Long, Long, Long, Long)] = {
    val intern = new java.util.HashMap[String, Integer]()
    val t = new scala.collection.mutable.ArrayBuilder.ofInt
    val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
    var off = 0
    rows.foreach { case (d, tk) =>
      if (tk != null && tk.length > 0) {
        val di = docIds.length
        docIds += d; starts += off; lens += tk.length
        var i = 0
        while (i < tk.length) {
          var id = intern.get(tk(i))
          if (id == null) { id = intern.size + 1; intern.put(tk(i), id) }
          t += id.intValue(); i += 1
        }
        t += -(di + 1) // sentinel
        off += tk.length + 1
      }
    }
    val arr = t.result()
    val nDocs = docIds.length
    val m = arr.length // real positions + nDocs sentinel slots
    if (m == 0) return Iterator.empty
    // Suffix array by PREFIX DOUBLING with counting sorts (r14 — r13
    // verdict item 8 / ADVICE item 3): the old scan-until-mismatch
    // comparator cost O(LCP) per comparison, so a boilerplate-heavy
    // sub-corpus near the localTokenMax threshold — exactly the dedup
    // domain — degraded toward quadratic and could stall one executor
    // task for minutes. Doubling + Kasai is O(m log maxDocLen) +
    // O(m) REGARDLESS of repetitiveness (each round's two counting
    // sorts are linear, and rounds stop once every rank is distinct,
    // which per-doc unique sentinels force within log2(max doc len)
    // rounds). The order and every LCP are IDENTICAL to the old
    // comparator's: both compare the same int sequence to the first
    // mismatch, which the unique sentinels place at or before each
    // doc's end. The full array (sentinel positions included) is
    // sorted; sentinel-start suffixes begin with unique NEGATIVE
    // symbols while real tokens intern positive, so they occupy SA
    // slots [0, nDocs) exactly, every adjacency with them has LCP 0,
    // and the real suffix array is the contiguous tail.
    val sa = new Array[Int](m)
    var rank = new Array[Int](m)
    var rank2 = new Array[Int](m)
    locally {
      // initial order: counting sort on the shifted symbol value
      val K = nDocs + intern.size + 1
      val cnt = new Array[Int](K + 1)
      var i = 0
      while (i < m) { cnt(arr(i) + nDocs + 1) += 1; i += 1 }
      i = 1
      while (i <= K) { cnt(i) += cnt(i - 1); i += 1 }
      i = 0
      while (i < m) {
        val k = arr(i) + nDocs
        sa(cnt(k)) = i; cnt(k) += 1; i += 1
      }
      rank(sa(0)) = 0
      i = 1
      while (i < m) {
        rank(sa(i)) = rank(sa(i - 1)) +
          (if (arr(sa(i)) != arr(sa(i - 1))) 1 else 0)
        i += 1
      }
    }
    locally {
      val sa2 = new Array[Int](m)
      val cnt = new Array[Int](m + 1)
      var h = 1
      while (h < m && rank(sa(m - 1)) < m - 1) {
        // order by second key (rank of the suffix h ahead; suffixes
        // with no h-ahead rank sort first) — derived in O(m): the
        // last h positions have no second key, then walking the
        // current order emits each position h back in second-key
        // order
        var p = 0
        var i = m - h
        while (i < m) { sa2(p) = i; p += 1; i += 1 }
        i = 0
        while (i < m) {
          val j = sa(i) - h
          if (j >= 0) { sa2(p) = j; p += 1 }
          i += 1
        }
        // stable counting sort by first key on top of the second-key
        // order
        java.util.Arrays.fill(cnt, 0)
        i = 0
        while (i < m) { cnt(rank(i) + 1) += 1; i += 1 }
        i = 1
        while (i <= m) { cnt(i) += cnt(i - 1); i += 1 }
        i = 0
        while (i < m) {
          val j = sa2(i)
          sa(cnt(rank(j))) = j; cnt(rank(j)) += 1; i += 1
        }
        // re-rank on the (rank, rank_{+h}) pair
        rank2(sa(0)) = 0
        i = 1
        while (i < m) {
          val a = sa(i - 1); val b = sa(i)
          val same = rank(a) == rank(b) &&
            (if (a + h < m) rank(a + h) else -1) ==
              (if (b + h < m) rank(b + h) else -1)
          rank2(b) = rank2(a) + (if (same) 0 else 1)
          i += 1
        }
        val sw = rank; rank = rank2; rank2 = sw
        h *= 2
      }
    }
    // adjacent LCPs over the full SA by Kasai's algorithm — O(m)
    // total (h decreases by at most 1 per position), immune to
    // repetitive corpora; sentinel mismatches bound every LCP at the
    // doc end exactly like the old direct scan
    val lcpFull = new Array[Int](math.max(m - 1, 0))
    locally {
      var h = 0
      var i = 0
      while (i < m) {
        if (rank(i) > 0) {
          val j = sa(rank(i) - 1)
          while (i + h < m && j + h < m && arr(i + h) == arr(j + h))
            h += 1
          lcpFull(rank(i) - 1) = h
          if (h > 0) h -= 1
        } else h = 0
        i += 1
      }
    }
    // doc index of an absolute offset: starts is ascending; binary
    // search the enclosing doc
    def docOf(a: Int): Int = {
      var lo = 0; var hi = nDocs - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (starts(mid) <= a) lo = mid else hi = mid - 1
      }
      lo
    }
    // per-doc qualifying starters (p 1-based, ell = max adjacent LCP);
    // real suffixes are SA slots [nDocs, m) — every adjacency with the
    // sentinel-start block contributes LCP 0, so reading lcpFull
    // across the block boundary is exact
    val perDoc = Array.fill(nDocs)(
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int)])
    locally {
      var k = nDocs
      while (k < m) {
        val left = if (k > 0) lcpFull(k - 1) else 0
        val right = if (k < m - 1) lcpFull(k) else 0
        val ell = math.max(left, right)
        if (ell >= minLen) {
          val a = sa(k)
          val d = docOf(a)
          perDoc(d) += ((a - starts(d) + 1, ell))
        }
        k += 1
      }
    }
    // gaps-and-islands merge per doc
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long)]
    var d = 0
    while (d < nDocs) {
      val ps = perDoc(d).sortInPlaceBy(_._1)
      var i = 0
      while (i < ps.length) {
        var s = ps(i)._1.toLong
        var e = s + ps(i)._2
        var maxEll = ps(i)._2.toLong
        var j = i + 1
        while (j < ps.length && ps(j)._1 <= e) {
          e = math.max(e, ps(j)._1.toLong + ps(j)._2)
          maxEll = math.max(maxEll, ps(j)._2.toLong)
          j += 1
        }
        out += ((docIds(d), s, e, maxEll))
        i = j
      }
      d += 1
    }
    out.iterator
  }

  private def buildSpanList(docsTok: DataFrame, minLen: Int,
                            parts: Int,
                            scratch: ListBuffer[DataFrame],
                            caches: ListBuffer[DataFrame])
      : DataFrame = {
    require(minLen >= 1, s"minLen=$minLen must be >= 1")

    // persist + aggregate is ONE action (r14 — the duplicateClusters
    // e0 discipline): the old materialize-then-aggregate pair paid a
    // checkpoint action AND a size action per build; the size
    // aggregate now populates the cache in the same job. The caller
    // (spanListUncached) unpersists after the span table
    // materializes, so the cache lives exactly one build.
    val dt = docsTok
      .select(col("doc_id").cast("long").as("d"), col("tokens").as("tk"))
      .repartition(col("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches += dt
    // maxLen gates the octupling rounds; totTok additionally gates the
    // size-adaptive single-task path below
    val szRow = dt.agg(coalesce(max(size(col("tk"))), lit(0)),
      coalesce(sum(size(col("tk")).cast("long")), lit(0L))).head()
    val maxLen = szRow.getInt(0)
    val totTok = szRow.getLong(1)
    // SIZE-ADAPTIVE build (r13 opt round 1 — the duplicateClusters
    // union-find argument applied to the suffix sort): the octupling
    // loop costs ~15 driver-latency jobs PER ROUND (7 shift joins + a
    // range-partitioned dense rank + a checkpoint), and the
    // incremental maintenance paths ([[mergeSpanList]] /
    // [[retractSpanList]]) run it over batch ∪ candidate docs — a
    // sub-corpus that is batch-proportional BY DESIGN, measured at
    // 71-106 Spark jobs for ~6 task-seconds at gate SF (DevSpanDiag).
    // Below `graft.sa.localTokenMax` total tokens (default 2M ≈ tens
    // of MB of interned ints — a session conf, retunable per
    // deployment), the whole build therefore runs as ONE executor
    // task: intern tokens to ints (any injective relabeling preserves
    // every LCP, and the adjacent-max-LCP identity holds for the
    // lexicographic order of ANY alphabet), suffix-sort with per-doc
    // sentinel terminators, adjacent-LCP scan, per-doc island merge.
    // Semantics are the distributed builder's exactly — true-token
    // comparison, equal-whole-suffix LCP = min remaining length —
    // minus its documented ~2⁻⁶⁴ hash-collision allowance (the local
    // path compares real tokens, so it can only be MORE exact).
    // Above the threshold the octupling rounds run unchanged.
    // SuffixMergeSpec carries the local ≡ distributed differential.
    val localMax = docsTok.sparkSession.conf
      .getOption("graft.sa.localTokenMax").map(_.toLong)
      .getOrElse(2000000L)
    if (totTok <= localMax) {
      val session = docsTok.sparkSession
      import session.implicits._
      lastBuildLocal.set(true)
      return dt.select(col("d"), col("tk"))
        .as[(Long, Array[String])]
        .coalesce(1)
        .mapPartitions(it => localSpanList(it, minLen))
        .toDF("doc_id", "s", "e", "span_max_ell")
    }
    lastBuildLocal.set(false)

    // base: rank 64-token prefixes straight off the arrays — 64
    // token-hash COORDINATES per position, one transform, zero joins
    // (coordinate-wise hashing keeps the order prefix-decomposable;
    // a single whole-window hash would not). A coordinate collision
    // merges two token TYPES corpus-wide with probability ~2⁻⁶⁴ per
    // vocab pair (~3e-8 even at a 10⁶-token vocabulary) and would at
    // worst overstate one LCP — accepted and documented, same budget
    // as every md5-keyed operator in the catalog. element_at past
    // the array end is null; hashing null yields the constant seed —
    // the uniform "past the end" marker.
    val B = 64
    val gB = dt
      .filter(size(col("tk")) > 0)
      .select(col("d"), size(col("tk")).as("dl"),
        explode(transform(sequence(lit(1), size(col("tk"))), i =>
          struct((i.as("p") +:
            (1 to B).map(k =>
              xxhash64(element_at(col("tk"), (i + (k - 1)).cast("int")))
                .as(s"k$k"))): _*))).as("g"))
      // positions are LONG from here on: the octupling shift k·w
      // reaches 7·w with w up to max_doc_len, which overflows Int for
      // documents past ~300M tokens (r7 ADVICE item 6); long position
      // arithmetic removes the bound entirely (array sizes cap a
      // document at Int.MaxValue tokens, far below Long range)
      .select(col("d") +: col("dl") +: col("g.p").cast("long").as("p") +:
        (1 to B).map(k => col(s"g.k$k")): _*)
    // NB no repartition before the checkpoints: the next round
    // joins on (d, p), so any pre-partitioning by d alone would be
    // an exchange bought for nothing
    var cur = Checkpoints.materializeFresh(gB
      .join(denseRankTuples(gB, parts, B, scratch),
        (1 to B).map(k => s"k$k"))
      .select(col("d"), col("p"), col("dl"), col("rank")))
    scratch += cur
    // octupling rounds; the FINAL round appends a (doc, pos) tiebreak
    // coordinate, so its dense rank IS the suffix-array position —
    // no separate ordering pass (equal full suffixes only ever
    // needed an arbitrary-but-deterministic adjacency order)
    var w: Long = B
    var tied = false
    while (!tied) {
      val isLast = w * 8 >= math.max(maxLen, 1).toLong
      def shifted(k: Int, as: String) = cur.select(col("d"),
        (col("p") - lit(k.toLong * w)).as("p"), col("rank").as(as))
      val paired0 = (1 to 7).foldLeft(
        cur.select(col("d"), col("p"), col("dl"),
          col("rank").as("k1"))) { (acc, k) =>
          acc.join(shifted(k, s"k${k + 1}"), Seq("d", "p"), "left")
        }
        // suffixes shorter than the shifted width sort by a marker
        // below every real rank
        .na.fill(-1L, (2 to 8).map(k => s"k$k"))
      val paired = if (!isLast) paired0
        else paired0.withColumn("k9",
          col("d") * (maxLen.toLong + 1L) + col("p"))
      val width = if (isLast) 9 else 8
      val prev = cur
      cur = Checkpoints.materializeFresh(paired
        .join(denseRankTuples(paired, parts, width, scratch),
          (1 to width).map(k => s"k$k"))
        .select(col("d"), col("p"), col("dl"), col("rank")))
      scratch += cur
      // the new round is materialized — the previous round's blocks
      // are no longer reachable from any live plan; free them now
      Checkpoints.release(prev)
      tied = isLast
      w *= 8
    }
    val indexed = cur.select(col("rank").as("idx"), col("d"),
      col("p"), col("dl"))

    // adjacent SA pairs; LCP by direct token comparison — join each
    // side's token array, one zip_with pass finds the first mismatch
    val adj = indexed.select(col("idx"), col("d").as("dA"),
        col("p").as("pA"), col("dl").as("lA"))
      .join(indexed.select((col("idx") - 1).as("idx"),
        col("d").as("dB"), col("p").as("pB"), col("dl").as("lB")),
        Seq("idx"))
      .join(dt.select(col("d").as("dA"), col("tk").as("tkA")), Seq("dA"))
      .join(dt.select(col("d").as("dB"), col("tk").as("tkB")), Seq("dB"))
    // slice starts are IntegerType; in-document positions always fit
    // (array sizes are Int) even though shift arithmetic runs long
    val sufA = slice(col("tkA"), col("pA").cast("int"),
      lit(math.max(maxLen, 1)))
    val sufB = slice(col("tkB"), col("pB").cast("int"),
      lit(math.max(maxLen, 1)))
    // zip_with pads the shorter side with null; null <=> token is
    // false, so running off one suffix's end registers as a mismatch
    val firstMiss = array_position(
      zip_with(sufA, sufB, (x, y) => x <=> y), false)
    val lcps = adj.withColumn("lcp",
      when(firstMiss > 0, firstMiss - 1)
        // no mismatch: equal whole suffixes — LCP is their length
        .otherwise(least(col("lA") - col("pA") + 1,
          col("lB") - col("pB") + 1).cast("long")))

    // ℓ(p) = max over the two adjacencies; keep only span starters
    val ell = lcps.select(col("dA").as("d"), col("pA").as("p"),
        col("lcp"))
      .union(lcps.select(col("dB").as("d"), col("pB").as("p"),
        col("lcp")))
      .groupBy(col("d"), col("p"))
      .agg(max(col("lcp")).as("ell"))
      .filter(col("ell") >= minLen)

    // gaps-and-islands span merge, per-doc window
    val wD = Window.partitionBy(col("d")).orderBy(col("p"))
    val runMax = max(col("e")).over(
      wD.rowsBetween(Window.unboundedPreceding, -1))
    val islands = ell
      .withColumn("e", col("p") + col("ell"))
      .withColumn("__new",
        when(runMax.isNull || col("p") > runMax, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wD))
    islands.groupBy(col("d"), col("__isl"))
      .agg(min(col("p")).as("s"), max(col("e")).as("e"),
        max(col("ell")).cast("long").as("span_max_ell"))
      .select(col("d").as("doc_id"), col("s").cast("long").as("s"),
        col("e").cast("long").as("e"), col("span_max_ell"))
  }
}
