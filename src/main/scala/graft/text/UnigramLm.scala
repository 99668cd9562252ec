package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SqlShims.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM tokenizer (the SentencePiece/Kudo ACL'18 family —
  * the OTHER major subword algorithm next to BPE): a piece inventory
  * with unigram scores, applied by EXACT Viterbi segmentation (the
  * minimum-cost path through the word's substring lattice), not
  * greedy merges.
  *
  * Engine-exact by construction: piece scores are quantized ONCE at
  * fit time to integer nano-nat units (floor(-ln(p)·1e6 + 0.5)), and
  * the DP minimizes the combined integer cost `units·64 + 1` per
  * piece — so the optimum is a pure integer min that cannot drift
  * between engines, and the `+1` term makes the tiebreak "fewest
  * pieces" part of the SAME min (n_pieces per word ≤ MaxWordLen < 64,
  * so the low bits never carry into the units). Two optimal paths
  * with equal (cost, n_pieces) report identically because only
  * aggregates leave the DP. The DuckDB oracle replays the identical
  * fit and a 32-layer Bellman-Ford CTE chain over the same integer
  * costs — hash equality proves the whole train→apply pipeline.
  *
  * Inventory (deterministic, corpus-derived): count every substring
  * of length 1..MaxPieceLen of every (MaxWordLen-truncated) word
  * occurrence — via the DISTINCT-word frequency table, so the explode
  * is vocabulary-sized, not corpus-sized — keep ALL single characters
  * (coverage: every word stays segmentable) plus the top
  * `TopMultiPieces` multi-character pieces by (freq DESC, piece ASC),
  * and score p(piece) = freq / Σ_selected freq. This is the
  * frequency-substring seeding step of the SentencePiece trainer; the
  * EM prune loop is orthogonal to the engine shape (same lattice, same
  * scoring joins) and a learned inventory drops into the identical
  * expression.
  *
  * Scale shape: fitting is two vocabulary-bounded aggregations (word
  * counts, then piece counts) + a TakeOrdered top-k — model-sized
  * output, collected once per (corpus, params) via the same fit-once
  * cache discipline as [[graft.sim.Similarity.trainedCentroids]].
  * Application is ONE native expression in the scan projection
  * (tokenize → per-word integer DP → account), zero exchanges —
  * 100 TB of segmentation is exactly one scan. Per-word DP cost is
  * O(MaxWordLen · MaxPieceLen) hash lookups, independent of
  * inventory size; a Zipf word cache makes it per-distinct-word.
  */
object UnigramLm {

  /** Words are truncated to this many code points before everything
    * (counting, DP, reporting) — bounds DP depth and the oracle's CTE
    * layer count. 32 also bounds per-word piece count below 64, which
    * is what lets `units·64 + 1` pack cost and piece count into one
    * integer min.
    */
  val MaxWordLen = 32
  val MaxPieceLen = 6
  val TopMultiPieces = 768

  /** One (piece, integer nll units) inventory fit. Increments
    * [[fitRunCount]] so specs can assert the cache short-circuits
    * re-fits (same discipline as Similarity.fitRunCount).
    */
  def fitInventory(docs: DataFrame,
                   textCol: String = "text"): Seq[(String, Long)] = {
    fitRunCount.incrementAndGet()
    val wf = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w0"))
      .select(substring(col("w0"), 1, MaxWordLen).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val cand = wf
      .select(explode(flatten(transform(
          sequence(lit(1), length(col("w"))), i =>
            transform(
              sequence(lit(1),
                least(lit(MaxPieceLen), length(col("w")) - i + lit(1))),
              l => col("w").substr(i, l))))).as("piece"),
        col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("freq"))
    val chars = cand.filter(length(col("piece")) === 1)
    // top-k multis plans as TakeOrderedAndProject — no global sort,
    // no single-partition window over the candidate space
    val multis = cand.filter(length(col("piece")) >= 2)
      .orderBy(col("freq").desc, col("piece").asc)
      .limit(TopMultiPieces)
    val inv = chars.unionAll(multis).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val total = inv.map(_._2).sum.toDouble
    inv.map { case (p, f) =>
      (p, math.floor(-math.log(f.toDouble / total) * 1e6 + 0.5).toLong)
    }.toSeq.sortBy(_._1)
  }

  /** Count of ACTUAL inventory fits (cache hits leave it untouched). */
  private[graft] val fitRunCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[fitInventory]] served from [[graft.model.FitCache]] — the
    * trained-tokenizer analog of Similarity.trainedCentroids: first
    * call pays the two fit aggregations; every later execution reads
    * the inventory literals with zero training jobs.
    */
  def cachedInventory(docs: DataFrame,
                      textCol: String = "text"): Seq[(String, Long)] =
    graft.model.FitCache.getOrBuild(graft.model.FitCache.Inventory, docs,
      textCol)(fitInventory(docs, textCol))

  /** struct(n_tokens, n_pieces, cost_units) per document — Viterbi
    * segmentation of every whitespace token under `inventory`.
    */
  def viterbiStats(text: Column,
                   inventory: Seq[(String, Long)]): Column =
    toColumn(UnigramViterbiStats(toExpression(text), inventory))

  case class UnigramViterbiStats(child: Expression,
                                 inventory: Seq[(String, Long)])
      extends UnaryExpression {
    require(inventory.nonEmpty, "unigramViterbi: empty inventory")
    require(inventory.map(_._1).distinct.size == inventory.size,
      "unigramViterbi: duplicate pieces make scores ambiguous")

    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_pieces", LongType, nullable = false),
      StructField("cost_units", LongType, nullable = false)))
    override def nullable: Boolean = false

    @transient private lazy val units: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](
        inventory.size * 2)
      inventory.foreach { case (p, u) =>
        m.put(p, java.lang.Long.valueOf(u))
      }
      m
    }

    /** word → packed (cost_units·64 + n_pieces), Zipf-shared across
      * tasks; bounded like BpeApply's.
      */
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

    /** Fallback cost for a single character absent from the
      * inventory. Never reachable when the inventory was fit on the
      * corpus being scored (all its characters are len-1 pieces); for
      * foreign text it keeps segmentation total instead of crashing.
      * Far larger than any real piece cost (ln p > -50 for any piece
      * with freq ≥ 1 in any conceivable corpus).
      */
    private val UnkUnits = 50000000L

    private def segment(word: String): Long = {
      val hit = cache.get(word)
      if (hit != null) return hit.longValue()
      // code points, truncated to MaxWordLen (DuckDB substr semantics)
      val cps = {
        val buf = new scala.collection.mutable.ArrayBuffer[String](
          math.min(word.length, MaxWordLen))
        var i = 0
        while (i < word.length && buf.length < MaxWordLen) {
          val cp = word.codePointAt(i)
          val n = Character.charCount(cp)
          buf += word.substring(i, i + n)
          i += n
        }
        buf
      }
      val L = cps.length
      val dp = Array.fill(L + 1)(Long.MaxValue)
      dp(0) = 0L
      var j = 1
      while (j <= L) {
        val maxL = math.min(MaxPieceLen, j)
        var l = 1
        while (l <= maxL) {
          val i0 = j - l
          if (dp(i0) != Long.MaxValue) {
            val piece = cps.slice(i0, j).mkString
            val u = units.get(piece)
            val eu = if (u != null) u.longValue()
              else if (l == 1) UnkUnits else -1L
            if (eu >= 0L) {
              val c = dp(i0) + eu * 64L + 1L
              if (c < dp(j)) dp(j) = c
            }
          }
          l += 1
        }
        j += 1
      }
      val comb = if (L == 0) 0L else dp(L)
      if (cache.size < (1 << 20))
        cache.put(word, java.lang.Long.valueOf(comb))
      comb
    }

    /** Shared by interpreted eval and codegen: the BpeApply
      * whitespace scan, accounting (tokens, pieces, cost units).
      */
    def statsOf(u: UTF8String): InternalRow = {
      val s = if (u == null) "" else u.toString
      var nTokens = 0L; var nPieces = 0L; var cost = 0L
      var i = 0
      val n = s.length
      while (i < n) {
        val c = s.charAt(i)
        if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
            c == '\f' || c == '\r') { i += 1 }
        else {
          var j = i
          while (j < n && { val d = s.charAt(j)
            !(d == ' ' || d == '\t' || d == '\n' || d == '\u000B' ||
              d == '\f' || d == '\r') }) j += 1
          val comb = segment(s.substring(i, j))
          nTokens += 1L
          nPieces += comb % 64L
          cost += comb / 64L
          i = j
        }
      }
      InternalRow(nTokens, nPieces, cost)
    }

    override def eval(input: InternalRow): Any =
      statsOf(child.eval(input).asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unigramViterbi", this,
        getClass.getName)
      val childGen = child.genCode(ctx)
      val code = code"""
        ${childGen.code}
        InternalRow ${ev.value} = $ref.statsOf(
          ${childGen.isNull} ? null : ${childGen.value});
      """
      ev.copy(code = code, isNull =
        org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }
}
