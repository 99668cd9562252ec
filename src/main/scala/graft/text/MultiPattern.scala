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

/** Multi-pattern substring scan — the blocklist/safety-wordlist gate
  * of a corpus pipeline (NSFW lists, spam markers, licensing
  * boilerplate), built as an Aho–Corasick automaton (Aho & Corasick
  * CACM'75) inside ONE native expression.
  *
  * Why not |patterns| regex/LIKE passes: a production blocklist is
  * 10k+ terms; per-pattern scans cost O(|patterns|·n) per document
  * and re-read the text each time. The automaton costs O(n + matches)
  * per document, INDEPENDENT of pattern count — the same "table rides
  * into codegen as a reference object" discipline as BpeApply's merge
  * ranks. Zero exchanges: 100 TB of blocklist screening is exactly
  * one scan.
  *
  * Semantics (mirrored by the q139 DuckDB oracle's position-explode
  * equi-join): count EVERY (pattern, occurrence) pair, overlaps and
  * nested matches included — each end position of each pattern counts
  * once (the automaton's dict-suffix counts); `n_patterns` is the
  * number of DISTINCT patterns present anywhere in the document,
  * accumulated as a 64-bit mask (patterns per expression capped at 64
  * — compose expressions for wider lists).
  *
  * Matching is exact char-sequence equality. Counting by UTF-16 char
  * positions equals counting by code-point positions: every
  * occurrence is a (start, pattern) pair, and a char index inside a
  * surrogate pair cannot start a match because no well-formed pattern
  * begins with an unpaired low surrogate.
  */
object MultiPattern {

  /** Patterns per expression (the distinct-pattern accumulator is one
    * 64-bit mask).
    */
  val MaxPatterns = 64

  /** Deterministic corpus-derived blocklist: the top `k` tokens of
    * length ≥ `minLen` code points by (freq DESC, token ASC) — the
    * q138 fit discipline (vocabulary-bounded aggregate + TakeOrdered,
    * model-sized collect). A real curated wordlist drops into the
    * same expression unchanged.
    */
  def fitPatterns(docs: DataFrame, textCol: String = "text",
                  k: Int = 48, minLen: Int = 4): Seq[String] = {
    require(k <= MaxPatterns, s"fitPatterns: k=$k > $MaxPatterns")
    fitRunCount.incrementAndGet()
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .filter(length(col("t")) >= minLen)
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t").asc)
      .limit(k)
      .collect().map(_.getString(0)).toSeq
  }

  private[graft] val fitRunCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[fitPatterns]] served from [[graft.model.FitCache]]. */
  def cachedPatterns(docs: DataFrame, textCol: String = "text",
                     k: Int = 48, minLen: Int = 4): Seq[String] =
    graft.model.FitCache.getOrBuild(graft.model.FitCache.Patterns, docs,
      textCol, k, minLen)(fitPatterns(docs, textCol, k, minLen))

  /** struct(n_hits, n_patterns) per document under `patterns`. */
  def acStats(text: Column, patterns: Seq[String]): Column =
    toColumn(AcScanStats(toExpression(text), patterns))

  case class AcScanStats(child: Expression, patterns: Seq[String])
      extends UnaryExpression {
    require(patterns.nonEmpty, "acStats: empty pattern list")
    require(patterns.size <= MaxPatterns,
      s"acStats: ${patterns.size} patterns > $MaxPatterns (the " +
        "distinct-pattern mask is one long) — compose expressions")
    require(patterns.distinct.size == patterns.size,
      "acStats: duplicate patterns double-count")
    require(patterns.forall(_.nonEmpty),
      "acStats: empty-string pattern matches everywhere")

    override def dataType: DataType = StructType(Seq(
      StructField("n_hits", LongType, nullable = false),
      StructField("n_patterns", LongType, nullable = false)))
    override def nullable: Boolean = false

    /** Automaton: goto maps, fail links, and per-node aggregated
      * (dict-suffix match count, distinct-pattern mask) — so the scan
      * does NO fail-chain walking at match time.
      */
    @transient private lazy val automaton: (Array[java.util.HashMap[Character, Integer]],
        Array[Int], Array[Long], Array[Long]) = {
      val goto = new scala.collection.mutable.ArrayBuffer[
        java.util.HashMap[Character, Integer]]()
      val cnt = new scala.collection.mutable.ArrayBuffer[Long]()
      val mask = new scala.collection.mutable.ArrayBuffer[Long]()
      def newNode(): Int = {
        goto += new java.util.HashMap[Character, Integer]()
        cnt += 0L; mask += 0L
        goto.length - 1
      }
      val root = newNode()
      patterns.zipWithIndex.foreach { case (p, pi) =>
        var s = root
        var i = 0
        while (i < p.length) {
          val c = Character.valueOf(p.charAt(i))
          val nxt = goto(s).get(c)
          s = if (nxt != null) nxt.intValue()
            else { val n = newNode(); goto(s).put(c, Integer.valueOf(n)); n }
          i += 1
        }
        cnt(s) += 1L
        mask(s) |= (1L << pi)
      }
      // BFS fail links; fold dict-suffix counts/masks into each node
      val fail = Array.fill(goto.length)(root)
      val queue = new java.util.ArrayDeque[Integer]()
      goto(root).forEach { (_, v) => queue.add(v) }
      while (!queue.isEmpty) {
        val u = queue.poll().intValue()
        cnt(u) += cnt(fail(u))
        mask(u) |= mask(fail(u))
        goto(u).forEach { (c, v) =>
          var f = fail(u)
          while (f != root && !goto(f).containsKey(c)) f = fail(f)
          val t = goto(f).get(c)
          fail(v) = if (t != null && t.intValue() != v.intValue())
            t.intValue() else root
          queue.add(v)
        }
      }
      (goto.toArray, fail, cnt.toArray, mask.toArray)
    }

    def statsOf(u: UTF8String): InternalRow = {
      val (goto, fail, cnt, mask) = automaton
      val s = if (u == null) "" else u.toString
      var state = 0
      var hits = 0L
      var seen = 0L
      var i = 0
      while (i < s.length) {
        val c = Character.valueOf(s.charAt(i))
        var nxt = goto(state).get(c)
        while (nxt == null && state != 0) {
          state = fail(state)
          nxt = goto(state).get(c)
        }
        state = if (nxt != null) nxt.intValue() else 0
        hits += cnt(state)
        seen |= mask(state)
        i += 1
      }
      InternalRow(hits, java.lang.Long.bitCount(seen).toLong)
    }

    override def eval(input: InternalRow): Any =
      statsOf(child.eval(input).asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("acScanStats", this,
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
