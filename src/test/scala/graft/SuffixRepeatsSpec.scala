package graft

import graft.dedup.SuffixRepeats
import graft.model.FitCache

/** Suffix-array exact-substring repeats (r6 verdict item 4): true
  * arbitrary-length span semantics — the Lee et al. ACL'22 "≥ L-token
  * verbatim duplication" guarantee — differentially tested against a
  * brute-force O(n²·len) reference, plus the planted-200-token-repeat
  * case that fixed 32-grams fragment.
  */
class SuffixRepeatsSpec extends SparkSpec {
  import spark.implicits._

  private def df(docs: Seq[(Long, Seq[String])]) =
    docs.toDF("doc_id", "tokens")

  /** Brute force: ℓ(p) = max LCP of (d,p) with every other suffix;
    * then the same interval-union span semantics, in plain Scala.
    */
  private def reference(docs: Seq[(Long, Seq[String])], minLen: Int)
      : Map[Long, (Long, Long, Long)] = {
    val sufs = for ((d, tk) <- docs; p <- 1 to tk.size)
      yield (d, p, tk.drop(p - 1))
    def lcp(a: Seq[String], b: Seq[String]): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val ells = sufs.map { case (d, p, s) =>
      val best = sufs.iterator
        .filter { case (d2, p2, _) => (d2, p2) != (d, p) }
        .map { case (_, _, s2) => lcp(s, s2) }
        .foldLeft(0)(math.max)
      (d, p, best)
    }.filter(_._3 >= minLen)
    ells.groupBy(_._1).map { case (d, ps) =>
      val iv = ps.sortBy(_._2)
      var spans = List.empty[(Int, Int)] // (start, end)
      iv.foreach { case (_, p, e) =>
        val end = p + e
        spans match {
          case (s0, e0) :: rest if p <= e0 =>
            spans = (s0, math.max(e0, end)) :: rest
          case _ => spans = (p, end) :: spans
        }
      }
      d -> ((spans.size.toLong,
        spans.map(s => s._2 - s._1).sum.toLong,
        ps.map(_._3).max.toLong))
    }
  }

  private def run(docs: Seq[(Long, Seq[String])], minLen: Int)
      : Map[Long, (Long, Long, Long)] =
    SuffixRepeats.repeatedSpans(df(docs), minLen, parts = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3))))
      .toMap

  test("a planted 200-token verbatim repeat reports its TRUE extent") {
    // the case 32-grams fragment (Lee et al. §4: arbitrary-length
    // repeats ≥ 50 tokens): R has 200 DISTINCT tokens; doc 1 carries
    // prefix+R, doc 2 carries R+suffix — each must report exactly one
    // span of length 200, not a pile of gram windows
    val r = (1 to 200).map(i => s"r$i")
    val doc1 = 1L -> ((1 to 30).map(i => s"a$i") ++ r)
    val doc2 = 2L -> (r ++ (1 to 40).map(i => s"b$i"))
    val doc3 = 3L -> (1 to 60).map(i => s"c$i") // no repeats
    val got = run(Seq(doc1, doc2, doc3), minLen = 50)
    assert(got == Map(
      1L -> ((1L, 200L, 200L)),
      2L -> ((1L, 200L, 200L))))
  }

  test("fuzz: equals the brute-force reference on a repeat-rich corpus") {
    val rnd = new scala.util.Random(77)
    val vocab = Vector("x", "y", "z", "w") // tiny vocab => repeats abound
    val docs = (0L until 12L).map { d =>
      d -> Seq.fill(5 + rnd.nextInt(26))(vocab(rnd.nextInt(vocab.size)))
    }
    for (minLen <- Seq(3, 5, 8)) {
      val got = run(docs, minLen)
      val want = reference(docs, minLen)
      assert(got == want, s"minLen=$minLen: $got vs $want")
    }
  }

  test("exact-duplicate docs are fully covered; unrelated docs absent") {
    val shared = (1 to 60).map(i => s"s$i")
    val got = run(Seq(10L -> shared, 11L -> shared,
      12L -> (1 to 55).map(i => s"u$i")), minLen = 50)
    assert(got == Map(
      10L -> ((1L, 60L, 60L)),
      11L -> ((1L, 60L, 60L))))
  }

  test("repeats shorter than minLen are excluded; within-doc repeats count") {
    // one doc containing the same 20-token block twice, separated
    val blk = (1 to 20).map(i => s"k$i")
    val doc = 5L -> (blk ++ Seq("sep1", "sep2", "sep3") ++ blk)
    assert(run(Seq(doc), minLen = 21).isEmpty)
    val got = run(Seq(doc), minLen = 20)
    assert(got == Map(5L -> ((2L, 40L, 20L))))
  }

  test("SA index is fit-once: identical corpus plan skips the build") {
    val docs = Seq(1L -> Seq("a", "b", "c", "a", "b", "c", "a", "b"),
      2L -> Seq("a", "b", "c", "d"))
    val frame = df(docs)
    val first = SuffixRepeats.repeatedSpans(frame, 2, parts = 4)
      .collect().map(_.toSeq).toSet
    val before = FitCache.builds(FitCache.SpanIndex)
    val again = SuffixRepeats.repeatedSpans(frame, 2, parts = 4)
      .collect().map(_.toSeq).toSet
    assert(FitCache.builds(FitCache.SpanIndex) == before,
      "identical corpus plan re-ran the SA build")
    assert(again == first)
    // different params miss the cache (and count a build)
    SuffixRepeats.repeatedSpans(frame, 3, parts = 4).collect()
    assert(FitCache.builds(FitCache.SpanIndex) == before + 1)
  }

  test("empty and single-token docs are handled") {
    val got = run(Seq(1L -> Seq.empty[String], 2L -> Seq("only"),
      3L -> Seq("only")), minLen = 1)
    // "only" repeats across docs 2 and 3 (length-1 span each)
    assert(got == Map(2L -> ((1L, 1L, 1L)), 3L -> ((1L, 1L, 1L))))
  }
}
