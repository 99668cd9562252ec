package graft

import graft.dedup.{Dedup, SuffixRepeats}
import graft.model.{Checkpoints, FitCache}

/** Reliable-checkpoint mode (r7 verdict item 3): with
  * `graft.checkpoint.dir` set, every fixpoint/index lineage
  * truncation becomes a reliable `df.checkpoint` against that
  * directory — executor-loss-safe on a real cluster — and results
  * are BIT-IDENTICAL to the default localCheckpoint mode.
  */
class CheckpointModeSpec extends SparkSpec {
  import spark.implicits._

  private def ckDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft-ck")

  private def filesUnder(p: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally s.close()
  }

  private def withReliable[A](dir: String)(body: => A): A = {
    spark.conf.set(Checkpoints.DirConf, dir)
    try body finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("suffix-array spans are bit-identical in reliable mode") {
    val rnd = new scala.util.Random(19)
    val vocab = Vector("x", "y", "z", "w")
    val docs = (0L until 10L).map { d =>
      d -> Seq.fill(8 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
    }
    val frame = docs.toDF("doc_id", "tokens")
    // different `parts` values key separate fit-once entries, so the
    // second call really rebuilds — under the reliable conf
    val local = SuffixRepeats.repeatedSpans(frame, 3, parts = 4)
      .collect().map(_.toSeq).toSet
    val dir = ckDir()
    val reliable = withReliable(dir.toString) {
      val before = FitCache.builds(FitCache.SpanIndex)
      val r = SuffixRepeats.repeatedSpans(frame, 3, parts = 5)
        .collect().map(_.toSeq).toSet
      assert(FitCache.builds(FitCache.SpanIndex) == before + 1,
        "reliable-mode call must have actually rebuilt")
      r
    }
    assert(reliable == local)
    assert(filesUnder(dir) > 0,
      "reliable mode must have written checkpoint files")
  }

  test("CC label propagation is bit-identical in reliable mode") {
    // two components, one via a chain (exercises several rounds).
    // r13: the below-threshold union-find path has NO fixpoint loop
    // and keeps full lineage (persist, not checkpoint), so reliable
    // mode has nothing to write there and nothing to lose on executor
    // failure; the file assertion therefore forces the DISTRIBUTED
    // loop, whose per-round truncations are what reliable mode exists
    // for.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    def run() = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 1L), (10L, 10L), (11L, 10L), (12L, 10L))
    val local = run()
    assert(local == expected)
    val dir = ckDir()
    spark.conf.set("graft.cc.localEdgeMax", "0")
    val reliable = try withReliable(dir.toString) { run() }
      finally spark.conf.unset("graft.cc.localEdgeMax")
    assert(reliable == local)
    assert(filesUnder(dir) > 0,
      "reliable mode must have written checkpoint files")
  }

  test("BPE learning is bit-identical in reliable mode, and " +
      "superseded round checkpoints are deleted (r8 ADVICE 5)") {
    val docs = Seq((1L, "aa ab aa ab aa cd cd"),
      (2L, "aa ab cd ee ee ee")).toDF("doc_id", "text")
    val local = graft.text.BpeLearn.learnMerges(docs, nMerges = 4)
    val dir = ckDir()
    val reliable = withReliable(dir.toString) {
      graft.text.BpeLearn.learnMerges(docs, nMerges = 4)
    }
    assert(reliable == local)
    // reliable mode engaged: setCheckpointDir created its app subdir
    val subdirs = {
      val s = java.nio.file.Files.list(dir)
      try s.count() finally s.close()
    }
    assert(subdirs > 0, "reliable mode must have used the directory")
    // every BPE round's checkpoint is superseded by the next and the
    // merge list outlives them all as driver data — release() must
    // have DELETED each round's files, or a real cluster accumulates
    // one directory per merge round for the app lifetime
    assert(filesUnder(dir) == 0,
      s"superseded round checkpoints must be deleted, found " +
        s"${filesUnder(dir)} files")
  }

  test("release() is a no-op on frames derived from a checkpoint " +
      "(r8 ADVICE 1: shared leaves must never be unpersisted)") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val ck = Checkpoints.materialize(base)
    val derived = ck.filter($"id" > 1L) // shares ck's LogicalRDD leaf
    Checkpoints.release(derived)        // must NOT touch the leaf
    // the shared checkpoint must still be readable after the call
    assert(ck.count() == 3L && derived.count() == 2L)
    Checkpoints.release(ck)             // the real release still works
  }
}
