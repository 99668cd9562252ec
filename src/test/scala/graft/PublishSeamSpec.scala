package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sim.Similarity
import graft.streaming.StreamingIngest

/** A crash inside the torn window of every publish site of the stream
  * stores (after the data is in place, before its marker), then a
  * replay. For each site: readers see nothing of the torn publish, the
  * replay equals a run that never crashed, and a second replay changes
  * no file.
  */
class PublishSeamSpec extends SparkSpec {
  import spark.implicits._

  /** One publish site. Under a fresh directory `dir`, `setup` commits
    * the state the site publishes onto and `publish` runs the site with
    * a torn-window seam. `view` is what the store's readers serve, with
    * no path in it, or None while they refuse to serve; `root` is the
    * store the site publishes to (its canonical commit, if any, comes
    * first and is not part of the torn window).
    */
  private case class Site(name: String, setup: String => Unit,
                          publish: (String, () => Unit) => Unit,
                          view: String => Option[Any],
                          root: String => String = store)

  private val noSeam: () => Unit = () => ()
  private val crash: () => Unit =
    () => throw new IllegalStateException("injected crash in torn window")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def served(read: => DataFrame): Option[Any] =
    Try(rows(read)).toOption

  // the marker directories of every store layout
  private val markerDirs = Set("_txn", "_done", "_basedone", "_ivfbase")

  private def walk(dir: String): Seq[JPath] =
    if (!Files.exists(java.nio.file.Paths.get(dir))) Nil
    else {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.toList finally s.close()
    }

  private def rel(dir: String, p: JPath): String =
    java.nio.file.Paths.get(dir).relativize(p).toString

  /** The committed markers of the store at `dir`. */
  private def markers(dir: String): Set[String] = walk(dir).filter { p =>
    Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc") &&
      markerDirs(p.getParent.getFileName.toString)
  }.map(rel(dir, _)).toSet

  /** Every file under `dir` with its size and modification time. */
  private def files(dir: String): Map[String, (Long, Long)] = walk(dir)
    .filter(Files.isRegularFile(_))
    .map(p => rel(dir, p) ->
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap

  private def check(site: Site): Unit = {
    def view(dir: String) = (site.view(dir), markers(site.root(dir)))
    val clean = Files.createTempDirectory("graft_seam_clean").toString
    site.setup(clean)
    site.publish(clean, noSeam)
    val want = view(clean)
    val dir = Files.createTempDirectory("graft_seam").toString
    site.setup(dir)
    val before = view(dir)
    assert(before != want, "the publish changes nothing a reader sees")
    val untouched = files(dir)
    val ex = intercept[IllegalStateException](site.publish(dir, crash))
    assert(ex.getMessage.contains("injected crash"))
    assert(files(dir) != untouched, "the seam fired before any data landed")
    assert(view(dir) == before, "readers saw the torn publish")
    site.publish(dir, noSeam)
    assert(view(dir) == want, "the replay differs from a run with no crash")
    val replayed = files(dir)
    site.publish(dir, noSeam)
    assert(files(dir) == replayed, "a second replay rewrote files")
    assert(view(dir) == want)
  }

  private def docs(rs: (Long, String)*): DataFrame = rs.toDF("doc_id", "text")
  private val novel0 = "an entirely different sentence about market odds " +
    "and bookmakers quoting prices on the same game tonight"
  private val repeat = "the quick brown fox jumps over the lazy dog near " +
    "the river bank while the farmer watches from his porch"
  private val novel1 = "fresh material on a new topic with its own " +
    "distinct vocabulary spread over enough words to shingle"
  private val batch0 = docs(0L -> repeat, 1L -> novel0)
  private val batch1 = docs(2L -> repeat, 3L -> novel1)
  // label cycles: {0, 1} cluster, then 10 joins it and 11 stays single
  private val labels0 = docs(0L -> "same text here", 1L -> "same text here",
    2L -> "other words entirely")
  private val labels1 = docs(10L -> "same text here", 11L -> "unrelated again")

  private val chunker: DataFrame => DataFrame = d => d.select(
    col("doc_id"), lit(0).cast("int").as("chunk_idx"),
    size(split(col("text"), " ")).cast("long").as("n_chunk_tokens"),
    md5(col("text")).as("chunk_hash"))

  private def vecs(from: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(from)
    (from until from + n).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }
  private val cents = Similarity.gridCentroids(4, 8)

  private def canon(dir: String) = s"$dir/canonical"
  private def store(dir: String) = s"$dir/store"

  private def shards(dir: String, b: DataFrame, id: Long,
                     seam: () => Unit) =
    StreamingIngest.commitBatchWithDirtyShards(b, canon(dir), id,
      store(dir), chunker, capacity = 4, buckets = 4, afterPublish = seam)
  private def fullLabels(dir: String, b: DataFrame, id: Long,
                         seam: () => Unit) =
    StreamingIngest.commitBatchWithClusterLabels(b, canon(dir), id,
      store(dir), "doc_id", "text", 3, seam)
  private def deltaLabels(dir: String, b: DataFrame, id: Long,
                          seam: () => Unit) =
    StreamingIngest.commitBatchWithClusterLabelDeltas(b, canon(dir), id,
      store(dir), "doc_id", "text", 3, seam)
  private def ivf(dir: String, b: DataFrame, id: Long, seam: () => Unit) =
    StreamingIngest.commitBatchWithIvfAssignments(b, canon(dir), id,
      store(dir), "vec_id", "embedding", seam)
  private def seed(dir: String, seam: () => Unit) =
    StreamingIngest.seedIvfIndex(spark, store(dir), cents, seam)

  private def canonicalView(dir: String) =
    served(StreamingIngest.readCanonicalCommitted(spark, canon(dir)))
  private def overlayView(dir: String) =
    served(StreamingIngest.readClusterLabelsOverlay(spark, store(dir)))
  private def ivfView(dir: String) = Try {
    val (cs, assigned) = StreamingIngest.readIvfServing(spark, store(dir))
    (cs.map(_.map(x => math.round(x * 1e9)).toSeq), rows(assigned))
  }.toOption

  private val sites = Seq(
    Site("canonical",
      dir => StreamingIngest.commitBatch(batch0, canon(dir), 0L),
      (dir, seam) => StreamingIngest.commitBatch(batch1, canon(dir), 1L,
        seam),
      canonicalView, canon),
    Site("gated canonical",
      dir => StreamingIngest.commitBatch(StreamingIngest.gateBatch(batch0,
        canon(dir), "doc_id", "text", 0.5), canon(dir), 0L),
      (dir, seam) => StreamingIngest.commitBatch(StreamingIngest.gateBatch(
        batch1, canon(dir), "doc_id", "text", 0.5), canon(dir), 1L, seam),
      canonicalView, canon),
    Site("dirty shards",
      dir => shards(dir, batch0, 0L, noSeam),
      (dir, seam) => shards(dir, batch1, 1L, seam),
      dir => served(
        StreamingIngest.readDirtyShardDeltas(spark, store(dir)))),
    Site("full cluster labels",
      dir => fullLabels(dir, labels0, 0L, noSeam),
      (dir, seam) => fullLabels(dir, labels1, 1L, seam),
      dir => served(StreamingIngest.readClusterLabels(spark, store(dir)))),
    Site("delta cluster labels",
      dir => deltaLabels(dir, labels0, 0L, noSeam),
      (dir, seam) => deltaLabels(dir, labels1, 1L, seam),
      overlayView),
    Site("label compaction",
      dir => {
        deltaLabels(dir, labels0, 0L, noSeam)
        deltaLabels(dir, labels1, 1L, noSeam)
      },
      (dir, seam) =>
        StreamingIngest.compactClusterLabels(spark, store(dir), seam),
      overlayView),
    Site("IVF delta",
      dir => { seed(dir, noSeam); ivf(dir, vecs(0, 40), 0L, noSeam) },
      (dir, seam) => ivf(dir, vecs(40, 40), 1L, seam),
      ivfView),
    Site("IVF refresh",
      dir => {
        seed(dir, noSeam)
        ivf(dir, vecs(0, 40), 0L, noSeam)
        ivf(dir, vecs(40, 40), 1L, noSeam)
      },
      // occupancy bound 0: every occupied cell is dirty and refits
      (dir, seam) => StreamingIngest.refreshIvfServing(spark, store(dir),
        0L, -1.0, "vec_id", "embedding", seam),
      ivfView),
    Site("IVF seed", _ => (), (dir, seam) => seed(dir, seam), ivfView))

  sites.foreach { site =>
    test(s"crash in the ${site.name} torn window: invisible, replay == " +
        "clean run, second replay a no-op") {
      val t0 = System.nanoTime()
      check(site)
      info(f"${site.name}: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }
}
