package graft.model

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** A marker-committed versioned table: the one publish protocol of the
  * engine's stream stores (`graft.streaming.StreamingIngest`).
  *
  * Version `id` lives at `<root>/<dir>/<key>=<id>` and is committed by
  * the empty file `<root>/<markers>/<id>`. A table may sit over a series
  * of BASES (`base`), each folding every delta up to its own id, so a
  * reader needs only the highest committed base plus later deltas.
  *
  * Why it is crash-safe:
  *  - [[commit]] writes to `<dir>/__tmp_<key>_<id>`, renames that one
  *    directory to `<dir>/<key>=<id>`, then writes the marker: the
  *    marker is the COMMIT POINT.
  *  - Readers ([[ids]], [[read]], [[overlay]]) resolve only committed
  *    versions, so a crash before the marker leaves only orphans that
  *    no reader sees.
  *  - A replay of the id deletes the orphans and publishes again; a
  *    caller that derives the version from committed state alone gets
  *    the identical version back. A replay of a committed id returns
  *    at the marker check, so a version publishes exactly once.
  *  - [[gc]] deletes only what the highest committed base supersedes,
  *    which readers never resolve. Markers stay: replays check them.
  *
  * One writer owns a root; readers may run beside it.
  */
private[graft] final class VersionedTable(spark: SparkSession, root: String,
                                          markers: String, dir: String,
                                          private val key: String,
                                          base: Option[VersionedTable] = None) {

  private val rootPath = new Path(root)
  private val fs =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val dirPath = if (dir.isEmpty) rootPath else new Path(rootPath, dir)

  /** Where version `id`'s data lives once published. */
  def path(id: Long): String = new Path(dirPath, s"$key=$id").toString

  /** The committed version ids, ascending. */
  def ids: Seq[Long] = {
    val m = new Path(rootPath, markers)
    if (!fs.exists(m)) Nil
    else fs.listStatus(m).toSeq
      .flatMap(_.getPath.getName.toLongOption).sorted
  }

  /** Publish version `id`: `write` fills the directory it is given.
    * `afterPublish` runs inside the torn window, after the rename and
    * before the marker (a test seam for crash injection).
    */
  def commit(id: Long, afterPublish: () => Unit = () => ())
            (write: String => Unit): Unit = {
    val marker = new Path(rootPath, s"$markers/$id")
    if (fs.exists(marker)) return
    val dest = new Path(path(id))
    val tmp = new Path(dirPath, s"__tmp_${key}_$id")
    fs.delete(dest, true)
    fs.delete(tmp, true)
    write(tmp.toString)
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"cannot publish $tmp -> $dest")
    afterPublish()
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** The committed data among the versions `only` admits, as
    * (version, path) oldest first: the highest committed base, if
    * `only` admits it, then the committed deltas past it. `baseData`
    * names the base's data inside its directory; a base without it
    * contributes no path (an index seed holds centroids only).
    */
  def read(only: Long => Boolean = _ => true,
           baseData: String = ""): Seq[(Long, String)] = {
    val b = base.flatMap(_.ids.lastOption).filter(only)
    val baseParts = for {
      t <- base.toSeq; v <- b.toSeq
      p = if (baseData.isEmpty) t.path(v) else s"${t.path(v)}/$baseData"
      if fs.exists(new Path(p))
    } yield v -> p
    baseParts ++
      ids.filter(i => only(i) && b.forall(i > _)).map(i => i -> path(i))
  }

  /** Latest wins per `keys`: one row per key, from the highest version
    * in [[read]] that holds it.
    */
  def overlay(keys: Seq[String],
              only: Long => Boolean = _ => true): DataFrame = {
    val parts = read(only).map { case (v, p) =>
      spark.read.parquet(p).withColumn("__version", lit(v))
    }
    require(parts.nonEmpty, s"overlay: no committed versions under $root")
    graft.sources.Snapshots.latest(parts.reduce(_ unionByName _), keys,
      "__version").drop("__version")
  }

  /** Prune what the highest committed base supersedes: the deltas it
    * folded (id ≤ base), older bases, and torn `__tmp_*` directories.
    * A no-op before the first base. Returns the pruned paths.
    */
  def gc(): Seq[String] = (for (t <- base; v <- t.ids.lastOption) yield {
    val olderBases = t.listing.filter { p =>
      val n = p.getName
      n.startsWith(s"${t.key}=") &&
        n.stripPrefix(s"${t.key}=").toLongOption.exists(_ < v)
    }
    val torn = (listing ++ t.listing).filter(_.getName.startsWith("__tmp_"))
    (ids.filter(_ <= v).map(i => new Path(path(i))) ++ olderBases ++ torn)
      .filter(fs.exists).map { p => fs.delete(p, true); p.toString }
  }).getOrElse(Nil)

  private def listing: Seq[Path] =
    if (!fs.exists(dirPath)) Nil
    else fs.listStatus(dirPath).toSeq.map(_.getPath)
}
