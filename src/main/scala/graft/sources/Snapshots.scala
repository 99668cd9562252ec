package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot / canonical-history storage (S4-S6, S9;
  * `src/ingestion.py:121-142`, `widgets_ui.py:107-121`).
  *
  * The reference writes timestamped CSV snapshots and maintains an
  * append-only canonical CSV via read-concat-rewrite. At scale the
  * rewrite is O(history) per batch — the engine's canonical table is
  * instead parquet `mode("append")` (O(batch)), which preserves the
  * reference's append-only event-log semantics (`docs/README.md:40`)
  * while staying safe under concurrent readers.
  */
object Snapshots {

  /** S4: timestamped snapshot directory (parquet; `format="csv"` for
    * byte-parity with the reference's files).
    */
  def writeSnapshot(df: DataFrame, baseDir: String, market: String,
                    batchTs: String, format: String = "parquet"): String = {
    val path = s"$baseDir/odds_${market}_$batchTs"
    val w = df.write.mode("overwrite")
    (if (format == "csv") w.option("header", "true") else w)
      .format(format).save(path)
    path
  }

  /** S5/U1: append a batch to the canonical history table. */
  def appendCanonical(df: DataFrame, canonicalPath: String): Unit =
    df.write.mode("append").parquet(canonicalPath)

  /** S6: read the canonical history. */
  def readCanonical(spark: SparkSession, canonicalPath: String): DataFrame =
    spark.read.parquet(canonicalPath)

  /** Latest snapshot per key from the canonical history (the upsert
    * view over the append-only log): keeps the row with the max
    * `tsCol` per key. `tieBreak` columns pin the survivor when two
    * appended batches share a timestamp for a key (row_number over a
    * tie is otherwise partitioning-dependent, like every unpinned
    * argmax — SURVEY §7.4).
    *
    * Partitioning contract: `keyCols` go coarsest first, and the
    * output is hash-partitioned on `keyCols.head` alone. The history
    * shuffles once on that column; the same hash satisfies the
    * finer `keyCols` window here and every later window or aggregate
    * whose keys include it (for the odds keys: Devig's
    * `(game_id, bookmaker)`, `parseMarket`'s `(game_id, outcome)`,
    * `Arb.summary`'s per-game margins), so none of them shuffles
    * again. `QueriesCore.oddsBase` takes the same one-coarse-shuffle
    * shape.
    */
  def latest(history: DataFrame, keyCols: Seq[String], tsCol: String,
             tieBreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "latest: keyCols must name at least one column")
    val ordering = col(tsCol).desc +: tieBreak.map(col(_).desc)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(ordering: _*)
    history.repartition(col(keyCols.head))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** S9: CSV export of an enriched table (`widgets_ui.py:119-121`). */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Compaction for the append-only canonical log: rewrite the table
    * to latest-per-key only. At scale the append-only history grows
    * without bound and every `latest` view pays a window over the full
    * log; periodic compaction bounds that cost while `latest` semantics
    * stay identical. Writes to a temp sibling, then swaps it in with
    * two renames: the live table moves aside, then the temp takes its
    * place. A reader never sees a half-written table, but between the
    * two renames it sees NO table at `canonicalPath` — a read there
    * fails. `keyCols` follow [[latest]]'s contract (coarsest first);
    * each written file holds whole `keyCols.head` groups, the hash
    * partitions of that one shuffle.
    */
  def compact(spark: SparkSession, canonicalPath: String,
              keyCols: Seq[String], tsCol: String,
              tieBreak: Seq[String] = Nil): Unit = {
    val compacted = latest(readCanonical(spark, canonicalPath),
      keyCols, tsCol, tieBreak)
    val tmpPath = canonicalPath + "__compact_tmp"
    compacted.write.mode("overwrite").parquet(tmpPath)
    val dst = new org.apache.hadoop.fs.Path(canonicalPath)
    // the path's own filesystem, not the default one (canonicalPath
    // may be on a non-default scheme)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(canonicalPath + "__compact_bak")
    // two renames instead of delete+rename: the unreadable window
    // shrinks to one rename, and a crash leaves the data recoverable
    // at __compact_bak rather than gone. (True atomic swap needs a
    // table format with a metadata pointer — out of scope here.)
    fs.delete(bak, true)
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"compact: cannot move $dst aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmpPath), dst)) {
      fs.rename(bak, dst) // restore
      throw new java.io.IOException(s"compact: cannot publish $tmpPath")
    }
    fs.delete(bak, true)
  }

  /** Bucketed + sorted managed table: the at-scale layout for the
    * canonical history. Repeated joins/aggregations on the bucket key
    * (game, player, fingerprint) skip their shuffle entirely — two
    * tables bucketed the same way sort-merge-join with zero exchanges,
    * which at 100 TB is the difference between a nightly job and an
    * interactive one.
    */
  def writeBucketedTable(df: DataFrame, table: String, key: String,
                         buckets: Int = 32): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
}
