package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.dedup.Dedup
import graft.model.{Artifacts, Schemas, VersionedTable}

/** Structured-Streaming ingestion (capability parity + upgrade for the
  * reference's poll-and-append loop, SURVEY §2.11).
  *
  * The reference polls the odds API and appends CSV snapshots
  * (`src/ingestion.py:144-148`); the streaming-native form is a file
  * source over a landing directory feeding an append sink on the
  * canonical table — same event-log semantics, incremental execution,
  * exactly-once via checkpointing.
  *
  * Every store publishes through [[graft.model.VersionedTable]], whose
  * doc carries the crash argument. A store's doc says what goes under
  * its marker and what "before" is: the committed state, never
  * including the batch being published, that a replay recomputes from.
  */
object StreamingIngest {

  // The stores' on-disk layouts; fixed, so existing tables stay readable
  private def canonical(spark: SparkSession, root: String) =
    new VersionedTable(spark, root, "_txn", "", "batch")
  private def cycles(spark: SparkSession, root: String, dir: String = "") =
    new VersionedTable(spark, root, "_done", dir, "batch")
  private def labelBases(spark: SparkSession, root: String) =
    new VersionedTable(spark, root, "_basedone", "base", "version")
  private def labelDeltas(spark: SparkSession, root: String) =
    new VersionedTable(spark, root, "_done", "delta", "batch",
      Some(labelBases(spark, root)))
  private def ivfBases(spark: SparkSession, root: String) =
    new VersionedTable(spark, root, "_ivfbase", "base", "upto")
  private def ivfDeltas(spark: SparkSession, root: String) =
    new VersionedTable(spark, root, "_done", "delta", "batch",
      Some(ivfBases(spark, root)))

  /** Every committed version of `t` as one frame. */
  private def load(spark: SparkSession, t: VersionedTable,
                   empty: String): DataFrame = {
    val parts = t.read().map(_._2)
    require(parts.nonEmpty, empty)
    spark.read.parquet(parts: _*)
  }

  /** An AvailableNow append stream that hands each micro-batch to `f`. */
  private def sink(df: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, batchId: Long) => f(batch, batchId))

  /** Landing-directory JSON stream of nested odds-API games. */
  def readOddsStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream
      .schema(Schemas.oddsSchema)
      .option("maxFilesPerTrigger", 8)
      .json(landingDir)

  /** Canonical append sink with checkpointing. */
  def toCanonical(df: DataFrame, canonicalPath: String,
                  checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", canonicalPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Exactly-once canonical sink (r5 verdict item 8): each micro-batch
    * publishes as `batch=<id>` under `_txn/<id>`, read back through
    * [[readCanonicalCommitted]]. Unlike Spark's `_spark_metadata`, the
    * tiny `_txn` listing keeps the table readable by ANY parquet reader.
    */
  def toCanonicalExactlyOnce(df: DataFrame, canonicalPath: String,
                             checkpoint: String): DataStreamWriter[Row] =
    sink(df, checkpoint)(commitBatch(_, canonicalPath, _))

  /** One transactional batch publish; `afterPublish` is the torn-window
    * seam ([[graft.model.VersionedTable.commit]]).
    */
  private[graft] def commitBatch(batch: DataFrame, canonicalPath: String,
                                 batchId: Long,
                                 afterPublish: () => Unit = () => ())
      : Unit =
    canonical(batch.sparkSession, canonicalPath).commit(batchId,
      afterPublish)(batch.write.mode("overwrite").parquet(_))

  /** [[toCanonicalExactlyOnce]] behind a near-dup admission gate (r6,
    * q126's [[graft.dedup.Dedup.incrementalNearDup]]): exact-dedup
    * WITHIN the batch (first id per fingerprint), drop every survivor
    * whose best LSH match in the history clears `threshold`, publish
    * the rest. "Before" — the history — is [[readCanonicalCommitted]]:
    * a torn batch is not history, so a replay re-gates against what the
    * failed attempt saw and keeps its own rows. Near-dups WITHIN one
    * batch both admit by design (q50's clustering pass handles them).
    */
  def toCanonicalGatedExactlyOnce(df: DataFrame, canonicalPath: String,
                                  checkpoint: String,
                                  idCol: String = "doc_id",
                                  textCol: String = "text",
                                  threshold: Double = 0.5)
      : DataStreamWriter[Row] =
    sink(df, checkpoint) { (batch, batchId) =>
      commitBatch(gateBatch(batch, canonicalPath, idCol, textCol,
        threshold), canonicalPath, batchId)
    }

  /** The admission gate for one micro-batch, evaluated lazily inside
    * commitBatch's write: a committed replay lists the history only.
    */
  private[graft] def gateBatch(batch: DataFrame, canonicalPath: String,
                               idCol: String, textCol: String,
                               threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    val inBatch = batch
      .withColumn("__fp", graft.text.TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
    readCanonicalCommittedOpt(batch.sparkSession, canonicalPath) match {
      case None => inBatch
      case Some(hist) =>
        val rejects = graft.dedup.Dedup.incrementalNearDup(
          inBatch, hist.select(col(idCol), col(textCol)),
          idCol = idCol, textCol = textCol, threshold = threshold)
        inBatch.join(rejects.select(col(idCol)), Seq(idCol), "left_anti")
    }
  }

  /** Streaming release-manifest maintenance (r12): per micro-batch,
    * [[commitBatch]], then publish as `deltaPath/batch=<id>` under
    * `_done/<id>` the [[graft.operators.Release.dirtyShards]] between
    * the [[graft.operators.Release.manifest]]s before and after it,
    * over ONLY the buckets the batch touched. "Before" is the committed
    * canonical batches minus this one. Untouched buckets are PROVABLY
    * clean (the manifest is per-bucket independent), so they never
    * appear in a delta or re-hash.
    *
    * @param chunker (idCol, textCol) docs → (doc_id, chunk_idx,
    *                n_chunk_tokens, chunk_hash) chunk rows — the same
    *                chunking the release pipeline uses (q51's shape)
    */
  def toCanonicalWithDirtyShards(df: DataFrame, canonicalPath: String,
                                 checkpoint: String, deltaPath: String,
                                 chunker: DataFrame => DataFrame,
                                 capacity: Int, buckets: Int)
      : DataStreamWriter[Row] =
    sink(df, checkpoint)(commitBatchWithDirtyShards(_, canonicalPath, _,
      deltaPath, chunker, capacity, buckets))

  private[graft] def commitBatchWithDirtyShards(
      batch: DataFrame, canonicalPath: String, batchId: Long,
      deltaPath: String, chunker: DataFrame => DataFrame,
      capacity: Int, buckets: Int,
      afterPublish: () => Unit = () => ()): Unit = {
    import graft.operators.Release
    import graft.sampling.Packing
    val spark = batch.sparkSession
    commitBatch(batch, canonicalPath, batchId) // idempotent
    cycles(spark, deltaPath).commit(batchId, afterPublish) { out =>
      val canon = canonical(spark, canonicalPath)
      val committedIds = canon.ids
      val beforeIds = committedIds.filter(_ != batchId)
      // touched buckets: a ≤`buckets`-element list — driver-safe
      val touched = spark.read.parquet(canon.path(batchId))
        .select(pmod(col("doc_id"), lit(buckets)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      def manifestOf(ids: Seq[Long]): DataFrame = {
        val slice = spark.read.parquet(ids.map(canon.path): _*)
          .filter(pmod(col("doc_id"), lit(buckets)).cast("int")
            .isin(touched: _*))
        Release.manifest(
          Packing.packSequences(chunker(slice), capacity, buckets))
      }
      val m1 = manifestOf(committedIds)
      val m0 =
        if (beforeIds.isEmpty) m1.filter(lit(false)) // cold start
        else manifestOf(beforeIds)
      Release.dirtyShards(m0, m1)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** Streaming cluster-label maintenance (r13), full-republish form:
    * each label cycle ([[commitLabelCycle]]) merges the batch's edges
    * into the prior label table ([[graft.dedup.Dedup.mergeClusters]])
    * and publishes all of it as `labelsPath/batch=<id>`: a
    * batch-proportional probe, but a corpus-sized WRITE, which
    * [[toCanonicalWithClusterLabelDeltas]] avoids.
    */
  def toCanonicalWithClusterLabels(df: DataFrame, canonicalPath: String,
                                   checkpoint: String,
                                   labelsPath: String,
                                   idCol: String = "doc_id",
                                   textCol: String = "text",
                                   maxHamming: Int = 3)
      : DataStreamWriter[Row] =
    sink(df, checkpoint)(commitBatchWithClusterLabels(_, canonicalPath, _,
      labelsPath, idCol, textCol, maxHamming))

  private[graft] def commitBatchWithClusterLabels(
      batch: DataFrame, canonicalPath: String, batchId: Long,
      labelsPath: String, idCol: String, textCol: String,
      maxHamming: Int, afterPublish: () => Unit = () => ()): Unit = {
    val labels = cycles(batch.sparkSession, labelsPath)
    commitLabelCycle(batch, canonicalPath, batchId, labels, labelsPath,
      idCol, textCol, maxHamming, afterPublish)(
      ids => batch.sparkSession.read.parquet(labels.path(ids.max)),
      Dedup.mergeClusters(_, _, validate = false))
  }

  /** One label cycle: [[commitBatch]], then under `_done/<id>` the
    * batch's SimHash signatures (`sigs/batch=<id>`, so later cycles
    * never re-hash history text) and `merge(prior, edges)`. "Before" is
    * the committed canonical batches minus this one: `prior` of their
    * ids, edges against their signatures. `prior` is this loop's OWN
    * output, so `merge` may skip the min-label validation.
    */
  private def commitLabelCycle(
      batch: DataFrame, canonicalPath: String, batchId: Long,
      labels: VersionedTable, labelsPath: String, idCol: String,
      textCol: String, maxHamming: Int, afterPublish: () => Unit)(
      prior: Seq[Long] => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    commitBatch(batch, canonicalPath, batchId) // idempotent
    labels.commit(batchId, afterPublish) { out =>
      val canon = canonical(spark, canonicalPath)
      val sigs = cycles(spark, labelsPath, "sigs")
      val beforeIds = canon.ids.filter(_ != batchId)
      val batchDf = spark.read.parquet(canon.path(batchId))
        .select(col(idCol), col(textCol))
      Dedup.simhashSignatures(batchDf, idCol, textCol)
        .write.mode("overwrite").parquet(sigs.path(batchId))
      val (servedSigs, priorLabels) =
        if (beforeIds.isEmpty) // cold start: empty served tables
          (spark.read.parquet(sigs.path(batchId)).filter(lit(false)),
            batchDf.select(col(idCol).as("doc_id"),
              col(idCol).as("cluster_id")).filter(lit(false)))
        else (spark.read.parquet(beforeIds.map(sigs.path): _*),
          prior(beforeIds))
      val edges = Dedup.simhashBatchEdges(batchDf, servedSigs,
        idCol, textCol, maxHamming)
      merge(priorLabels, edges).write.mode("overwrite").parquet(out)
    }
  }

  /** The served duplicate-cluster label table: the highest committed
    * cycle's published labels (fails loudly before the first commit —
    * [[readCanonicalCommitted]]'s discipline).
    */
  def readClusterLabels(spark: SparkSession,
                        labelsPath: String): DataFrame = {
    val labels = cycles(spark, labelsPath)
    val ids = labels.ids
    require(ids.nonEmpty,
      s"readClusterLabels: no published label cycles under $labelsPath")
    spark.read.parquet(labels.path(ids.max))
  }

  /** DELTA-publication cluster-label maintenance (r13): the same label
    * cycle, but it publishes ONLY the label rows it creates or changes
    * ([[graft.dedup.Dedup.mergeClustersDelta]]) as
    * `labelsPath/delta/batch=<id>`, touched-cluster-sized. The served
    * table is the overlay ([[readClusterLabelsOverlay]]), which
    * [[compactClusterLabels]] folds into a base. A `labelsPath` belongs
    * to one variant: full-republish and delta cycles don't mix.
    */
  def toCanonicalWithClusterLabelDeltas(df: DataFrame,
                                        canonicalPath: String,
                                        checkpoint: String,
                                        labelsPath: String,
                                        idCol: String = "doc_id",
                                        textCol: String = "text",
                                        maxHamming: Int = 3)
      : DataStreamWriter[Row] =
    sink(df, checkpoint)(commitBatchWithClusterLabelDeltas(_,
      canonicalPath, _, labelsPath, idCol, textCol, maxHamming))

  private[graft] def commitBatchWithClusterLabelDeltas(
      batch: DataFrame, canonicalPath: String, batchId: Long,
      labelsPath: String, idCol: String, textCol: String,
      maxHamming: Int, afterPublish: () => Unit = () => ()): Unit = {
    val labels = labelDeltas(batch.sparkSession, labelsPath)
    commitLabelCycle(batch, canonicalPath, batchId, labels, labelsPath,
      idCol, textCol, maxHamming, afterPublish)(
      ids => labels.overlay(Seq("doc_id"), ids.toSet),
      Dedup.mergeClustersDelta(_, _, validate = false))
  }

  /** The served DELTA-scheme label table: base plus deltas, latest
    * wins per doc (relabels only move a root down-merge, so latest-wins
    * IS the merged table). Fails loudly before the first cycle.
    */
  def readClusterLabelsOverlay(spark: SparkSession,
                               labelsPath: String): DataFrame = {
    val labels = labelDeltas(spark, labelsPath)
    require(labels.ids.nonEmpty, s"readClusterLabelsOverlay: no " +
      s"published label cycles under $labelsPath")
    labels.overlay(Seq("doc_id"))
  }

  /** Fold the overlay into `base/version=<maxCycle>` under
    * `_basedone/<maxCycle>`, so [[readClusterLabelsOverlay]] reads the
    * base plus later cycles only. "Before" is the overlay at that
    * high-water mark. Old deltas and bases stay until [[gcClusterLabels]].
    */
  def compactClusterLabels(spark: SparkSession, labelsPath: String): Unit =
    compactClusterLabels(spark, labelsPath, () => ())

  private[graft] def compactClusterLabels(spark: SparkSession,
      labelsPath: String, afterPublish: () => Unit): Unit = {
    val labels = labelDeltas(spark, labelsPath)
    val ids = labels.ids
    require(ids.nonEmpty, s"compactClusterLabels: no published label " +
      s"cycles under $labelsPath")
    labelBases(spark, labelsPath).commit(ids.max, afterPublish)(
      labels.overlay(Seq("doc_id")).write.mode("overwrite").parquet(_))
  }

  /** Prune label deltas and bases SUPERSEDED by the highest committed
    * compaction ([[graft.model.VersionedTable.gc]]). Signature deltas
    * stay: later cycles probe them. No-op before the first compaction.
    * Returns the pruned paths.
    */
  def gcClusterLabels(spark: SparkSession,
                      labelsPath: String): Seq[String] =
    labelDeltas(spark, labelsPath).gc()

  // Streaming IVF maintenance (r13), the label loop's vector twin:
  // base/upto=<b> (centroids + assignments folding deltas ≤ b) under
  // _ivfbase/<b>; cell-partitioned delta/batch=<id> under _done/<id>.

  /** Publish the first index base (fitted centroids, no members yet),
    * which the first micro-batch routes against: run it once before.
    */
  def seedIvfIndex(spark: SparkSession, indexPath: String,
                   centroids: Seq[Array[Double]]): Unit =
    seedIvfIndex(spark, indexPath, centroids, () => ())

  private[graft] def seedIvfIndex(spark: SparkSession, indexPath: String,
      centroids: Seq[Array[Double]], afterPublish: () => Unit): Unit = {
    require(centroids.nonEmpty, "seedIvfIndex: centroids required")
    ivfBases(spark, indexPath).commit(-1L, afterPublish)(out =>
      Artifacts.saveCentroids(spark, s"$out/centroids", centroids))
  }

  /** The highest committed index base version. */
  private def ivfBase(spark: SparkSession, indexPath: String): Long = {
    val vs = ivfBases(spark, indexPath).ids
    require(vs.nonEmpty, s"streaming IVF: no committed index base " +
      s"under $indexPath — run seedIvfIndex first")
    vs.max
  }

  /** The served centroids: the highest committed base's. */
  private def ivfCentroids(spark: SparkSession,
                           indexPath: String): Seq[Array[Double]] = {
    val base = ivfBases(spark, indexPath).path(ivfBase(spark, indexPath))
    Artifacts.loadCentroids(spark, s"$base/centroids")
  }

  /** Per micro-batch, [[commitBatch]], then route its vectors against
    * the served centroids and publish the assignment delta. "Before" is
    * the highest committed base at (re)play time: assignment is
    * stateless given the centroids, so a refresh between stream runs
    * takes effect on the next batch and a replay stays consistent.
    */
  def toCanonicalWithIvfAssignments(df: DataFrame,
                                    canonicalPath: String,
                                    checkpoint: String,
                                    indexPath: String,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding")
      : DataStreamWriter[Row] =
    sink(df, checkpoint)(commitBatchWithIvfAssignments(_, canonicalPath,
      _, indexPath, idCol, vecCol))

  private[graft] def commitBatchWithIvfAssignments(
      batch: DataFrame, canonicalPath: String, batchId: Long,
      indexPath: String, idCol: String, vecCol: String,
      afterPublish: () => Unit = () => ()): Unit = {
    val spark = batch.sparkSession
    commitBatch(batch, canonicalPath, batchId) // idempotent
    ivfDeltas(spark, indexPath).commit(batchId, afterPublish) { out =>
      val cents = ivfCentroids(spark, indexPath)
      spark.read.parquet(canonical(spark, canonicalPath).path(batchId))
        .select(col(idCol), col(vecCol))
        .withColumn("cell", graft.sim.VectorExpressions
          .centroidAssign(col(vecCol), cents).getField("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(out)
    }
  }

  /** The served IVF index: the highest committed base's centroids and
    * assignments, plus every committed delta past it. Fails loudly
    * before any vectors have been ingested.
    */
  def readIvfServing(spark: SparkSession, indexPath: String)
      : (Seq[Array[Double]], DataFrame) = {
    val cents = ivfCentroids(spark, indexPath)
    val parts = ivfDeltas(spark, indexPath).read(baseData = "assignments")
      .map { case (_, p) => spark.read.parquet(p) }
    require(parts.nonEmpty, s"readIvfServing: no assignments under " +
      s"$indexPath (no vectors ingested yet)")
    val cols = parts.head.columns.sorted.map(col)
    (cents, parts.map(_.select(cols.toSeq: _*)).reduce(_ unionByName _))
  }

  /** One maintenance cycle: audit the SERVED assignments, refit and
    * re-route the dirty cells ([[graft.sim.Similarity]]), and publish
    * the result as `base/upto=<b>` under `_ivfbase/<b>`, `b` the highest
    * committed id. "Before" is the served index. Even a zero-dirty
    * cycle folds the deltas. Run it between stream runs.
    */
  def refreshIvfServing(spark: SparkSession, indexPath: String,
                        maxOccupancy: Long, minMeanAffinity: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit =
    refreshIvfServing(spark, indexPath, maxOccupancy, minMeanAffinity,
      idCol, vecCol, () => ())

  private[graft] def refreshIvfServing(spark: SparkSession,
      indexPath: String, maxOccupancy: Long, minMeanAffinity: Double,
      idCol: String, vecCol: String, afterPublish: () => Unit): Unit = {
    import graft.sim.Similarity
    val b = (ivfDeltas(spark, indexPath).ids :+
      ivfBase(spark, indexPath)).max
    ivfBases(spark, indexPath).commit(b, afterPublish) { out =>
      val (cents, assigned0) = readIvfServing(spark, indexPath)
      val assigned = assigned0
        .select(col(idCol), col(vecCol), col("cell"))
      val stats = Similarity.ivfAssignedCellStats(assigned, cents,
        idCol, vecCol)
      val dirty = Similarity.dirtyCellsFromStats(stats, maxOccupancy,
        minMeanAffinity)
      val (updated, reassigned) = Similarity.ivfRefreshDirtyCells(
        assigned, cents, dirty, idCol, vecCol)
      val serving =
        if (dirty.isEmpty) assigned
        else assigned
          .filter(!col("cell").isin(dirty.map(Int.box): _*))
          .unionByName(reassigned)
      Artifacts.saveCentroids(spark, s"$out/centroids", updated)
      serving.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$out/assignments")
    }
  }

  /** [[gcClusterLabels]]' IVF twin; the seed (`upto=-1`) goes once a
    * later base exists. Returns the pruned paths.
    */
  def gcIvfIndex(spark: SparkSession, indexPath: String): Seq[String] =
    ivfDeltas(spark, indexPath).gc()

  /** The dirty-shard deltas published so far: one row per (batch,
    * touched bucket), the work list a downstream shipper consumes.
    */
  def readDirtyShardDeltas(spark: SparkSession,
                           deltaPath: String): DataFrame =
    load(spark, cycles(spark, deltaPath),
      s"readDirtyShardDeltas: no published deltas under $deltaPath")

  /** [[readCanonicalCommitted]] tolerating an empty table (None before
    * the first committed batch — the gate's cold start).
    */
  def readCanonicalCommittedOpt(spark: SparkSession,
                                canonicalPath: String)
      : Option[DataFrame] =
    if (canonical(spark, canonicalPath).ids.isEmpty) None
    else Some(readCanonicalCommitted(spark, canonicalPath))

  /** Only marker-committed batch partitions — the exactly-once view. */
  def readCanonicalCommitted(spark: SparkSession,
                             canonicalPath: String): DataFrame =
    load(spark, canonical(spark, canonicalPath),
      s"readCanonicalCommitted: no committed batches under $canonicalPath")

  /** Event-time tumbling/sliding window aggregate with watermark over
    * an event stream (`ts`, `event_type`, `value`) — the engine
    * capability the reference approximates with its 30-min TTL batch
    * cadence. Late data beyond the watermark is dropped.
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "5 minutes",
                     slide: Option[String] = None): DataFrame = {
    val win = slide match {
      case Some(s) => window(col("ts"), window_, s)
      case None    => window(col("ts"), window_)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Session windows (gap-based) per user — event-time sessionization
    * with watermark, the streaming twin of the batch gaps-and-islands
    * sessionize in SparkEntry.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Stream-stream event-time interval join: left rows match right
    * rows with the same key whose event time falls in
    * `[left.ts, left.ts + window)` — the streaming twin of
    * [[graft.operators.RangeJoin]] (q80's burst lookahead, live).
    *
    * Both sides carry watermarks and the join condition bounds right's
    * event time RELATIVE to left's, which is exactly what Structured
    * Streaming needs to reason about state expiry: a buffered left row
    * can be dropped once the right watermark passes
    * `left.ts + window`, so state stays bounded on unbounded streams
    * — an unconstrained stream-stream join would buffer both streams
    * forever.
    *
    * Column contract: `left` has (`ts`, key, payload...), `right` the
    * same; right's columns are returned suffixed so the caller can
    * union/aggregate without ambiguity.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   windowSpec: String = "4 hours",
                   watermark: String = "1 hour",
                   tsCol: String = "ts"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.columns.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.r_$key") &&
        col(s"r.r_$tsCol") >= col(s"l.$tsCol") &&
        col(s"r.r_$tsCol") < col(s"l.$tsCol") +
          expr(s"INTERVAL $windowSpec"))
  }

  /** Stream-static dimension enrichment: the streaming twin of the
    * q12 batch join. The dim side is a plain batch frame broadcast to
    * every micro-batch (stream-static joins keep NO watermark state —
    * each micro-batch probes the dim as-of execution), so the stream
    * side never shuffles and the join adds no state store. At 100 TB/
    * day of events and a dims table of thousands of rows this is the
    * only join shape that holds: the alternative stream-stream join
    * would buffer the firehose. `how` = "inner" | "left_outer" (the
    * two stream-static-supported types for a streaming left side).
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   keys: Seq[String], how: String = "left_outer")
      : DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, how)

  /** Run a streaming query to completion over whatever is currently in
    * the source (test/ingest-batch helper).
    */
  def runAvailable(writer: DataStreamWriter[Row]): Unit = {
    val q = writer.start()
    q.awaitTermination()
  }

  /** Watermark-bounded streaming dedup: drops rows whose key was seen
    * within the watermark horizon, and — unlike plain
    * `dropDuplicates` on a stream — EXPIRES state once event time
    * passes the watermark, so state stays bounded on unbounded key
    * spaces (every new document has a new fingerprint; keeping all of
    * them forever is an OOM at 100 TB/day).
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stateful streaming dedup by key (custom state via
    * flatMapGroupsWithState): emits only the FIRST row per key — the
    * streaming twin of exact-dedup for continuous document ingestion.
    * Production note for unbounded key spaces: switch to
    * `ProcessingTimeTimeout` + `setTimeoutDuration` so per-key state
    * expires instead of growing forever.
    *
    * Input is a typed pair stream (key, payload).
    */
  def dedupStream(pairs: org.apache.spark.sql.Dataset[(String, String)])
      : org.apache.spark.sql.Dataset[(String, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Boolean]) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.next())
          }
      }
  }

  /** Streaming twin of the tombstone-aware admission gate (q165's
    * batch semantics for CONTINUOUS ingestion, r10): each fingerprint
    * admits at most once per stream — across micro-batches via
    * flatMapGroupsWithState state — with the admission reason derived
    * from the tombstone-aware history flags: `fresh` (never in
    * history), `history_purged` (in history, but every carrier doc
    * was tombstoned — the re-admission case a stale-history gate
    * wrongly blocks), or nothing emitted at all (a LIVE history
    * fingerprint, or a within-stream repeat).
    *
    * `histLive` maps fingerprint → "some live history doc still
    * carries it" and ships via the task closure (history-flag maps
    * are takedown-audit-sized here; at corpus scale the identical
    * decision becomes a broadcast join upstream of this operator or
    * a state-store bootstrap — the semantics don't change).
    * TombstoneGateStreamSpec asserts micro-batched streaming output
    * ≡ the q165 batch gate, reasons included.
    */
  def admissionStream(pairs: org.apache.spark.sql.Dataset[(String, String)],
                      histLive: Map[String, Boolean])
      : org.apache.spark.sql.Dataset[(String, String, String)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[Boolean]) =>
          if (state.exists || !rows.hasNext) Iterator.empty
          else {
            state.update(true)
            // Group iterator order is nondeterministic within a
            // micro-batch; pick the MINIMUM payload so the admitted
            // row matches the q165 batch gate's orderBy(doc_id)
            // window choice regardless of trigger batching.
            lazy val payload = rows.map(_._2).min
            histLive.get(key) match {
              case Some(true) => Iterator.empty // live duplicate
              case Some(false) =>
                Iterator.single((key, payload, "history_purged"))
              case None =>
                Iterator.single((key, payload, "fresh"))
            }
          }
      }
  }

  /** Streaming twin of the crawl-loop history fold (q169's batch
    * semantics for CONTINUOUS fetch ingestion, r11): per-URL crawl
    * state (n_crawls, n_changes, last_crawl_day) maintained across
    * micro-batches as fetch outcomes `(loc, status, fetchDay)`
    * arrive. Content observations — `changed` / `unchanged` /
    * `not_modified` (a 304 attests no-change without the body) —
    * fold into the counts exactly as
    * [[graft.sources.Recrawl.ingestOutcomes]] appends them to the
    * batch history; `error` outcomes observe NOTHING (the back-off
    * lives in the error ledger, not the estimator) and leave state
    * untouched. Each trigger emits the updated state row for every
    * URL it observed — exactly the per-URL aggregate the add-half
    * estimator reads, so a downstream plan re-scores staleness
    * continuously instead of re-aggregating the full history.
    * CrawlHistoryStreamSpec asserts the final streamed state ≡ the
    * batch `ingestOutcomes` chain's aggregate, errors included.
    */
  def crawlHistoryStream(outcomes: org.apache.spark.sql
        .Dataset[(String, String, Long)])
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = outcomes.sparkSession
    import spark.implicits._
    val content = Set("changed", "unchanged", "not_modified")
    outcomes
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long),
          (String, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (loc: String, rows: Iterator[(String, String, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          val obs = rows.filter(r => content(r._2)).toSeq
          if (obs.isEmpty) Iterator.empty // errors observe nothing
          else {
            val (c0, g0, d0) = state.getOption
              .getOrElse((0L, 0L, Long.MinValue))
            val next = (c0 + obs.size,
              g0 + obs.count(_._2 == "changed"),
              math.max(d0, obs.map(_._3).max))
            state.update(next)
            Iterator.single((loc, next._1, next._2, next._3))
          }
      }
  }
}
