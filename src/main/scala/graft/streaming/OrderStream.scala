package graft.streaming

import graft.ops.Mining
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming curriculum-plan maintenance — q151's (phase, shard) cells
  * kept current as document deltas land, the training-order twin of the
  * shard-manifest fold (ShardStream): phase (classifier score band) and
  * shard (seeded hash) are pure per-row functions, so each micro-batch
  * contributes a ≤ phases × shards PARTIAL cell table, and the served
  * manifest is the associative SUM-fold over the delta store plus the
  * (driver-side, bounded) exclusive offset pass — no document rescans at
  * serving time, ever. The position RANKS themselves (q150's gpos) are
  * per-epoch recomputes by design (a new seed each epoch); what the
  * store maintains is the block structure those ranks slot into.
  *
  * SUM cells are not idempotent under re-delivery, so the sink
  * OVERWRITES a per-batchId delta partition (the ShardStream /
  * EmbeddingStream discipline): a replayed foreachBatch rewrites the
  * identical directory and the served manifest is unchanged.
  */
object OrderStream {

  /** File-source document stream (CorpusStream's schema). */
  def readDocStream(spark: SparkSession, landingDir: String): DataFrame =
    CorpusStream.readDocStream(spark, landingDir)

  /** One micro-batch's partial cells — Mining.curriculumCells verbatim,
    * so the streaming fold can never phase a doc differently from batch
    * q151. ≤ phases × EpochShards rows per batch.
    */
  def batchCells(batch: DataFrame): DataFrame =
    Mining.curriculumCells(batch)

  /** Idempotent delta write: OVERWRITE this batch's partition directory.
    * Exposed for the spec's replay pin.
    */
  def writeDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(batchCells(batch), deltaDir, batchId)
  }

  /** Cell-maintenance sink: per micro-batch, write the partial cells to
    * their batch_id partition. Trigger.AvailableNow + checkpoint as in
    * the corpus/shard/drift twins.
    */
  def cellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("curriculum_cell_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("phase", "shard")), maintain)
      }
      .start()

  /** Serve the curriculum plan manifest off the delta store alone:
    * curriculumManifest already re-folds its input, so the per-batch
    * partials sum losslessly. Equals batch q151 over the union of all
    * landed documents (StreamingSpec-pinned), with zero document scans.
    */
  def manifestFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    Mining.curriculumManifest(
      spark.read.parquet(deltaDir)
        .select("phase", "shard", "n_docs", "n_tokens"))

  /** The curriculum manifest over a retention WINDOW [lo, upto] — the
    * same lossless re-fold over exactly the retained landings' partials.
    */
  def manifestWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    Mining.curriculumManifest(
      StoreCompaction.readWindow(spark, deltaDir, lo, upto)
        .select("phase", "shard", "n_docs", "n_tokens"))

  /** Delta-store retention: fold partitions `batch_id <= upto` into the
    * base partition with the same SUM algebra serving applies — served
    * manifest bit-identical before and after (StreamingSpec-pinned).
    */
  def compactDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("phase", "shard")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
    }

  // ── renormalizing-schedule mass cells (q157/q158 serving) ───────────

  /** One micro-batch's per-source mass cells (source, w, n_docs) — the
    * add-mergeable input the renormalizing segment table (q158) derives
    * from. ≤ |sources| rows per batch.
    */
  def massCells(batch: DataFrame): DataFrame =
    batch
      .withColumn("w",
        (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("long"))
      .groupBy("source", "w")
      .agg(count(lit(1)).cast("long").as("n_docs"))

  def writeMassDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(massCells(batch), deltaDir, batchId)
  }

  /** Mass-cell maintenance sink — the q158 twin of [[cellSink]]. */
  def massSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("renorm_mass_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeMassDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("source", "w")), maintain)
      }
      .start()

  /** Serve q158's segment manifest off the folded mass cells alone —
    * [[graft.ops.Mining.renormSegments]] is pure driver arithmetic on
    * per-source masses, so the streamed manifest is bit-equal to batch
    * q158 over the union of all landed documents, with zero document
    * rescans (StreamingSpec-pinned).
    */
  def segmentManifestFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    manifestOf(spark, spark.read.parquet(deltaDir))

  /** The segment manifest planned over the mass-cell rows a read returns. */
  private def manifestOf(spark: SparkSession, cells: DataFrame): DataFrame = {
    val masses = cells
      .groupBy("source", "w").agg(sum(col("n_docs")).cast("long").as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy((t: (String, Long, Long)) => t._1)
    Mining.renormManifestDf(spark, masses).orderBy("seg_idx")
  }

  /** q158's segment manifest over a retention WINDOW [lo, upto] — the
    * renormalizing schedule planned over exactly the retained landings'
    * mass (split-forget negatives inside the window included, so the
    * plan never schedules erased or expired documents).
    */
  def segmentManifestWindowed(spark: SparkSession, deltaDir: String,
      lo: Long, upto: Long = Long.MaxValue): DataFrame =
    manifestOf(spark, StoreCompaction.readWindow(spark, deltaDir, lo, upto))

  /** Mass-store retention: same fold algebra as serving. */
  def compactMassDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("source", "w")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"))
    }
}
