package graft.streaming

import graft.ops.Mining
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** The (phase, shard) curriculum cell store — Mining.curriculumCells
    * verbatim, so the streaming fold can never phase a doc differently
    * from batch q151. ≤ phases × EpochShards rows per batch.
    */
  def curriculumStore(dir: String): CellStore = CellStore("curriculum", dir,
    Seq("phase", "shard"), Seq("n_docs" -> CellStore.Sum, "n_tokens" -> CellStore.Sum),
    Mining.curriculumCells)

  /** Serve the curriculum plan manifest off the delta store alone:
    * curriculumManifest already re-folds its input, so the per-batch
    * partials sum losslessly. Equals batch q151 over the union of all
    * landed documents (StreamingSpec-pinned), with zero document scans.
    */
  def manifestFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    Mining.curriculumManifest(
      curriculumStore(deltaDir).rowsAt(spark)
        .select("phase", "shard", "n_docs", "n_tokens"))

  /** The curriculum manifest over a retention WINDOW [lo, upto] — the
    * same lossless re-fold over exactly the retained landings' partials.
    */
  def manifestWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    Mining.curriculumManifest(
      curriculumStore(deltaDir).windowRows(spark, lo, upto)
        .select("phase", "shard", "n_docs", "n_tokens"))

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

  /** The mass-cell store — the q158 twin of [[curriculumStore]]. */
  def massStore(dir: String): CellStore = CellStore("renorm_mass", dir,
    Seq("source", "w"), Seq("n_docs" -> CellStore.Sum), massCells)

  /** Serve q158's segment manifest off the folded mass cells alone —
    * [[graft.ops.Mining.renormSegments]] is pure driver arithmetic on
    * per-source masses, so the streamed manifest is bit-equal to batch
    * q158 over the union of all landed documents, with zero document
    * rescans (StreamingSpec-pinned).
    */
  def segmentManifestFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    manifestOf(spark, massStore(deltaDir).servedAt(spark))

  /** The segment manifest planned over the folded mass cells. */
  private def manifestOf(spark: SparkSession, folded: DataFrame): DataFrame = {
    val masses = folded.select("source", "w", "n_docs")
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
    manifestOf(spark, massStore(deltaDir).servedWindow(spark, lo, upto))
}
