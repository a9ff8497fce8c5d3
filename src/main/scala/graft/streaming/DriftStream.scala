package graft.streaming

import graft.ops.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming drift maintenance — q126's monitoring run continuously:
  * the (source, bin) histogram cells are ADD-mergeable (plain count
  * sums), so each micro-batch's partial cell table (≤ sources × bins
  * rows) is all the state the stream needs, and the per-snapshot χ²
  * check serves off the folded artifact with zero document rescans.
  * Same delta discipline as ShardStream: SUM is not idempotent, so
  * deltas land as per-batchId partition overwrites (replay-safe), and
  * serving folds the delta store — O(batches × sources × bins) rows,
  * never documents.
  */
object DriftStream {

  /** File-source document stream (CorpusStream's schema). */
  def readDocStream(spark: SparkSession, landingDir: String): DataFrame =
    CorpusStream.readDocStream(spark, landingDir)

  /** The (source, bin) histogram store — Corpus.driftCells verbatim, so
    * the fold can never diverge from batch q126's projection.
    */
  def driftStore(dir: String): CellStore = CellStore("drift", dir,
    Seq("source", "bin"), Seq("o" -> CellStore.Sum), Corpus.driftCells)

  /** q126's drift report served off the maintained artifact — the SAME
    * χ² kernel (Corpus.chi2FromCells), so after streaming a corpus the
    * served statistics equal the in-query ones bit-for-bit
    * (StreamingSpec-pinned).
    */
  def driftFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    Corpus.chi2FromCells(driftStore(deltaDir).servedAt(spark))

  /** q126's report over a retention WINDOW [lo, upto] —
    * [[driftFromDeltas]]'s windowed twin: the histogram folds exactly
    * the retained landings (split-forget negatives inside the window
    * included), so the drift verdict describes the data still on disk.
    */
  def driftWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    Corpus.chi2FromCells(driftStore(deltaDir).servedWindow(spark, lo, upto))

  // ── snapshot-keyed cells: drift BETWEEN corpus states ────────────────

  /** Document stream whose rows carry a `snapshot_id` (ingest
    * generation) column alongside CorpusStream's schema.
    */
  def readSnapshotDocStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream
      .schema(CorpusStream.docSchema.add("snapshot_id", "long"))
      .parquet(landingDir)

  /** The snapshot-keyed histogram store — Corpus.driftCellsBySnapshot
    * verbatim. One micro-batch may span snapshots (a late file from an old
    * ingest landing next to the new one); the key travels in the DATA, so
    * the fold assigns every cell to its snapshot regardless of which batch
    * carried it, and compaction keeps the key: pair drift between ANY two
    * snapshots — including long-closed ones — still serves off the
    * compacted base. State is O(batches × snapshots × sources × bins) cell
    * rows, never documents.
    */
  def snapshotStore(dir: String): CellStore = CellStore("snapshot_drift", dir,
    Seq("snapshot_id", "source", "bin"), Seq("o" -> CellStore.Sum),
    Corpus.driftCellsBySnapshot)

  /** One snapshot's folded cell table ((source, bin, o) — the
    * driftCells shape) off the delta store alone.
    */
  def cellsForSnapshot(spark: SparkSession, deltaDir: String,
      snapshotId: Long): DataFrame =
    cellsOf(snapshotStore(deltaDir).servedAt(spark), snapshotId)

  private def cellsOf(folded: DataFrame, snapshotId: Long): DataFrame =
    folded.filter(col("snapshot_id") === snapshotId).select("source", "bin", "o")

  /** Snapshot-PAIR drift served off the maintained artifact: which
    * source changed shape between corpus states A and B — q128's
    * question answered with zero document rescans, via the SAME kernel
    * (Corpus.chi2Pair), so served and in-query statistics are
    * bit-identical (StreamingSpec-pinned).
    */
  def pairDriftFromDeltas(spark: SparkSession, deltaDir: String,
      snapA: Long, snapB: Long): DataFrame =
    Corpus.chi2Pair(cellsForSnapshot(spark, deltaDir, snapA),
      cellsForSnapshot(spark, deltaDir, snapB))

  /** Snapshot-pair drift over a retention WINDOW [lo, upto] —
    * [[pairDriftFromDeltas]]'s windowed twin. The snapshot key rides in
    * the DATA, the landing batch in the partition id, so a window
    * restricts each snapshot's histogram to the cells of landings still
    * on disk: what "did the licensed slice of ingest A shift against
    * the licensed slice of ingest B" means.
    */
  def pairDriftWindowed(spark: SparkSession, deltaDir: String,
      snapA: Long, snapB: Long, lo: Long,
      upto: Long = Long.MaxValue): DataFrame = {
    val w = snapshotStore(deltaDir).servedWindow(spark, lo, upto).localCheckpoint()
    Corpus.chi2Pair(cellsOf(w, snapA), cellsOf(w, snapB))
  }

  /** Snapshot lifecycle registry, derived from the cell store itself (no
    * sidecar state to desync): which snapshot ids exist, their document
    * mass (each document lands in exactly one cell, so Σo = docs), cell
    * count, and the batch range that carried them — what a monitoring
    * job needs to ENUMERATE comparable snapshot pairs instead of being
    * told. O(store rows) over cells, never documents.
    */
  def snapshotRegistry(spark: SparkSession, deltaDir: String): DataFrame =
    spark.read.parquet(deltaDir)
      .groupBy("snapshot_id")
      .agg(sum(col("o")).cast("long").as("n_docs"),
        count(lit(1)).as("n_cells"),
        min(col("batch_id")).cast("long").as("first_batch"),
        max(col("batch_id")).cast("long").as("last_batch"))
      .orderBy("snapshot_id")

  /** Pair drift for every ADJACENT snapshot pair in the registry — the
    * per-ingest monitoring sweep ("did anything shift since the last
    * snapshot?") served entirely off the artifact: the registry
    * enumerates the pairs (snapshot count rows, a driver-side collect of
    * a few ids by design), chi2Pair serves each.
    */
  def adjacentPairDrift(spark: SparkSession, deltaDir: String): DataFrame = {
    val snaps = snapshotRegistry(spark, deltaDir)
      .select("snapshot_id").collect().map(_.getLong(0)).sorted
    require(snaps.length >= 2, s"need at least 2 snapshots, found ${snaps.length}")
    snaps.zip(snaps.drop(1)).map { case (a, b) =>
      pairDriftFromDeltas(spark, deltaDir, a, b)
        .select(lit(a).as("snap_a"), lit(b).as("snap_b"), col("*"))
    }.reduce(_.unionByName(_))
  }

  /** q131's ROLLING sweep served off the artifact: every snapshot
    * against the cumulative union of its predecessors — the baseline
    * cells are just the SUM of prior snapshots' cells (add-mergeable),
    * so the whole sweep is (snapshots−1) chi2Pair calls over the folded
    * keyed store, zero document rescans. Same kernel as batch q131
    * (StreamingSpec pins bit-equality).
    */
  def rollingDriftFromDeltas(spark: SparkSession, deltaDir: String): DataFrame = {
    val cells = snapshotStore(deltaDir).servedAt(spark).localCheckpoint()
    val snaps = cells.select("snapshot_id").distinct()
      .collect().map(_.getLong(0)).sorted
    require(snaps.length >= 2, s"need at least 2 snapshots, found ${snaps.length}")
    snaps.drop(1).map { snap =>
      Corpus.chi2Pair(
        cells.filter(col("snapshot_id") < snap)
          .groupBy("source", "bin").agg(sum(col("o")).cast("long").as("o")),
        cells.filter(col("snapshot_id") === snap).select("source", "bin", "o"))
        .select(lit(snap).as("snap"), col("source"),
          col("n_a").as("n_base"), col("n_b").as("n_snap"),
          col("chi2_fp"), col("df"), col("shifted"))
    }.reduce(_.unionByName(_)).orderBy("snap", "source")
  }
}
