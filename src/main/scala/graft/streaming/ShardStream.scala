package graft.streaming

import graft.ops.Mining
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming shard-manifest maintenance — q123's fixed hash-range
  * manifest kept current as document deltas land, the reshard twin of
  * the sketch-artifact discipline (SketchStream): shard assignment is a
  * pure per-row function of the content hash, and every manifest column
  * is an associative-commutative fold (counts/sums add, XOR combines,
  * min/max compose), so per-micro-batch PARTIAL manifests are all the
  * state the stream needs. q119's exactly-size-bounded layout cannot be
  * maintained this way — its prefix-sum boundaries move when a document
  * lands between existing keys — which is exactly why q123 trades cut
  * precision for fold algebra.
  *
  * Unlike the register folds (max-merge, idempotent under re-delivery by
  * algebra), XOR and SUM are NOT idempotent — re-folding the same batch
  * would corrupt the checksum and double the counts. The sink therefore
  * OVERWRITES a per-batchId delta partition (the EmbeddingStream
  * discipline): a replayed foreachBatch rewrites the identical directory
  * and the served manifest is unchanged — idempotent end-to-end without
  * relying on the checkpoint alone. Serving aggregates the delta store:
  * O(batches × shards) rows, shard-count-bounded per batch, never
  * document-sized.
  */
object ShardStream {

  /** File-source document stream (CorpusStream's schema). */
  def readDocStream(spark: SparkSession, landingDir: String): DataFrame =
    CorpusStream.readDocStream(spark, landingDir)

  /** The shard-manifest store — Mining.shardStats + shardManifest
    * verbatim, so the streaming fold can never diverge from the batch
    * query; ≤ ShardCount rows per batch. Sums, XOR, min/max all
    * reassociate exactly, so compaction leaves the served manifest
    * bit-identical (StreamingSpec-pinned) and the store holds ≤
    * ShardCount base rows plus one small partition per recent batch.
    */
  def manifestStore(dir: String): CellStore = CellStore("shard_manifest", dir,
    Seq("shard_id"), Seq("n_docs" -> CellStore.Sum, "shard_tokens" -> CellStore.Sum,
      "checksum" -> CellStore.Xor, "min_doc_id" -> CellStore.Min,
      "max_doc_id" -> CellStore.Max),
    b => Mining.shardManifest(Mining.shardStats(b)))

  /** Serve the whole-corpus manifest off the delta store alone: fold the
    * per-batch partials with the same associative algebra — no document
    * rescans at serving time. Equals batch q123 over the union of all
    * landed documents (StreamingSpec-pinned).
    */
  def manifestFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    manifestStore(deltaDir).servedAt(spark).orderBy("shard_id")

  /** The shard manifest over a retention WINDOW [lo, upto] — the same
    * associative fold over exactly the retained landings' partials: the
    * manifest of the documents still on disk.
    */
  def manifestWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    manifestStore(deltaDir).servedWindow(spark, lo, upto).orderBy("shard_id")
}
