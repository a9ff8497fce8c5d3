package graft.streaming

import graft.exec.DerivedStore
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming decontamination — q137's surgical span scrub run per
  * micro-batch against a MATERIALIZED benchmark shingle artifact, the
  * missing streamed twin of the scrub family (q136/q137/q139 rebuild the
  * benchmark hash set from raw benchmark text every run; a pipeline
  * scrubs arriving documents against a FROZEN benchmark release).
  *
  * Artifact discipline: the benchmark set is a parquet of distinct h60
  * shingle hashes cached by [[graft.exec.DerivedStore]] — small by nature (a benchmark suite, not a corpus),
  * so every micro-batch broadcasts it; rebuilding it is only ever
  * triggered by a new benchmark release, never by corpus growth.
  *
  * Sink discipline: scrub verdicts are pure per-row functions of
  * (document, artifact), so the stream needs NO state store — but
  * re-delivered FILES would duplicate rows, so each batch drops doc_ids
  * already in the store (first-seen wins; verdicts are deterministic, so
  * first-seen ≡ any-seen) and OVERWRITES its per-batchId partition
  * (crash-replay rewrites the identical directory). Per-batch cost: the
  * store is probed with the batch's ids via broadcast semi-join — the
  * store is scanned, never shuffled (the CorpusStream fp-probe law).
  */
object ScrubStream {

  /** File-source document stream (CorpusStream's schema). */
  def readDocStream(spark: SparkSession, landingDir: String): DataFrame =
    CorpusStream.readDocStream(spark, landingDir)

  /** Build (or reuse) the benchmark shingle artifact: the distinct h60
    * set of the benchmark slice (doc_id < 50), cached per corpus
    * (regenerated corpus → regenerated benchmark slice → new artifact).
    */
  def buildBenchArtifact(s: SparkSession, dir: String): String =
    DerivedStore.cached("bench_shingles", dir, "documents") { root =>
      val bench = graft.Catalog.table(s, dir, "documents")
        .filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
      Dedup.benchShingleHashes(bench)
        .write.mode("overwrite").parquet(s"$root/hashes")
    }

  /** One micro-batch's scrub rows — `Dedup.scrubSpansByHashes` verbatim
    * (the batch q137 kernel against the artifact's hash set), with the
    * batch's source column riding along for the store-served report.
    */
  def batchScrub(batch: DataFrame, benchHashes: DataFrame): DataFrame =
    Dedup.scrubSpansByHashes(batch.select(col("doc_id"), col("text")), benchHashes)
      .join(batch.select(col("doc_id"), col("source")), Seq("doc_id"))

  /** Scrub sink: drop already-scrubbed doc_ids (first-seen wins —
    * verdicts are deterministic so re-delivery is a no-op), scrub the
    * rest against the artifact, overwrite the per-batchId partition.
    */
  def scrubSink(stream: DataFrame, benchArtifactRoot: String, storeDir: String,
      checkpointDir: String, indexDir: Option[String] = None): StreamingQuery =
    StoreCompaction.sink(stream, "scrub_stream", checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val known = StoreCompaction.historyBefore(spark, storeDir, batchId,
          batch.select("doc_id").filter(lit(false)))
        .select("doc_id")
        .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_semi")
      // the batch is unrolled into positional shingles once anyway —
      // materialize one localCheckpoint so the verdict write and the
      // index delta don't re-tokenize
      val freshMat = batch.join(broadcast(known), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val bench = spark.read.parquet(s"$benchArtifactRoot/hashes")
      batchScrub(freshMat, bench)
        .write.mode("overwrite").parquet(s"$storeDir/batch_id=$batchId")
      // maintain the inverted shingle index alongside the verdicts:
      // per-batch (h, doc_id) delta partitions, overwrite-idempotent
      // like the store itself. Docs are first-seen-unique across
      // batches, so the union of deltas IS the distinct corpus index
      // and rotation reads it via partition discovery.
      indexDir.foreach { idx =>
        Dedup.positionalShingles(freshMat.select(col("doc_id"), col("text")))
          .select(col("h"), col("doc_id")).distinct()
          .write.mode("overwrite").parquet(s"$idx/batch_id=$batchId")
      }
    }

  /** Build the scrub store for a corpus dir by running the sink's batch
    * path over the whole corpus slice as one batch — the same code every
    * micro-batch runs, so the store IS the streaming sink's output
    * shape. Returns the store root.
    */
  def buildScrubStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("scrub_store", dir, "documents") { root =>
      val benchRoot = buildBenchArtifact(s, dir)
      val corpus = graft.Catalog.table(s, dir, "documents")
        .filter(col("doc_id") >= 50)
        .select(col("doc_id"), col("text"), col("source"))
      val bench = s.read.parquet(s"$benchRoot/hashes")
      batchScrub(corpus, bench)
        .write.mode("overwrite").parquet(s"$root/rows/batch_id=0")
    }

  /** Build (or reuse) the inverted shingle index: DISTINCT (h, doc_id)
    * pairs over the corpus's positional 3-shingles. Built once per
    * corpus and amortized across every benchmark-release rotation —
    * touched-doc detection becomes a broadcast join of the (tiny) hash
    * delta against this index, with no corpus text unroll at all.
    */
  def buildShingleIndex(s: SparkSession, dir: String): String =
    DerivedStore.cached("shingle_index", dir, "documents") { root =>
      val corpus = graft.Catalog.table(s, dir, "documents")
        .filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
      Dedup.positionalShingles(corpus).select(col("h"), col("doc_id")).distinct()
        .write.mode("overwrite").parquet(s"$root/pairs")
    }

  /** One micro-batch's inverted-index delta: the corpus slice's
    * (doc_id ≥ 50, the batch-build's convention) DISTINCT positional-
    * shingle (h, doc_id) pairs. The index is ADD-ONLY state — a new doc
    * contributes only its own rows and never modifies another's — so a
    * per-batchId OVERWRITE partition is the whole replay story and the
    * "fold" is a plain union. Containment (q185) served off the deltas
    * is therefore exact over whatever has landed, with zero rebuilds.
    */
  def writeShingleDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      Dedup.positionalShingles(
          batch.filter(col("doc_id") >= 50).select(col("doc_id"), col("text")))
        .select(col("h"), col("doc_id")).distinct(),
      deltaDir, batchId, coalesce1 = false)
  }

  /** Inverted-index maintenance sink — q185's serving artifact kept
    * current as documents land.
    */
  def shingleIndexSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    StoreCompaction.sink(stream, "shingle_index_maintenance", checkpointDir) {
      (batch, batchId) =>
        writeShingleDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("h")), maintain)
    }

  /** q185's containment table off the index deltas alone — bit-equal to
    * the batch query over the union of landings (StreamingSpec-pinned).
    * `spine` is the (doc_id)-bearing frame of the docs to report on.
    * `upto` pins a RELEASE (only batches ≤ upto fold), so one store
    * serves containment AS OF any earlier landing — the LM/diversity
    * stores' pin mechanism applied to the dedup surface (q198 rides it).
    */
  def containmentFromDeltas(spark: SparkSession, deltaDir: String,
      spine: DataFrame, upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireServableAt(deltaDir, upto)
    Dedup.containmentBest(
      Dedup.jaccardPairsFromExploded(
        spark.read.parquet(deltaDir)
          .filter(col("batch_id") <= upto ||
            col("batch_id") === StoreCompaction.BasePartition)
          .select("doc_id", "h")),
      spine)
  }

  /** Containment over a retention WINDOW [lo, upto] — the identity-store
    * windowed serve: the shingle index is per-row (h, doc_id) state, so a
    * window is a pure partition-pruned slice (no negatives to reconcile —
    * erasure on this family is surgical), and the served table equals
    * q184/q185 computed over exactly the retained window's corpus.
    * `spine` should be the window's doc frame (the caller knows which
    * docs the retained landings carried).
    */
  def containmentWindowed(spark: SparkSession, deltaDir: String,
      spine: DataFrame, lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireWindowServableAt(deltaDir, lo, upto)
    Dedup.containmentBest(
      Dedup.jaccardPairsFromExploded(
        spark.read.parquet(deltaDir)
          .filter(StoreCompaction.windowedReadFilter(deltaDir, lo, upto))
          .select("doc_id", "h")),
      spine)
  }

  /** The q141 contamination report over a retention WINDOW [lo, upto] —
    * the scrub VERDICT store is a pure per-doc identity store (each
    * doc's verdict row lands in its landing batch, first-seen; erasure
    * is surgical), so its retention serve is a pure partition slice:
    * the dashboard describes exactly the verdicts still on disk.
    */
  def scrubReportWindowed(spark: SparkSession, storeDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    graft.ops.Dedup.scrubReport(
      StoreCompaction.readWindow(spark, storeDir, lo, upto))

  /** Build (or reuse) the release-delta shingle-index store (two
    * committed partitions: batch 0 = the first release's corpus half,
    * batch 1 = the rest — q183's max/2 release convention): the corpus
    * split at the q183 release boundary (max doc_id / 2), each half one
    * per-batchId partition — exactly what `shingleIndexSink` would have
    * produced had the two releases landed as separate micro-batches.
    */
  def buildShingleDeltaStore(s: SparkSession, dir: String): (String, Long) = {
    val d = graft.Catalog.table(s, dir, "documents")
    val cut = d.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0) / 2
    val root = DerivedStore.cached("shingle_deltas", dir, "documents") { root =>
      writeShingleDelta(d.filter(col("doc_id") < cut), s"$root/deltas", 0L)
      writeShingleDelta(d.filter(col("doc_id") >= cut), s"$root/deltas", 1L)
    }
    // q198 serves release 0 off this store — write the pin through the
    // registry (idempotent) so any maintenance fold past batch 0 refuses
    // instead of silently folding the second release into the base.
    StoreCompaction.registerPin(s"$root/deltas", "release_0", 0L)
    (s"$root/deltas", cut)
  }

  /** Build (or reuse) the FOUR-landing shingle-index delta store —
    * q199's finer-grained sibling of [[buildShingleDeltaStore]]: the
    * corpus cut at multiples of max(doc_id)/4 (integer division first,
    * so the oracle reproduces the boundaries exactly), one per-batchId
    * partition per landing — the registry a containment-over-time sweep
    * (q199) reads. The earliest landing is pinned through the registry:
    * every pinned read below the newest landing must stay servable, so
    * any maintenance fold past batch 0 refuses rather than silently
    * merging history the trend still serves. Returns (deltaDir,
    * per-landing EXCLUSIVE upper doc_id bounds — last = Long.MaxValue).
    */
  def buildShingleTrendStore(s: SparkSession, dir: String): (String, Seq[Long]) = {
    val d = graft.Catalog.table(s, dir, "documents")
    val q = d.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0) / 4
    val bounds = Seq(q, 2 * q, 3 * q, Long.MaxValue)
    val root = DerivedStore.cached("shingle_deltas4", dir, "documents") { root =>
      bounds.zipWithIndex.foreach { case (hi, k) =>
        val lo = if (k == 0) Long.MinValue else bounds(k - 1)
        writeShingleDelta(
          d.filter(col("doc_id") >= lo && col("doc_id") < hi),
          s"$root/deltas", k.toLong)
      }
    }
    StoreCompaction.registerPin(s"$root/deltas", "trend_history", 0L)
    (s"$root/deltas", bounds)
  }

  /** Containment-over-TIME: one trend row per landing of the delta
    * store — the monitoring view an operator reads after each ingest
    * ("how much new containment did this landing introduce"). Landing
    * p's row aggregates the full per-doc containment table served AT
    * pin p ([[containmentFromDeltas]] — partition-pruned to the pinned
    * slice, zero text scans) over the corpus as of that landing;
    * `new_*` columns are deltas against the previous landing (computed
    * by a batch_id self-join on the |landings|-row aggregate, never a
    * single-partition window). Containment mass sums in EXACT integer
    * fixed-point (the per-doc table's 4-dp values ×10⁴), so the trend
    * is reproducible bit-for-bit. At 100 TB each pinned evaluation
    * costs the pinned prefix (the `pinprobe` serving law), and the
    * sweep shares the store scan across pins within one job.
    */
  def containmentTrend(spark: SparkSession, deltaDir: String,
      docs: DataFrame, bounds: Seq[Long]): DataFrame = {
    val perLanding = bounds.zipWithIndex.map { case (hi, p) =>
      val spine = docs
        .filter(col("doc_id") >= 50 && col("doc_id") < hi)
        .select("doc_id")
      containmentFromDeltas(spark, deltaDir, spine, upto = p.toLong)
        .agg(
          count(lit(1)).as("n_docs"),
          graft.queries.Det.countIf(col("is_contained")).as("n_contained"),
          sum(floor(col("containment") * 10000.0 + 0.5).cast("long"))
            .cast("long").as("mass_fp"))
        .select(lit(p.toLong).as("batch_id"), col("n_docs"),
          col("n_contained"), col("mass_fp"))
    }.reduce(_.unionByName(_))
    // NOTE (r13 optimization pass): the self-join below references this
    // union twice, which LOOKS like it doubles the four pinned containment
    // evaluations — measured, it does not: the duplicate subtrees are
    // byte-identical, so AQE's ReuseExchange executes each evaluation once
    // (checkpointing the 4-row aggregate here changed nothing at sf0.1 but
    // hid the per-pin store reads from the serving plan, breaking the
    // partition-pruning contract PlanSpec pins — so it stays lazy).
    val prev = perLanding.select((col("batch_id") + 1L).as("batch_id"),
      col("n_docs").as("p_docs"), col("n_contained").as("p_contained"),
      col("mass_fp").as("p_mass"))
    perLanding.join(prev, Seq("batch_id"), "left")
      .select(col("batch_id"), col("n_docs"), col("n_contained"), col("mass_fp"),
        (col("n_docs") - coalesce(col("p_docs"), lit(0L))).as("new_docs"),
        (col("n_contained") - coalesce(col("p_contained"), lit(0L)))
          .as("new_contained"),
        (col("mass_fp") - coalesce(col("p_mass"), lit(0L))).as("new_mass_fp"))
      .orderBy("batch_id")
  }

  /** Build a release's scrub store — keyed by corpus identity × the
    * benchmark release's id bound, so each benchmark release gets its own
    * frozen verdict store. With `prev` (an earlier release's
    * committed store and its id bound), the build is INCREMENTAL —
    * `Dedup.incrementalRescrub` re-scrubs only the docs the release
    * delta touches and carries every other row over from the previous
    * store verbatim, so rotating a benchmark release costs delta hit
    * density, not a corpus re-scan. Without `prev`, a full scrub.
    */
  def buildReleaseScrubStore(s: SparkSession, dir: String, benchMaxId: Long,
      prev: Option[(String, Long)] = None): String =
    DerivedStore.cached(s"scrub_release_r$benchMaxId", dir, "documents") { root =>
      val d = graft.Catalog.table(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 50)
        .select(col("doc_id"), col("text"), col("source"))
      val h2 = Dedup.benchShingleHashes(
        d.filter(col("doc_id") < benchMaxId).select(col("doc_id"), col("text")))
        .localCheckpoint()
      val rows = prev match {
        case Some((prevRoot, prevMaxId)) =>
          val h1 = Dedup.benchShingleHashes(
            d.filter(col("doc_id") < prevMaxId).select(col("doc_id"), col("text")))
            .localCheckpoint()
          val v1 = s.read.parquet(s"$prevRoot/rows")
          val index = s.read.parquet(s"${buildShingleIndex(s, dir)}/pairs")
          Dedup.incrementalRescrubIndexed(
              corpus.select(col("doc_id"), col("text")),
              v1.drop("source", "batch_id"), index, h1, h2)
            .join(corpus.select(col("doc_id"), col("source")), Seq("doc_id"))
        case None =>
          batchScrub(corpus, h2)
      }
      rows.write.mode("overwrite").parquet(s"$root/rows/batch_id=0")
    }
}
