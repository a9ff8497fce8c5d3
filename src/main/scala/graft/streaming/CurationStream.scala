package graft.streaming

import graft.ops.{Corpus, Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The CONSOLIDATED curation sink — gate, exact-fingerprint dedup, and
  * band-index near-dup verdicts as ONE pass per micro-batch, in the
  * exact-first order the banding cost law demands (the §8 probe: band
  * candidates are quadratic in bucket occupancy and exact copies are
  * the degenerate occupants, so LSH must only ever see fingerprint
  * representatives — the 779× candidate reduction the batch
  * nearDupPipeline pins). CorpusStream and LshStream remain the
  * single-concern sinks; this is their composition without a second
  * pass over the batch text:
  *
  *   1. gate (Corpus.gateFrame — the batch predicates verbatim),
  *   2. exact verdicts: a doc is an exact dup when its normalized-text
  *      fingerprint has an EARLIER owner (fp-history min or a lower id
  *      in its own batch); survivors are the fp representatives,
  *   3. band verdicts (q124's keep-earliest rule) for SURVIVORS only,
  *      against the maintained band index + the batch's own survivor
  *      bands,
  *   4. stores: fp history rows for the survivors (anti-join makes
  *      re-delivery a no-op), survivor bands and the combined decision
  *      audit — ALL as per-batchId overwrite partitions (replay-safe).
  *
  * Decision rows carry both verdicts: (doc_id, is_exact_dup,
  * exact_dup_of, n_earlier, dup_of, is_band_dup) — band columns are
  * null for exact dups, which never reach banding.
  */
object CurationStream {

  /** The materialized curation family under one root: fingerprint
    * history, band index, decision audit, and the accepted/quarantine
    * split a training reader consumes.
    */
  final case class Layout(root: String) {
    val fp: String = s"$root/fp"
    val index: String = s"$root/index"
    val decisions: String = s"$root/decisions"
    val accepted: String = s"$root/accepted"
    val quarantine: String = s"$root/quarantine"
    def dirs: Seq[String] = Seq(fp, index, decisions, accepted, quarantine)
  }

  /** The decision audit's columns, in store order. */
  val DecisionCols: Seq[String] =
    Seq("doc_id", "is_exact_dup", "exact_dup_of", "n_earlier", "dup_of", "is_band_dup")

  /** The decision row of an exact duplicate of `owner`: exact dups never
    * reach banding, so the band columns are null.
    */
  private[graft] def exactDupRow(owner: Column): Seq[Column] =
    Seq(col("doc_id"), lit(true).as("is_exact_dup"), owner.as("exact_dup_of"),
      lit(null).cast("long").as("n_earlier"), lit(null).cast("long").as("dup_of"),
      lit(null).cast("boolean").as("is_band_dup"))

  /** The decision row of an exact survivor from its keep-earliest verdict. */
  private[graft] val bandVerdictRow: Seq[Column] =
    Seq(col("doc_id"), lit(false).as("is_exact_dup"),
      lit(null).cast("long").as("exact_dup_of"),
      col("n_earlier"), col("dup_of"), col("is_band_dup"))

  /** The batch's gate-passing docs with their normalized-text fingerprint,
    * (doc_id, text, source, fp), checkpointed. With `withGateFailures`,
    * every doc with its gate verdict: (doc_id, text, source, keep, fp).
    */
  private[graft] def gatedFingerprints(batch: DataFrame,
      withGateFailures: Boolean = false): DataFrame = {
    val judged = batch
      .join(Corpus.gateFrame(batch).select(col("doc_id"), col("keep")), Seq("doc_id"))
    val fp = md5(TextOps.normalized(col("text"))).as("fp")
    (if (withGateFailures)
      judged.select(col("doc_id"), col("text"), col("source"), col("keep"), fp)
    else judged.filter(col("keep")).select(col("doc_id"), col("text"), col("source"), fp))
      .localCheckpoint()
  }

  /** Keep-earliest re-election for every doc of the band index `idx` with
    * a band row in `buckets` (band_idx, band_hash) — the only docs whose
    * partner sets change when those buckets gain or lose a member —
    * against all of `idx`. Returns (verdicts, re-elected doc ids), both
    * checkpointed.
    */
  private[graft] def reelectBuckets(idx: DataFrame,
      buckets: DataFrame): (DataFrame, DataFrame) = {
    val affectedDocs = idx.join(buckets, Seq("band_idx", "band_hash"), "left_semi")
      .select("doc_id").distinct().localCheckpoint()
    val affBands = idx.join(affectedDocs, Seq("doc_id"), "left_semi")
    (Dedup.keepEarliestVerdicts(affectedDocs,
      Dedup.earlierBandPartners(affBands, idx)).localCheckpoint(), affectedDocs)
  }

  /** The expectations split of docs joined to their decision columns
    * (`is_exact_dup` null when the gate rejected the doc): accepted docs
    * passed the gate with no exact or band dup; every other doc is
    * quarantined with the first failing stage as its reason ('gate' |
    * 'exact_dup' | 'near_dup'). Both keep the doc columns of `judged`.
    * Returns (accepted, quarantine).
    */
  private[graft] def splitByVerdict(judged: DataFrame): (DataFrame, DataFrame) = {
    val docCols = judged.columns.filterNot(DecisionCols.tail.contains).map(col).toSeq
    val band = coalesce(col("is_band_dup"), lit(false))
    (judged.filter(col("is_exact_dup").isNotNull && !col("is_exact_dup") && !band)
      .select(docCols: _*),
      judged.filter(col("is_exact_dup").isNull || col("is_exact_dup") || band)
        .select(docCols :+
          when(col("is_exact_dup").isNull, lit("gate"))
            .when(col("is_exact_dup"), lit("exact_dup"))
            .otherwise(lit("near_dup")).as("reason"): _*))
  }

  def readDocStream(spark: SparkSession, landingDir: String): DataFrame =
    CorpusStream.readDocStream(spark, landingDir)

  /** One micro-batch's consolidated fold; exposed for the replay pin.
    * When `acceptedDir`/`quarantineDir` are given, the DLT-expectations
    * WRITE path runs too: accepted documents (gate-passing, no exact or
    * band dup) land in one store and every reject lands in the
    * quarantine with its reason ('gate' | 'exact_dup' | 'near_dup' —
    * first failing stage wins, mirroring the pipeline order), both as
    * per-batchId overwrite partitions. The decision table stays the
    * audit; these are the stores a training reader consumes.
    */
  def processBatch(batch: DataFrame, fpDir: String, indexDir: String,
      decisionsDir: String, batchId: Long,
      acceptedDir: Option[String] = None,
      quarantineDir: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val gated = gatedFingerprints(batch)

    // exact verdicts: earliest owner of each fp among history + the batch.
    // History excludes this batch's own partition (batch_id < batchId) so
    // a partially-visible replay write is never its own history. The
    // store is ONE ROW PER FP by construction (per-batch survivors are
    // fp-distinct and anti-joined against history before writing), so
    // history needs no aggregation — and the per-batch cost law matters
    // at scale: probe the big store with the SMALL batch's fp set via a
    // broadcast semi-join (history is scanned, never shuffled), then the
    // matched slice (≤ batch size) broadcasts into the verdict join.
    // The old groupBy(fp).min shape re-shuffled the ENTIRE store every
    // micro-batch.
    val fpFile = new java.io.File(fpDir)
    val histMin =
      if (fpFile.exists() && fpFile.listFiles() != null && fpFile.listFiles().nonEmpty)
        fpHistorySlice(spark, fpDir, batchId, gated.select("fp").distinct())
      else gated.select(col("fp"), col("doc_id").as("h_min")).filter(lit(false))
    val batchMin = gated.groupBy("fp").agg(min(col("doc_id")).as("b_min"))
    // FIRST-SEEN-WINS ownership: a history owner precedes every doc in
    // this batch (it arrived in an earlier micro-batch) REGARDLESS of id;
    // within the batch the lowest id is the canonical first owner. Under
    // id-ordered arrival h_min < b_min always, so this is bit-equal to
    // the id-order composition; out of order, decisions stay FINAL — the
    // first-seen copy keeps ownership and a late lower-id copy becomes
    // the duplicate (the old `least(h_min, b_min) < doc_id` test let
    // BOTH copies through). A re-delivered doc owns its own history row
    // (h_min = doc_id), so it is correctly not its own duplicate.
    val exact = gated
      .join(batchMin, Seq("fp"))
      .join(broadcast(histMin), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("source"),
        coalesce(col("h_min"), col("b_min")).as("first_owner"))
      .select(col("doc_id"), col("fp"), col("source"),
        (col("first_owner") =!= col("doc_id")).as("is_exact_dup"),
        when(col("first_owner") =!= col("doc_id"), col("first_owner"))
          .as("exact_dup_of"))
      .localCheckpoint()

    // band verdicts for fp survivors only (exact-first ordering)
    val survivors = gated.join(
      exact.filter(!col("is_exact_dup")).select("doc_id"), Seq("doc_id"), "left_semi")
    val bands = LshStream.batchBands(survivors).localCheckpoint()
    val idxHist = StoreCompaction.historyBefore(spark, indexDir, batchId,
      bands.filter(lit(false))).select("doc_id", "band_idx", "band_hash")
    val partners = Dedup.firstSeenBandPartners(bands, idxHist)
    val bandVerdicts = Dedup.keepEarliestVerdicts(survivors.select("doc_id"), partners)

    // decisions: both verdicts in one audit row
    val decisionRows = exact
      .join(bandVerdicts, Seq("doc_id"), "left")
      .select(DecisionCols.map(col): _*)
      .localCheckpoint()
    decisionRows
      .write.mode("overwrite").parquet(s"$decisionsDir/batch_id=$batchId")

    // expectations-style split: accepted store + quarantine-with-reason
    if (acceptedDir.isDefined || quarantineDir.isDefined) {
      val (accepted, quarantined) = splitByVerdict(batch.join(
        decisionRows.select("doc_id", "is_exact_dup", "is_band_dup"), Seq("doc_id"), "left"))
      acceptedDir.foreach(dir =>
        accepted.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId"))
      quarantineDir.foreach(dir =>
        quarantined.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId"))
    }
    // band index grows by the survivors' bands
    bands.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
    // fp history grows by the survivors' fingerprints — a per-batchId
    // OVERWRITE partition like every other store (a crashed-then-replayed
    // batch rewrites identical rows instead of appending a second copy;
    // history stays one row per fp by construction, not by the min()
    // fold absorbing drift). The anti-join on fp keeps a re-delivered
    // file under a NEW name a no-op across batches.
    val freshFps = exact.filter(!col("is_exact_dup"))
      .select(col("fp"), col("doc_id"), col("source"))
      .join(broadcast(histMin.select("fp")), Seq("fp"), "left_anti")
    freshFps.write.mode("overwrite").parquet(s"$fpDir/batch_id=$batchId")
  }

  /** [[processBatch]] into every store of the family at `stores`. */
  def processBatch(batch: DataFrame, stores: Layout, batchId: Long): Unit =
    processBatch(batch, stores.fp, stores.index, stores.decisions, batchId,
      Some(stores.accepted), Some(stores.quarantine))

  /** The history slice for one batch's fingerprints: the store probed
    * with a broadcast semi-join on the SMALL batch fp set — history is
    * scanned, never shuffled, and the result is ≤ batch-sized (one row
    * per fp by store construction). Exposed as a seam so the spec can
    * pin the executed plan: no exchange anywhere, broadcast semi probe.
    */
  def fpHistorySlice(spark: SparkSession, fpDir: String, batchId: Long,
      batchFps: DataFrame): DataFrame =
    spark.read.parquet(fpDir).filter(col("batch_id") < batchId)
      .join(broadcast(batchFps.select("fp")), Seq("fp"), "left_semi")
      .select(col("fp"), col("doc_id").as("h_min"))

  /** Trigger.AvailableNow + checkpoint, like every ingest twin. Pass
    * `acceptedDir`/`quarantineDir` to run the expectations write path.
    */
  def curationSink(stream: DataFrame, fpDir: String, indexDir: String,
      decisionsDir: String, checkpointDir: String,
      acceptedDir: Option[String] = None,
      quarantineDir: Option[String] = None): StreamingQuery =
    StoreCompaction.sink(stream, "curated_corpus_ingest", checkpointDir) { (batch, batchId) =>
      processBatch(batch, fpDir, indexDir, decisionsDir, batchId,
        acceptedDir, quarantineDir)
    }

  /** The combined decision audit across all batches, in doc order —
    * FIRST-VERDICT-WINS: if a doc somehow decided twice (a re-delivered
    * file under a new name lands it in a later batch), the earliest
    * batch's row is the authoritative one, so a published decision is
    * never silently revised by a replayed delivery. One row per doc in
    * the normal case, where the min_by is a pass-through.
    */
  def decisions(spark: SparkSession, decisionsDir: String): DataFrame =
    spark.read.parquet(decisionsDir)
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("is_exact_dup"), col("exact_dup_of"),
          col("n_earlier"), col("dup_of"), col("is_band_dup")),
        col("batch_id").cast("long")).as("d"))
      .select(col("doc_id"), col("d.is_exact_dup"), col("d.exact_dup_of"),
        col("d.n_earlier"), col("d.dup_of"), col("d.is_band_dup"))
      .orderBy("doc_id")

  // ── curation under RETENTION: the per-doc (window-mode) layout ────────
  //
  // The streamed stores above are FIRST-SEEN-GLOBAL by design: the fp
  // history keeps ONE row per fingerprint ever (owned by the first batch
  // that saw it) and the band index holds bands for exact-SURVIVORS
  // only — the layout that makes per-batch serving O(batch). That same
  // design means a retention WINDOW cannot slice them: a window doc
  // whose fp owner (or band rep) landed in an expired batch has no row
  // in the windowed slice at all. The window-mode layout trades the
  // materialized ownership for PER-DOC identity rows — every gated doc
  // lands its fp row and its band rows in ITS batch — and elects
  // ownership AT SERVE TIME over the window slice (the q223 discipline
  // applied to the whole curation verdict). What that buys:
  //
  //  - retention: expiry is pure partition drops; windows are pure
  //    partition slices (both stores are per-doc identity state);
  //  - erasure: surgical per-doc deletes, NO re-election correctives —
  //    ownership is never materialized, so the next election just
  //    elects among whoever survives;
  //  - serving: one in-window election (fp min + rep banding), O(window
  //    rows), zero text — `windowprobe` measured the election flat in
  //    store size and ~1.5× cheaper than re-banding window text.
  //
  // Cost: the band store holds ALL gated docs' bands (exact-first
  // pruning moves from write time to serve time), and serving pays the
  // election join instead of a pure store read — the price of a layout
  // that can age, and the reason both layouts exist.

  /** The two per-batch frames one window-mode landing writes: the gated
    * batch's per-doc fingerprint rows and per-doc band rows — shared by
    * [[writeWindowDelta]] and the epoch re-band amendment path (which
    * needs the same frames computed from a CORRECTED batch).
    */
  private[graft] def windowDeltaFrames(batch: DataFrame): (DataFrame, DataFrame) = {
    val gated = gatedFingerprints(batch)
    (gated.select("doc_id", "fp", "source"), LshStream.batchBands(gated))
  }

  /** One landing of the window-mode curation stores: the gated batch's
    * per-doc fingerprint rows and per-doc band rows, each an
    * OVERWRITE-idempotent per-batchId partition.
    */
  def writeWindowDelta(batch: DataFrame, fpDir: String, idxDir: String,
      batchId: Long): Unit = {
    StoreCompaction.requireConfigMarker(idxDir, "_band_conf",
      Dedup.bandConfigFingerprint, writeIfAbsent = true,
      "banding configuration")
    val (fpRows, bandRows) = windowDeltaFrames(batch)
    StoreCompaction.writeEvolvedDelta(fpRows, fpDir, batchId)
    StoreCompaction.writeEvolvedDelta(bandRows, idxDir, batchId)
  }

  /** The q127 curation decision table over a retention WINDOW
    * [lo, upto], served off the window-mode stores alone: exact
    * first-owner-per-fp verdicts elected over the windowed fp slice,
    * keep-earliest band verdicts among the window's fp REPRESENTATIVES
    * (exact-first ordering applied at serve time), one row per gated
    * window doc. Equals batch q127 run from scratch on the window's
    * surviving corpus — gate verdicts are per-row (a doc absent from
    * the fp slice was gate-failed or erased), and elections see exactly
    * the rows that survived erasure and expiry.
    */
  def windowedDecisions(spark: SparkSession, fpDir: String, idxDir: String,
      lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireConfigMarker(idxDir, "_band_conf",
      Dedup.bandConfigFingerprint, writeIfAbsent = false,
      "banding configuration")
    val fps = StoreCompaction.readWindow(spark, fpDir, lo, upto)
      .select("doc_id", "fp")
    val firstOwner = fps.groupBy("fp").agg(min(col("doc_id")).as("first"))
    val exact = fps.join(firstOwner, Seq("fp"))
      .select(col("doc_id"),
        (col("first") < col("doc_id")).as("is_exact_dup"),
        when(col("first") < col("doc_id"), col("first")).as("exact_dup_of"))
    val repIds = fps.join(firstOwner,
        fps("doc_id") === firstOwner("first"), "left_semi")
      .select("doc_id")
    val bands = StoreCompaction.readWindow(spark, idxDir, lo, upto)
      .select("doc_id", "band_idx", "band_hash")
      .join(repIds, Seq("doc_id"), "left_semi")
    val verdicts = Dedup.keepEarliestVerdicts(repIds,
      Dedup.firstSeenBandPartners(bands, bands.filter(lit(false))))
    exact.join(verdicts, Seq("doc_id"), "left")
      .select(DecisionCols.map(col): _*)
      .orderBy("doc_id")
  }

  /** CROSS-MODAL verdict service: compose the text curation decisions
    * (gate → exact fp → text band) with the image-phash and audio-code
    * keep-earliest stores into ONE verdict per document — q127's
    * first-failing-stage reason convention extended across modalities
    * (gate → text_exact → text_near → image_near → audio_near), q186's
    * composition served off the three STREAMED stores with zero corpus
    * rescans. The image store is the doc spine (every landed doc has an
    * image row); a doc absent from the text store was gate-failed. All
    * three inputs are first-verdict-wins audits, so the composition
    * inherits their replay safety. At 100 TB this is three
    * decision-store scans and two doc_id joins — no text, pixels, or
    * samples are touched at serving time, EXCEPT the bounded audio L1
    * verify below.
    *
    * Audio L1 VERIFY: the streamed audio band store trusts exact
    * half-code matches — a 2⁻⁴⁸ collision between unrelated docs would
    * ship a wrong verdict that the batch path (q176, which always L1-
    * verifies) clears. Pass `audioContent` (the doc frame the audio
    * envelopes derive from, with `audioFixtureId` mapping ids the way
    * the band store's fixture did) and the audio leg reads
    * [[graft.ops.Multimodal.audioDecisionsVerified]] instead of the raw
    * band decisions: every FLAGGED pair's envelopes are recomputed and
    * the verdict is cleared when the L1 distance refutes it. Cost is
    * bounded by the flagged docs (never the corpus), which is why the
    * serving path can afford to verify every positive.
    */
  def crossModalDecisions(spark: SparkSession, textDecisionsDir: String,
      imgDecisionsDir: String, audDecisionsDir: String,
      audioContent: Option[DataFrame] = None,
      audioFixtureId: Long => Long = identity): DataFrame = {
    val t = decisions(spark, textDecisionsDir)
      .select(col("doc_id"), col("is_exact_dup"), col("is_band_dup"),
        lit(true).as("in_text"))
    val i = LshStream.decisions(spark, imgDecisionsDir)
      .select(col("doc_id"), col("is_band_dup").as("img_dup"))
    val a = audioContent
      .map(c => graft.ops.Multimodal.audioDecisionsVerified(
        spark, audDecisionsDir, c, audioFixtureId))
      .getOrElse(LshStream.decisions(spark, audDecisionsDir))
      .select(col("doc_id"), col("is_band_dup").as("aud_dup"))
    // LEFT join from the image spine, never inner: a doc whose audio
    // sink lags a landing must SURFACE as an explicit missing_modality
    // row (accepted = false), not silently vanish from the verdict set
    i.join(a, Seq("doc_id"), "left")
      .join(t, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("aud_dup").isNull, lit("missing_modality"))
          .when(col("in_text").isNull, lit("gate"))
          .when(col("is_exact_dup"), lit("text_exact"))
          .when(coalesce(col("is_band_dup"), lit(false)), lit("text_near"))
          .when(col("img_dup"), lit("image_near"))
          .when(col("aud_dup"), lit("audio_near"))
          .as("reason"))
      .withColumn("accepted", col("reason").isNull)
      .orderBy("doc_id")
  }

  // ── store maintenance: retention for the accreting partition stores ──

  /** Fold fingerprint-history delta partitions with `batch_id <= upto`
    * (plus any existing base) into one base partition — the retention
    * path for the store that otherwise accretes a partition per
    * micro-batch forever. The fold is a plain row union (history is one
    * row per fp by construction); protocol and crash-safety are
    * StoreCompaction's. Cost is O(fp rows) of narrow fixed-width rows —
    * never document text.
    */
  def compactFpHistory(spark: SparkSession, fpDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, fpDir, upto)(_.select("fp", "doc_id", "source"))

  /** O(delta) MINOR fold for the fp store: delta partitions move into
    * the base as fingerprint-bucketed files WITHOUT reading the base
    * (`StoreCompaction.appendInto`) — the steady-state retention call.
    * `compactFpHistory` stays the whole-base major fold;
    * `StoreCompaction.compactBaseBuckets` is the bounded middle level
    * that rewrites only over-threshold buckets.
    */
  def appendFpHistory(spark: SparkSession, fpDir: String, upto: Long): Long =
    StoreCompaction.appendInto(spark, fpDir, upto, Seq("fp"))

  /** Audit-store retention: drop decision/quarantine partitions with
    * `batch_id < keepFrom`. The decision and quarantine tables are audit
    * output, not pipeline state — nothing reads them back into verdicts
    * — so retention is a plain partition drop, O(expired partitions).
    * (The accepted store is the product; it is never pruned here.)
    */
  def pruneAudit(auditDir: String, keepFrom: Long): Long = {
    val root = new java.io.File(auditDir)
    val expired = StoreCompaction.partitionIds(root).filter(_ < keepFrom)
    expired.foreach(id =>
      StoreCompaction.deleteRecursively(new java.io.File(root, s"batch_id=$id")))
    expired.size.toLong
  }
}
