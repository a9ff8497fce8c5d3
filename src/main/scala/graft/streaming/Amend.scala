package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CORRECTED-CONTENT landings (amendments) as a first-class store
  * operation — the missing semantic between replay and erasure. Every
  * sink here is replay-safe by first-verdict-wins / per-batchId
  * overwrite-is-a-no-op, which is exactly right for a RE-DELIVERED
  * batch; but an upstream correction (a re-crawled shard, a fixed
  * parser) is not a replay: the batch's CONTENT changed, and the
  * correction must propagate through every derived store as if the
  * corrected content had landed from the start. The reference's own
  * incremental contract is the anchor — its MERGE INTO models
  * (reference `notebooks/databricks_data_flow.sql:193-203`) are
  * precisely "later corrected rows revise the table"; these entry
  * points give the stores the same contract, at store algebra instead
  * of row merge:
  *
  *  - SUM-cell stores ([[amendSumCells]]): the landing partition
  *    `batch_id=b` holds exactly `cells(old content)`, so the amendment
  *    is ONE partition overwrite with `cells(corrected)` — no negative
  *    delta, no knowledge of the old content needed, and every read
  *    (pinned at P ≥ b, windowed over a range containing b) serves the
  *    corrected-corpus recompute of its slice by the fold algebra.
  *  - Per-doc IDENTITY stores ([[amendIdentityLanding]], window-mode
  *    curation [[amendWindowCuration]]): rows are per-doc state keyed
  *    to their landing, so the amendment is the same partition
  *    overwrite — and a serve-time-election layout (q225's window
  *    mode) re-elects ownership among the corrected rows with NO
  *    corrective machinery at all, the same way its erasure needs no
  *    re-election. The landing keeps its AGE (the partition id), so
  *    retention expires corrected content on the original batch's
  *    clock — the contract a licensing window wants.
  *  - MATERIALIZED first-seen curation ([[amendCurationBatch]]): the
  *    fp-history/band-index/decision family materializes ownership, so
  *    a content change is erasure PLUS insertion: the old landing's
  *    docs are forgotten with the existing two-level re-election
  *    ([[Forget.forgetFromCurationStores]]), then the corrected batch
  *    lands through an ID-ORDERED re-electing insert
  *    ([[landCurationReelected]]) that handles the one case replay
  *    landings never face — a corrected doc whose id PRECEDES an
  *    existing owner of the same fingerprint (or band family) STEALS
  *    ownership, demoting the old owner and re-pointing its
  *    duplicates. The served decision table then equals the q127
  *    kernel run from scratch on the corrected corpus.
  *
  * Replay of an amendment is a no-op: every path recomputes the same
  * deterministic state (partition overwrites are idempotent; the
  * curation composition skips the forget leg when the old landing is
  * already gone and upserts its corrective rows, so a second pass
  * rewrites identical values). Amendments MUTATE history by design —
  * a pinned read at P ≥ b serves the corrected slice, the same trade
  * erasure makes (corrections outrank bit-identical time travel).
  */
object Amend {

  // ── the AMENDMENT CERTIFICATE: corrections audited like erasure ──────
  //
  // A licensing or provenance review asks the same question of a
  // correction it asks of a deletion: WHAT was replaced, WHEN, and how
  // much. Each amendment entry point takes an optional audit target and
  // writes one certificate row set under
  // `auditRoot/store=<name>/amend=<batchId>` with the PRE-COMPUTABLE
  // numbers (old rows erased, corrected rows landed) — written BEFORE
  // the mutation (the expiry-certificate lesson: proof must not be able
  // to lose a race with the change it proves) and FIRST-WRITER-WINS (a
  // replayed amendment sees the old landing already gone and must not
  // overwrite the original record with its no-op numbers). The
  // cumulative view is [[Compliance.ledger]]'s `amendAuditRoots` leg.

  private[graft] def certifyAmendment(spark: SparkSession,
      audit: Option[(String, String)], batchId: Long,
      rows: Seq[(String, Long, String)]): Unit =
    audit.foreach { case (root, name) =>
      val dir = new java.io.File(s"$root/store=$name/amend=$batchId")
      // first-writer-wins keyed on a COMMITTED certificate (the write's
      // `_SUCCESS`), not bare directory existence: a crash mid-write
      // leaves the dir existing with only `_temporary` debris, and an
      // exists() check would skip the rewrite FOREVER — the amendment's
      // proof lost while the mutation proceeds. Staged like the expiry
      // certificate: write a dot-tmp sibling (invisible to the audit
      // readers), then one atomic rename commits it.
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        import spark.implicits._
        val tmp = new java.io.File(dir.getParentFile, s".amend_tmp_$batchId")
        StoreCompaction.deleteRecursively(tmp)
        rows.toDF("action", "n", "detail").coalesce(1)
          .write.mode("overwrite").parquet(tmp.getPath)
        StoreCompaction.deleteRecursively(dir)
        require(tmp.renameTo(dir),
          s"amendment certificate commit $tmp -> $dir failed")
      }
    }

  /** The persisted amendment certificates under `auditRoot`; `store`
    * and `amend` (the amended batch id) ride as partition columns.
    */
  def amendmentCertificate(spark: SparkSession, auditRoot: String): DataFrame =
    spark.read.parquet(auditRoot)
      .select(col("store").cast("string"), col("amend").cast("long"),
        col("action"), col("n"), col("detail"))

  /** Refusal shapes shared by every partition-overwrite amendment: the
    * landing must still exist as ITS OWN partition, and no cross-batch
    * correction computed against the OLD content may be in flight.
    *
    *  - retention floor above `batchId`: the landing expired — its
    *    content left disk on the retention clock, and an amendment
    *    would re-introduce data below the floor;
    *  - compaction horizon at/above `batchId`: the landing folded into
    *    the base and its rows lost the batch identity the overwrite
    *    targets;
    *  - an epoch partition covering `batchId`: same, banded form;
    *  - a whole-wave forget horizon: the store carries negative cells
    *    computed against EVERY batch's old content — replacing batch
    *    b's positives would leave the wave's negation inconsistent;
    *  - split-forget negatives whose SOURCE is `batchId`: they negate
    *    what the OLD content added and would mis-subtract from the
    *    corrected cells. (Amend first, then re-issue the erasure wave
    *    against the corrected landing.)
    *
    * With `rebands` (the epoch re-band path, [[rebandsEpoch]]) the
    * compaction and folded-epoch refusals do not apply, and split
    * negatives archived with the epoch refuse as well as live ones.
    */
  def requireAmendable(storeDir: String, batchId: Long,
      allowSourcedNegatives: Boolean = false, rebands: Boolean = false): Unit = {
    require(batchId >= 0, s"amendments target ingest landings, got $batchId")
    StoreCompaction.retentionFloor(storeDir).filter(_ > batchId).foreach { f =>
      throw new IllegalStateException(
        s"cannot amend $storeDir batch $batchId: retention expired every " +
          s"landing below $f — the old content left disk on the retention " +
          "clock and a correction would re-introduce data below the floor")
    }
    if (!rebands) {
      StoreCompaction.compactionHorizon(storeDir).filter(_ >= batchId).foreach { h =>
        throw new IllegalStateException(
          s"cannot amend $storeDir batch $batchId: compaction folded batches " +
            s"up to $h into the base, so the landing is no longer its own " +
            "partition — amendments need the per-batch layout")
      }
      StoreCompaction.epochSizeOf(storeDir).foreach { es =>
        val e = batchId / es
        if (new java.io.File(storeDir,
            s"batch_id=${StoreCompaction.EpochFoldBase - e}").exists())
          throw new IllegalStateException(
            s"cannot amend $storeDir batch $batchId: epoch $e is folded and " +
              "the landing's rows lost their batch identity — amend before " +
              "banding reaches the batch, or opt the store into " +
              "declarePrefoldKeep (before folding) so late corrections " +
              "re-band the epoch from its pre-fold archive")
      }
    }
    StoreCompaction.forgetHorizon(storeDir).foreach { h =>
      throw new IllegalStateException(
        s"cannot amend $storeDir batch $batchId: a whole-wave forget " +
          s"(horizon $h) negated cells computed against the OLD content " +
          "of every batch — replacing this batch's positives would leave " +
          "the wave inconsistent; amend stores that take split forgets")
    }
    def sourcedAt(ids: Seq[Long]) = splitNegativesOf(ids, batchId)
    // `allowSourcedNegatives`: the STREAMED sink already re-applied every
    // outstanding forget request to the corrected content, so the
    // landing's sourced negatives are obsolete after the overwrite (their
    // positives are excluded from the corrected cells) and the amendment
    // DROPS them instead of refusing — the forget-then-amend commutation.
    // A direct caller without that guarantee keeps the refusal: dangling
    // negatives against replaced positives mis-subtract. ARCHIVED ones
    // folded INTO the epoch with their positives and a re-band's re-fold
    // would reproduce them against the corrected cells — always refuse.
    val live = if (allowSourcedNegatives) Nil
      else sourcedAt(StoreCompaction.partitionIds(new java.io.File(storeDir)))
    val staleNegs =
      if (rebands) live ++ sourcedAt(StoreCompaction.archivedIds(storeDir)) else live
    if (staleNegs.nonEmpty)
      throw new IllegalStateException(
        s"cannot amend $storeDir batch $batchId: split-forget negative(s) " +
          staleNegs.distinct.sorted.mkString(", ") +
          " negate what the OLD content added and would mis-subtract from " +
          "the corrected cells — amend first, then re-issue the erasure " +
          "wave against the corrected landing" + (if (rebands) "" else
          " (or route the correction " +
          "through the streamed sink with forgetRequestDirs, which " +
          "re-applies the erasure and retires the negatives)"))
  }

  /** The split-forget negative partitions among `ids` that negate landing
    * `batchId`.
    */
  private def splitNegativesOf(ids: Seq[Long], batchId: Long): Seq[Long] =
    ids.filter(id => id <= StoreCompaction.SplitForgetBase &&
      id > StoreCompaction.EpochFoldBase && StoreCompaction.splitSourceBatch(id) == batchId)

  /** Can `batchId` amend through the epoch RE-BAND path on this store —
    * i.e. the landing is inside a folded epoch AND the store opted into
    * keeping pre-fold deltas? (A folded epoch on a non-opted store still
    * refuses through [[requireAmendable]] — the loud dead end the
    * archive retires.)
    */
  private def rebandsEpoch(storeDir: String, batchId: Long): Boolean =
    StoreCompaction.prefoldKeepDeclared(storeDir) &&
      StoreCompaction.foldedEpochOf(storeDir, batchId).isDefined

  /** Amend a SUM-cell store's landing `batchId` to `corrected` content:
    * overwrite the landing partition with the store's own cell kernel
    * applied to the corrected batch. O(|corrected cells|), zero other
    * partitions touched; serving folds the corrected cells everywhere
    * the batch's slice qualifies. Idempotent (same content → same
    * partition bytes).
    *
    * On a store that opted into [[StoreCompaction.declarePrefoldKeep]],
    * a landing whose epoch has ALREADY BANDED amends through the
    * RE-BAND path: the corrected cells replace the archived pre-fold
    * delta and the epoch re-folds from the archive
    * ([[StoreCompaction.rebandEpochWithAmendment]]) — corrections
    * arrive late by nature, which is exactly when banding has reached
    * the landing, and the opt-in is what keeps them from being a dead
    * end. Cost: O(epoch), not O(store). Non-opted stores keep the loud
    * [[requireAmendable]] refusal.
    */
  def amendSumCells(t: CellStore, corrected: DataFrame,
      batchId: Long,
      audit: Option[(String, String)] = None,
      erasureReapplied: Boolean = false): Unit =
    StoreCompaction.withLease(t.dir) {
      // with `erasureReapplied` (the streamed sink filtered the corrected
      // content against every outstanding forget request), the landing's
      // LIVE sourced split negatives are obsolete once the overwrite
      // lands — their positives are no longer in the store — and they
      // DROP here, overwrite-first so no crash ordering ever serves the
      // forgotten docs' cells un-negated (the window between overwrite
      // and drop over-subtracts, which a replay converges; the reverse
      // order would resurrect)
      def sourcedNegatives(): Seq[Long] =
        if (!erasureReapplied) Nil
        else splitNegativesOf(
          StoreCompaction.partitionIds(new java.io.File(t.dir)), batchId)
      def dropNegatives(negs: Seq[Long]): Unit = negs.foreach { id =>
        StoreCompaction.deleteRecursively(
          new java.io.File(t.dir, s"batch_id=$id"))
      }
      val rebands = rebandsEpoch(t.dir, batchId)
      requireAmendable(t.dir, batchId, erasureReapplied, rebands)
      val negs = sourcedNegatives()
      val cells = t.cells(corrected).localCheckpoint()
      certifyAmendment(corrected.sparkSession, audit, batchId,
        (if (rebands) Seq(
          ("batch_amended", 1L, "sum-cell landing re-banded into its epoch"),
          ("epoch_rebanded",
            StoreCompaction.foldedEpochOf(t.dir, batchId).get,
            "folded epoch re-banded from the pre-fold archive"))
        else Seq(("batch_amended", 1L, "sum-cell landing partition replaced"))) ++
          Seq(("corrected_cells_landed", cells.count(),
            "cells of the corrected content, replacing the old landing's")) ++
          (if (negs.nonEmpty) Seq(("stale_negatives_dropped", negs.size.toLong,
            "sourced split negatives retired — the re-applied erasure " +
              "already excludes their docs from the corrected cells"))
           else Nil))
      if (rebands)
        StoreCompaction.rebandEpochWithAmendment(
          corrected.sparkSession, t.dir, batchId, cells)
      else
        cells.coalesce(1).write.mode("overwrite")
          .parquet(s"${t.dir}/batch_id=$batchId")
      dropNegatives(negs)
    }

  /** Amend a per-doc identity store's landing: `rows` is the store's
    * own per-batch row kernel applied to the corrected content (the
    * same frame its sink writes). Pure partition overwrite — correct
    * for every store whose rows are per-doc state with no cross-batch
    * ownership (scrub verdicts, code-switch rows, span index rows,
    * asset payloads).
    */
  def amendIdentityLanding(storeDir: String, rows: DataFrame,
      batchId: Long, subPartBy: Seq[String] = Nil,
      audit: Option[(String, String)] = None): Unit =
    StoreCompaction.withLease(storeDir) {
      requireAmendable(storeDir, batchId)
      certifyAmendment(rows.sparkSession, audit, batchId, Seq(
        ("batch_amended", 1L, "identity landing partition replaced"),
        ("corrected_docs_landed", rows.count(),
          "corrected per-doc rows, replacing the old landing's")))
      val w =
        (if (subPartBy.nonEmpty) rows.repartition(subPartBy.map(col): _*)
         else rows.coalesce(1)).write.mode("overwrite")
      // `subPartBy` preserves a nested partition axis through the
      // amendment (the landed asset store is batch_id=N/kind=K: a
      // payload correction re-lands the batch with the kind directories
      // intact, so family scans stay partition-pruned — the
      // surgicalDelete contract applied to corrections)
      (if (subPartBy.nonEmpty) w.partitionBy(subPartBy: _*) else w)
        .parquet(s"$storeDir/batch_id=$batchId")
    }

  /** Amend a WINDOW-MODE curation landing ([[CurationStream
    * .writeWindowDelta]]'s layout): overwrite the batch's per-doc fp
    * rows and band rows with the corrected batch's. Because ownership
    * is never materialized, the next [[CurationStream.windowedDecisions]]
    * election sees the corrected rows and re-elects implicitly — the
    * layout needs no corrective machinery for amendments, exactly as it
    * needs none for erasure. The landing keeps its age: retention
    * expires the corrected content on the original batch's clock.
    */
  def amendWindowCuration(corrected: DataFrame, fpDir: String,
      idxDir: String, batchId: Long,
      audit: Option[(String, String)] = None): Unit =
    StoreCompaction.withLeases(Seq(fpDir, idxDir)) {
      if (rebandsEpoch(fpDir, batchId) || rebandsEpoch(idxDir, batchId)) {
        // the pair bands together: a re-band of one store's epoch with
        // the other's landing still raw would split the election's view
        require(rebandsEpoch(fpDir, batchId) && rebandsEpoch(idxDir, batchId),
          s"cannot amend window-mode batch $batchId: only one of the " +
            s"fp/band stores is epoch-banded with a pre-fold archive — " +
            "the pair must band (and opt in) together")
        requireAmendable(fpDir, batchId, rebands = true)
        requireAmendable(idxDir, batchId, rebands = true)
        StoreCompaction.requireConfigMarker(idxDir, "_band_conf",
          graft.ops.Dedup.bandConfigFingerprint, writeIfAbsent = false,
          "banding configuration")
        val (fpRows, bandRows) = CurationStream.windowDeltaFrames(corrected)
        certifyAmendment(corrected.sparkSession, audit, batchId, Seq(
          ("batch_amended", 1L, "window-mode landing re-banded into its epoch"),
          ("epoch_rebanded",
            StoreCompaction.foldedEpochOf(fpDir, batchId).get,
            "folded fp+band epochs re-banded from the pre-fold archives"),
          ("corrected_docs_landed", corrected.count(),
            "corrected batch rows whose per-doc fp and band rows re-landed")))
        val spark = corrected.sparkSession
        StoreCompaction.rebandEpochWithAmendment(spark, fpDir, batchId,
          fpRows.localCheckpoint())
        StoreCompaction.rebandEpochWithAmendment(spark, idxDir, batchId,
          bandRows.localCheckpoint())
      } else {
        requireAmendable(fpDir, batchId)
        requireAmendable(idxDir, batchId)
        certifyAmendment(corrected.sparkSession, audit, batchId, Seq(
          ("batch_amended", 1L, "window-mode landing partitions replaced"),
          ("corrected_docs_landed", corrected.count(),
            "corrected batch rows whose per-doc fp and band rows re-landed")))
        CurationStream.writeWindowDelta(corrected, fpDir, idxDir, batchId)
      }
    }

  /** What one materialized-curation amendment did. */
  case class CurationAmendReport(nOldDocs: Long, nGated: Long,
      nSteals: Long, nRepointed: Long, nReelected: Long)

  /** Upsert `rows` into a store's `batch_id=partitionId` partition:
    * existing partition rows whose `keyCol` is NOT being replaced
    * survive the overwrite. This is what makes a replayed amendment
    * converge — a second pass recomputes a (possibly smaller) touched
    * set with identical values and must not wipe the first pass's other
    * corrective rows from the shared partition.
    */
  private def upsertPartition(spark: SparkSession, storeDir: String,
      partitionId: Long, rows: DataFrame, keyCol: String): Unit = {
    val part = new java.io.File(storeDir, s"batch_id=$partitionId")
    val merged =
      if (part.exists())
        spark.read.parquet(part.getPath)
          .join(rows.select(keyCol).distinct(), Seq(keyCol), "left_anti")
          .select(rows.columns.map(col): _*)
          .unionByName(rows)
          .localCheckpoint() // never overwrite a path a lazy plan still reads
      else rows
    merged.coalesce(1).write.mode("overwrite").parquet(part.getPath)
  }

  private def readStoreOrEmpty(spark: SparkSession, dir: String,
      like: DataFrame): DataFrame = {
    val f = new java.io.File(dir)
    val hasData = f.exists() && f.listFiles() != null &&
      f.listFiles().exists(x => x.isDirectory && x.getName.startsWith("batch_id="))
    if (hasData) spark.read.parquet(dir).select(like.columns.map(col): _*)
    else like.filter(lit(false))
  }

  /** ID-ORDERED re-electing INSERT into the materialized curation
    * family (fp / index / decisions / accepted / quarantine): land
    * `batch` so the family afterwards equals a from-scratch build over
    * (existing corpus ∪ batch) under the q127 keep-earliest kernel.
    * The piece ordinary [[CurationStream.processBatch]] landings never
    * need: a landed doc whose id PRECEDES an existing owner of its
    * fingerprint steals the ownership (the old owner demotes to exact
    * dup, its duplicates re-point, its bands leave the index), and band
    * families that gained a lower-id member re-rank. All corrective
    * rows land via [[upsertPartition]] under `landingId`, so a replayed
    * pass rewrites identical values instead of wiping siblings.
    *
    * Cost: detection joins on the batch's fps/buckets + affected
    * partitions + affected buckets' occupancy — never a corpus re-run
    * (the forget re-election's cost law, mirrored for insertion).
    */
  def landCurationReelected(spark: SparkSession, root: String,
      batch: DataFrame, landingId: Long): CurationAmendReport = {
    val stores = CurationStream.Layout(root)
    val (fpDir, idxDir, decDir, accDir, quarDir) = (stores.fp, stores.index,
      stores.decisions, stores.accepted, stores.quarantine)
    val gatedAll = CurationStream.gatedFingerprints(batch, withGateFailures = true)
    val gated = gatedAll.filter(col("keep")).drop("keep")

    // ── exact ownership, id-ordered across batch ∪ existing owners ──
    val fpHist = readStoreOrEmpty(spark, fpDir,
      gated.select("fp", "doc_id", "source"))
    val owners = fpHist
      .join(broadcast(gated.select("fp").distinct()), Seq("fp"), "left_semi")
      .select(col("fp"), col("doc_id").as("own_id"))
    val batchMin = gated.groupBy("fp").agg(min(col("doc_id")).as("b_min"))
    val fam = batchMin.join(owners, Seq("fp"), "left")
      .select(col("fp"), col("own_id"),
        least(col("b_min"), coalesce(col("own_id"), col("b_min")))
          .as("new_owner"))
      .localCheckpoint()
    // steals: an existing owner whose id follows the batch's family min
    val steals = fam
      .filter(col("own_id").isNotNull && col("new_owner") < col("own_id"))
      .select(col("fp"), col("own_id").as("demoted"), col("new_owner"))
      .localCheckpoint()
    val demotedIds = steals.select(col("demoted").as("doc_id")).distinct()
      .localCheckpoint()

    val exact = gated.join(fam.select("fp", "new_owner"), Seq("fp"))
      .select(col("doc_id"), col("fp"), col("text"), col("source"),
        (col("doc_id") =!= col("new_owner")).as("is_exact_dup"),
        when(col("doc_id") =!= col("new_owner"), col("new_owner"))
          .as("exact_dup_of"))
      .localCheckpoint()
    val reps = exact.filter(!col("is_exact_dup"))
      .select("doc_id", "text", "source", "fp")

    // duplicates pointing at a demoted owner re-point at the stealer
    val decHist = readStoreOrEmpty(spark, decDir,
      exact.select(CurationStream.exactDupRow(col("exact_dup_of")): _*))
    val repointed = decHist
      .join(broadcast(steals.select(col("demoted"), col("new_owner"))),
        col("exact_dup_of") === col("demoted"))
      .select(CurationStream.exactDupRow(col("new_owner")): _*)
      .localCheckpoint()

    // ── fp store: land stolen + fresh owners, drop demoted rows ──
    val ownerRows = reps
      .join(broadcast(fam.filter(col("own_id").isNull ||
          col("new_owner") < col("own_id")).select("fp")), Seq("fp"), "left_semi")
      .select("fp", "doc_id", "source")
    if (demotedIds.head(1).nonEmpty) {
      Forget.surgicalDelete(spark, fpDir, demotedIds)
      ()
    }
    upsertPartition(spark, fpDir, landingId, ownerRows, keyCol = "fp")

    // ── band index: capture demoted buckets, swap band rows ──
    val idxLike = LshStream.batchBands(gated.limit(0))
    val idxHist = readStoreOrEmpty(spark, idxDir, idxLike)
    val demotedBuckets = idxHist
      .join(demotedIds, Seq("doc_id"), "left_semi")
      .select("band_idx", "band_hash").distinct().localCheckpoint()
    if (demotedIds.head(1).nonEmpty) {
      Forget.surgicalDelete(spark, idxDir, demotedIds)
      ()
    }
    val repBands = LshStream.batchBands(reps.select("doc_id", "text"))
      .localCheckpoint()
    upsertPartition(spark, idxDir, landingId, repBands, keyCol = "doc_id")

    // ── band re-election over every bucket whose membership changed ──
    val buckets = demotedBuckets
      .unionByName(repBands.select("band_idx", "band_hash")).distinct()
    val (verdicts, _) = CurationStream.reelectBuckets(
      readStoreOrEmpty(spark, idxDir, idxLike).select("doc_id", "band_idx", "band_hash"),
      buckets)

    // ── decisions: one corrective row per touched doc ──
    val decRows = verdicts.select(CurationStream.bandVerdictRow: _*)
      .unionByName(exact.filter(col("is_exact_dup"))
        .select(CurationStream.exactDupRow(col("exact_dup_of")): _*))
      .unionByName(demotedIds
        .join(broadcast(steals), col("doc_id") === col("demoted"))
        .select(CurationStream.exactDupRow(col("new_owner")): _*))
      .unionByName(repointed)
      .groupBy("doc_id") // a doc can be both re-pointed and re-elected;
      // exact-dup rows outrank band rows (exact-first pipeline order)
      .agg(max(struct(col("is_exact_dup"), col("exact_dup_of"),
        col("n_earlier"), col("dup_of"), col("is_band_dup"))).as("d"))
      .select(col("doc_id"), col("d.is_exact_dup"), col("d.exact_dup_of"),
        col("d.n_earlier"), col("d.dup_of"), col("d.is_band_dup"))
      .localCheckpoint()
    val touched = decRows.select("doc_id").distinct().localCheckpoint()
    Forget.surgicalDelete(spark, decDir, touched)
    upsertPartition(spark, decDir, landingId, decRows, keyCol = "doc_id")

    // ── accepted / quarantine repair for every touched doc ──
    val accLike = gated.select("doc_id", "text", "source")
    val existingContent = readStoreOrEmpty(spark, accDir, accLike)
      .unionByName(readStoreOrEmpty(spark, quarDir, accLike)
        .select("doc_id", "text", "source"))
      .join(touched, Seq("doc_id"), "left_semi")
      .join(gatedAll.select("doc_id"), Seq("doc_id"), "left_anti")
    val contentRows = existingContent
      .unionByName(gatedAll.filter(col("keep"))
        .select("doc_id", "text", "source"))
      .localCheckpoint()
    val gateFails = gatedAll.filter(!col("keep"))
      .select(col("doc_id"), col("text"), col("source"),
        lit("gate").as("reason"))
    val repairIds = touched
      .unionByName(gatedAll.select("doc_id")).distinct().localCheckpoint()
    Forget.surgicalDelete(spark, accDir, repairIds)
    Forget.surgicalDelete(spark, quarDir, repairIds)
    val (accepted, quarantined) =
      CurationStream.splitByVerdict(contentRows.join(decRows, Seq("doc_id")))
    upsertPartition(spark, accDir, landingId, accepted, keyCol = "doc_id")
    upsertPartition(spark, quarDir, landingId, quarantined.unionByName(gateFails),
      keyCol = "doc_id")

    CurationAmendReport(0L, gatedAll.count(), steals.count(),
      repointed.count(), verdicts.count())
  }

  /** The per-landing CONTENT RECORD an amendment maintains: after
    * amending landing b, the landing's current doc set no longer lives
    * under `batch_id=b` (corrective rows land under the corrective
    * partition, shared with re-elections of OTHER docs), so a SECOND
    * amendment of the same landing could not find what to erase by
    * partition listing alone — its forget leg would silently skip and
    * leave the first correction's fp-owner and band rows stale. The
    * record (one tiny parquet of doc_ids per amended landing, under the
    * dot-prefixed `.amend_content` — invisible to every family scan) is
    * what the next amendment erases by; it commits by atomic rename
    * AFTER the mutation completes, so a crashed pass replays against
    * the previous record and converges.
    */
  private def amendContentDir(root: String, batchId: Long) =
    new java.io.File(s"$root/.amend_content/batch_id=$batchId")

  private def contentKey(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"), md5(col("text")).as("content_hash"),
      col("source")).distinct()

  private def recordAmendedContent(root: String, batchId: Long,
      batch: DataFrame): Unit = {
    val dir = amendContentDir(root, batchId)
    val tmp = new java.io.File(dir.getParentFile, s".tmp_$batchId")
    StoreCompaction.deleteRecursively(tmp)
    contentKey(batch).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    StoreCompaction.deleteRecursively(dir)
    require(tmp.renameTo(dir), s"amendment content record $dir failed")
  }

  /** Amend a MATERIALIZED curation landing: erase the landing's CURRENT
    * docs with the existing two-level re-election, then land the
    * corrected batch through the id-ordered re-electing insert. After
    * this the family's decision table equals the q127 kernel run from
    * scratch on the corrected corpus — including ownership steals when
    * a corrected doc precedes an existing owner, and family
    * re-elections when an amended doc WAS a keeper whose content
    * changed. `correctiveId` must be a fresh deterministic id (the
    * forget correctives land there; the insert correctives at
    * `correctiveId + 1`).
    *
    * REPEATED amendments of the same landing are first-class: the
    * landing's current docs come from the `.amend_content` record when
    * one exists (the original `batch_id=b` partitions are gone after
    * the first amendment — their corrective rows live in partitions
    * shared with OTHER docs' re-elections), so the second correction
    * erases exactly the first correction's docs — including docs the
    * second correction DROPS — before re-landing. A REPLAY of a
    * completed amendment (same landing, byte-identical content — the
    * record carries per-doc content hashes) is detected and SKIPPED as
    * an exact no-op: re-running the forget leg would overwrite its
    * corrective partition and wipe first-pass corrective rows for docs
    * the insert leg doesn't re-touch. The record commits by atomic
    * rename AFTER the mutation completes, so a crashed pass never looks
    * like a completed one and replays the full composition against the
    * pre-pass record. The certificate is first-writer-wins, so neither
    * a replay nor a crash recovery overwrites the original proof.
    *
    * The whole composite mutation (five stores) runs under a
    * family-wide maintenance lease, so a concurrent fp-history
    * compaction or maintenance pass cannot interleave between the
    * surgical-delete and upsert steps of one amendment; each store also
    * passes the [[requireAmendable]] refusal shapes (expired / folded
    * landings, in-flight split negatives) before anything mutates.
    *
    * EPOCH-BANDED landings amend too, when the store opted into
    * [[StoreCompaction.declarePrefoldKeep]] before banding: the
    * composition needs no re-fold (surgical deletes reach epoch
    * partitions and the archive; the insert lands corrective
    * partitions) — only the landing's doc list, which the archived
    * pre-fold delta supplies. Banded stores without the archive keep
    * the loud refusal.
    */
  def amendCurationBatch(spark: SparkSession, root: String,
      corrected: DataFrame, batchId: Long,
      correctiveId: Long,
      audit: Option[(String, String)] = None): CurationAmendReport = {
    val stores = CurationStream.Layout(root)
    val dirs = stores.dirs
    StoreCompaction.withLeases(dirs) {
      // An epoch-banded landing amends WITHOUT re-folding here: the
      // materialized composition is erase-by-doc-id (surgical deletes
      // are epoch-partition- and archive-transparent) + an id-ordered
      // re-electing INSERT into corrective partitions — neither needs
      // the landing to be its own partition. What banding DOES take is
      // the landing's doc list, which the pre-fold archive supplies
      // (landingDocs below); a store banded without the archive keeps
      // the refusal.
      dirs.foreach { d =>
        if (rebandsEpoch(d, batchId)) requireAmendable(d, batchId, rebands = true)
        else requireAmendable(d, batchId)
      }
      def landingDocs(dir: String): Option[DataFrame] = {
        val part = new java.io.File(dir, s"batch_id=$batchId")
        val arch = new java.io.File(dir,
          s"${StoreCompaction.PrefoldDirName}/batch_id=$batchId")
        if (part.exists()) Some(spark.read.parquet(part.getPath).select("doc_id"))
        else if (arch.exists())
          Some(spark.read.parquet(arch.getPath).select("doc_id"))
        else None
      }
      val recorded = {
        val d = amendContentDir(root, batchId)
        if (d.exists()) Some(spark.read.parquet(d.getPath)
          .select("doc_id", "content_hash", "source").localCheckpoint())
        else None
      }
      val key = contentKey(corrected).localCheckpoint()
      val isReplay = recorded.exists { r =>
        r.join(key, Seq("doc_id", "content_hash", "source"), "left_anti")
          .head(1).isEmpty &&
        key.join(r, Seq("doc_id", "content_hash", "source"), "left_anti")
          .head(1).isEmpty
      }
      if (isReplay) {
        // the record only commits after a COMPLETED pass, so the family
        // already reflects exactly this content — certify (first-writer-
        // wins makes it a no-op unless the crash hit the certificate
        // itself) and touch nothing
        certifyAmendment(spark, audit, batchId, Seq(
          ("batch_amended", 1L, "materialized curation landing re-elected"),
          ("old_docs_erased", 0L, "replay of a completed amendment"),
          ("corrected_docs_landed", key.count(),
            "corrected batch rows landed through the id-ordered insert")))
        CurationAmendReport(0L, 0L, 0L, 0L, 0L)
      } else {
        val oldIds = (landingDocs(stores.accepted).toSeq ++
          landingDocs(stores.quarantine).toSeq ++
          recorded.map(_.select("doc_id")).toSeq)
          .reduceOption(_ unionByName _)
          .map(_.distinct().localCheckpoint())
        val nOld = oldIds.map(_.count()).getOrElse(0L)
        certifyAmendment(spark, audit, batchId, Seq(
          ("batch_amended", 1L, "materialized curation landing re-elected"),
          ("old_docs_erased", nOld,
            "the landing's current docs forgotten with two-level re-election"),
          ("corrected_docs_landed", corrected.count(),
            "corrected batch rows landed through the id-ordered insert")))
        if (nOld > 0L)
          Forget.forgetFromCurationStores(spark, root, oldIds.get, correctiveId)
        val report = landCurationReelected(spark, root, corrected, correctiveId + 1)
          .copy(nOldDocs = nOld)
        recordAmendedContent(root, batchId, corrected)
        report
      }
    }
  }

  // ── STREAMED amendments: corrections as a request stream ─────────────
  //
  // The forgetSink discipline applied to corrections: amendment
  // requests land as files — rows of (amend_batch, doc_id, text,
  // source), one row per corrected doc, `amend_batch` naming the
  // landing being corrected — and each micro-batch applies
  // [[amendCurationBatch]] per targeted landing. Replay safety is the
  // forget sink's: a `_amend_<requestBatch>` marker commits after the
  // batch's amendments complete and replays skip on it (each
  // amendCurationBatch pass is itself convergent, so the marker is an
  // optimization AND the guard against re-running the forget leg with
  // a drifted corrective id).

  /** Reserved corrective-partition base for streamed amendments — far
    * above any ingest landing id (landings stay below
    * [[StoreCompaction.SplitStride]]), so the two id spaces never
    * collide and the corrective ids are DETERMINISTIC under replay
    * (request batch r, k-th targeted landing → base + 2·(16·r + k),
    * two ids per amendment: forget correctives and insert correctives).
    */
  val AmendCorrectiveBase = 500000000L

  /** One per-doc identity store as a streamed-amendment target: `rows`
    * is the store's own per-batch row kernel (the frame its sink
    * writes), `subPartBy` a nested partition axis to preserve (the
    * asset store's `kind`).
    */
  case class IdentityAmendTarget(name: String, storeDir: String,
      rows: DataFrame => DataFrame, subPartBy: Seq[String] = Nil)

  /** Which store families an amendment request stream corrects —
    * [[ForgetStream.ForgetTargets]]' mirror for corrections: any subset
    * of the materialized curation family (erase + id-ordered re-electing
    * insert), the window-mode curation pair (overwrite, serve-time
    * re-election), SUM-cell stores by their own cell kernels (one
    * partition overwrite each), and per-doc identity stores.
    *
    * `forgetRequestDirs` names the erasure request dirs (the parquet
    * sources [[ForgetStream.readRequestStream]] consumes) whose waves
    * must survive corrections: the sink drops previously-forgotten docs
    * from every corrected batch before amending (a re-crawled shard
    * naturally still contains them) and retires the now-obsolete split
    * negatives on SUM-cell stores — forget-then-amend ≡
    * amend-then-forget. ORDERING CONTRACT: the forget sink over those
    * dirs must have DRAINED before the amendment batch runs (run the
    * sinks erasure-first, the same discipline as erase-derived-stores-
    * first/content-last) — a request landed but not yet processed would
    * otherwise have its negatives landed AFTER the amendment already
    * excluded the docs, over-subtracting.
    */
  case class AmendTargets(
      curationRoot: Option[String] = None,
      windowCuration: Option[(String, String)] = None,
      cellStores: Seq[CellStore] = Nil,
      identityStores: Seq[IdentityAmendTarget] = Nil,
      forgetRequestDirs: Seq[String] = Nil)

  /** File-source amendment-request stream. */
  def readAmendStream(spark: SparkSession, requestDir: String): DataFrame =
    spark.readStream
      .schema("amend_batch LONG, doc_id LONG, text STRING, source STRING")
      .parquet(requestDir)

  /** One request batch's amendments across every target family —
    * exposed for the replay pin. Landings amend in ascending order with
    * deterministic corrective ids; the marker commits last, and each
    * family certifies under its own name when `auditRoot` is given.
    */
  def processAmendBatch(batch: DataFrame, targets: AmendTargets,
      markerRoot: String, batchId: Long,
      auditRoot: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    new java.io.File(markerRoot).mkdirs()
    val marker = new java.io.File(markerRoot, s"_amend_$batchId")
    if (marker.exists()) return
    // Corrections RESPECT PRIOR ERASURE: a re-crawled shard naturally
    // still contains docs a right-to-be-forgotten wave already removed,
    // and re-landing them through the amendment would silently undo the
    // erasure (an amendment replaces the WHOLE landing, so the corrected
    // rows are authoritative). The sink re-applies every outstanding
    // forget request to the corrected batch before it touches any store
    // — forget-then-amend ≡ amend-then-forget — and certifies the
    // reapplied mass. An empty post-filter slice still amends: every doc
    // of the landing was forgotten, so the landing's corrected content
    // IS empty.
    val erased = targets.forgetRequestDirs
      .filter(d => Option(new java.io.File(d).listFiles()).toSeq.flatten
        .exists(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")))
      .map(d => spark.read.parquet(d).select("doc_id"))
      .reduceOption(_ unionByName _).map(_.distinct().localCheckpoint())
    val kept = erased match {
      case Some(f) =>
        val nReapplied = batch.join(f, Seq("doc_id"), "left_semi").count()
        if (nReapplied > 0)
          certifyAmendment(spark, auditRoot.map((_, "erasure_reapply")),
            batchId, Seq(
              ("erasure_reapplied", nReapplied,
                "corrected rows dropped because a forget request already " +
                  "erased their docs — the correction must not resurrect them")))
        batch.join(f, Seq("doc_id"), "left_anti").localCheckpoint()
      case None => batch
    }
    val amended = batch.select(col("amend_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted
    require(amended.length <= 16,
      s"amendment request batch $batchId targets ${amended.length} landings; " +
        "the deterministic corrective-id window allows 16 per request batch")
    amended.zipWithIndex.foreach { case (b, k) =>
      val slice = kept.filter(col("amend_batch") === b)
        .select("doc_id", "text", "source").localCheckpoint()
      targets.cellStores.foreach { t =>
        amendSumCells(t, slice, b, audit = auditRoot.map((_, t.family)),
          erasureReapplied = targets.forgetRequestDirs.nonEmpty)
      }
      targets.windowCuration.foreach { case (fp, idx) =>
        amendWindowCuration(slice, fp, idx, b,
          audit = auditRoot.map((_, "curation_window")))
      }
      targets.identityStores.foreach { it =>
        amendIdentityLanding(it.storeDir, it.rows(slice), b,
          subPartBy = it.subPartBy, audit = auditRoot.map((_, it.name)))
      }
      targets.curationRoot.foreach { root =>
        amendCurationBatch(spark, root, slice, batchId = b,
          correctiveId = AmendCorrectiveBase + 2L * (16L * batchId + k),
          audit = auditRoot.map((_, "curation")))
        ()
      }
    }
    marker.createNewFile()
    ()
  }

  /** The amendment sink: Trigger.AvailableNow + checkpoint like the
    * forget twin. `markerRoot` should live beside the checkpoint.
    */
  def amendSink(stream: DataFrame, targets: AmendTargets, markerRoot: String,
      checkpointDir: String,
      auditRoot: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    StoreCompaction.sink(stream, "amendment_requests", checkpointDir) { (batch, batchId) =>
      processAmendBatch(batch, targets, markerRoot, batchId, auditRoot)
    }
}
