package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming right-to-be-forgotten: erasure REQUESTS land as files
  * (rows of doc_id) and each micro-batch applies the store-appropriate
  * [[Forget]] mechanics — the batch machinery made continuous, like
  * every other maintenance sink.
  *
  * ORDERING CONSTRAINT the API makes explicit: additive-store erasure
  * (LM / diversity cells) lands the forgotten docs' cells NEGATED, so
  * the content must still be resolvable when the request is processed —
  * `content` is the archive frame (corpus table, or the curation
  * accepted ∪ quarantine stores) the requested ids are looked up in.
  * Erase the derived stores FIRST, the content archive LAST (the
  * DELETE-before-VACUUM ordering, same reason).
  *
  * Store-partition convention: negative deltas land under
  * `batch_id = ForgetBase − requestBatchId` — a reserved NEGATIVE id
  * range far below [[StoreCompaction.BasePartition]], so forget
  * landings never collide with the ingest stream's id space, every
  * pinned read still folds them (`batch_id <= upto` admits negatives:
  * erasure is retroactive BY LAW — a release pin must not resurrect
  * forgotten content), and compaction folds them into the base like any
  * other delta (the negation survives the fold, ForgetSpec's law).
  *
  * Idempotence: identity-store forgets append corrective partitions, so
  * a replayed foreachBatch must not re-run them — each request batch
  * commits a `_forget_<id>` marker and replays skip on it (additive
  * forgets are naturally replay-safe — same partition, same rows,
  * overwrite — but share the marker for uniformity).
  */
object ForgetStream {

  /** Reserved partition-id base for forget landings on additive stores. */
  val ForgetBase = -1000L

  /** Which stores a forget request stream erases from — any subset of
    * EVERY content-bearing store family in the system:
    *
    *  - additive negative landings: any [[CellStore]] (LM cells, the
    *    diversity pair, k-anonymity QI cells, the CDC pair,
    *    eval/feature/MW/occupancy cells), each certified under its
    *    declared family;
    *  - identity surgical deletes: shingle inverted indexes (the q185
    *    serving index, the q198 release-delta store, the q199 trend
    *    store — same row shape), scrub verdict stores, window-majority
    *    (code-switch) cells, and the asset store's payload bytes
    *    (`(dir, partCol)` — kind- or batch-partitioned);
    *  - re-elections: band-store pair, full curation family root, span
    *    window store (first-occurrence re-election vs the surviving
    *    archive), embedding history+decisions pair (cluster-bounded
    *    semantic re-election; ids are vec_ids for that pair).
    *
    * The asset store is erased LAST within a batch — payload bytes are
    * the content archive's closest relative, and every other store may
    * need the content resolvable first (the archive-last rule).
    *
    * `splitBySrcBatch` switches the ADDITIVE families to PIN-PRESERVING
    * erasure ([[CellStore.forgetSplit]]): the content archive must
    * then carry each doc's original landing batch in a `src_batch`
    * column, the wave lands one negative delta per source batch instead
    * of one per wave, and NO forget horizon is sealed — release pins
    * registered before the wave keep serving, erasure applied inside
    * each pinned slice. Identity and re-election stores are unaffected
    * either way (surgical deletes keep pinned reads exact by
    * construction).
    */
  case class ForgetTargets(
      cellStores: Seq[CellStore] = Nil,
      bandStores: Option[(String, String)] = None,
      curationRoot: Option[String] = None,
      shingleIndexDirs: Seq[String] = Nil,
      scrubStoreDirs: Seq[String] = Nil,
      csDeltaDir: Option[String] = None,
      spanDeltaDir: Option[String] = None,
      spanIndexDir: Option[String] = None,
      semanticStores: Option[(String, String)] = None,
      assetStore: Option[(String, String)] = None,
      splitBySrcBatch: Boolean = false)

  /** File-source forget-request stream: parquet rows with a `doc_id`
    * column landing in `requestDir`.
    */
  def readRequestStream(spark: SparkSession, requestDir: String): DataFrame =
    spark.readStream
      .schema("doc_id LONG")
      .parquet(requestDir)

  /** The ERASURE CERTIFICATE — what a GDPR/right-to-be-forgotten audit
    * actually wants from a pipeline: per request batch, one persisted
    * row per store ACTION taken (rows removed by surgical deletes,
    * negative landings and their split count, re-elections and their
    * corrective sizes), written by [[processBatch]] BEFORE the request
    * marker commits (a replayed batch overwrites the same report —
    * idempotent like every landing here). `n`'s meaning is per-action
    * and named by `detail`; q202's external ground-truthing pattern
    * applies to any row.
    */
  def erasureCertificate(spark: SparkSession, markerRoot: String): DataFrame =
    spark.read.parquet(s"$markerRoot/reports")

  /** How a certificate under `markerRoot` names `store`: relative to the
    * marker root's parent when the store lies under it, else by absolute
    * path. A directory holding the markers and the stores can then move
    * as a whole — a derived store is built in a staging dir and renamed
    * into place — and its certificates still name its stores.
    */
  private[streaming] def certifiedStore(markerRoot: String, store: String): String = {
    val base = java.nio.file.Paths.get(markerRoot).toAbsolutePath.normalize.getParent
    val p = java.nio.file.Paths.get(store).toAbsolutePath.normalize
    if (p.startsWith(base)) base.relativize(p).toString else p.toString
  }

  /** One request batch's full fold — exposed so specs can pin replay
    * (same batchId re-run) as a no-op across every target store.
    *
    * Two commit protocols guard the crash windows:
    *  - the ORDERING CONSTRAINT is enforced, not documented: every
    *    requested id must resolve in `content` — an unresolvable id
    *    means the content archive was erased FIRST (or the request is
    *    bogus), additive negation is then impossible, and silently
    *    landing nothing would under-erase forever. Fails loudly instead.
    *  - negative delta partitions are stamped
    *    [[StoreCompaction.ForgetCommittedName]] only AFTER the request
    *    marker commits; maintenance folds skip unstamped negative
    *    partitions, so a crash-before-marker + fold + checkpoint replay
    *    can never double-subtract (the replay overwrites the still-
    *    unfolded partition instead of re-landing beside folded rows).
    *    A replay that finds the marker re-stamps (idempotent) to close
    *    the crash window between marker and stamp.
    */
  def processBatch(batch: DataFrame, content: DataFrame,
      targets: ForgetTargets, markerRoot: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    new java.io.File(markerRoot).mkdirs()
    val marker = new java.io.File(markerRoot, s"_forget_$batchId")
    val part = ForgetBase - batchId
    // stamps every negative partition THIS request landed: the legacy
    // whole-wave partition and/or this request's split-forget partitions
    // (decodable from their ids), whichever mode landed them
    def stampCommitted(): Unit =
      targets.cellStores.map(_.dir).distinct.foreach { d =>
        val root = new java.io.File(d)
        // bound the decode to the split range: epoch-fold partitions
        // (id <= EpochFoldBase) also satisfy `<= SplitForgetBase`, and
        // splitRequestId THROWS on them — an unbounded filter would wedge
        // every replay of a split wave against an epoch-folded store
        val landed = StoreCompaction.partitionIds(root).filter(id =>
          id == part ||
            (StoreCompaction.isSplitId(id) &&
              StoreCompaction.splitRequestId(id) == batchId))
        landed.foreach { id =>
          val p = new java.io.File(root, s"batch_id=$id")
          if (p.isDirectory) {
            new java.io.File(p, StoreCompaction.ForgetCommittedName).createNewFile()
            ()
          }
        }
      }
    if (marker.exists()) { stampCommitted(); return }
    val ids = batch.select("doc_id").distinct().localCheckpoint()
    val missing = ids
      .join(content.select("doc_id"), Seq("doc_id"), "left_anti")
      .limit(6).collect().map(_.getLong(0))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"forget batch $batchId: requested doc_id(s) ${missing.mkString(", ")} " +
          "do not resolve in the content archive — the archive must outlive " +
          "every derived store (erase derived stores FIRST, content LAST); " +
          "processing this request would silently under-erase the additive " +
          "stores, so it refuses instead")
    val docs = content.join(ids, Seq("doc_id"), "left_semi").localCheckpoint()
    // the erasure certificate: one row per store ACTION, persisted under
    // the marker root before the marker commits (see erasureCertificate)
    val cert = scala.collection.mutable.ArrayBuffer.empty[
      (String, String, String, Long, String)]
    def record(family: String, store: String, action: String, n: Long,
        detail: String): Unit = {
      cert += ((family, certifiedStore(markerRoot, store), action, n, detail))
      ()
    }
    def recordSurgical(family: String, store: String,
        rep: Forget.ForgetReport): Unit = {
      record(family, store, "surgical_delete", rep.rowsRemoved,
        s"rows removed; ${rep.nRewritten}/${rep.nPartitions} partitions rewritten")
      // stores opted into the pre-fold archive scrub their archived
      // copies in the same pass — a separate certified action, so the
      // audit distinguishes live rows from archived duplicates of them
      if (rep.archivedRowsRemoved > 0)
        record(family, store, "archive_scrub", rep.archivedRowsRemoved,
          s"rows removed from the pre-fold archive; ${rep.archivedRewritten} " +
            "archived partitions rewritten")
    }
    if (targets.splitBySrcBatch) {
      // pin-preserving mode: one negative delta per ORIGINAL landing
      // batch on every additive family; no forget horizon is sealed, so
      // live release pins keep serving (erasure applied inside each
      // pinned slice). Stamping waits for the request marker, same as
      // the whole-wave path.
      require(docs.columns.contains("src_batch"),
        s"forget batch $batchId: splitBySrcBatch needs the content archive " +
          "to carry each doc's original landing batch in a src_batch column")
      val landed = CellStore.forgetSplit(docs, batchId, targets.cellStores, stamp = false)
      targets.cellStores.zip(landed).foreach { case (t, ids) =>
        record(t.family, t.dir, "negative_split_landing", ids.size.toLong,
          "negative deltas landed, one per source batch the forgotten docs span")
      }
    } else {
      CellStore.forget(docs, part, targets.cellStores)
      targets.cellStores.foreach { t =>
        t.countedErasure match {
          case Some(detail) => record(t.family, t.dir, "negative_landing",
            spark.read.parquet(s"${t.dir}/batch_id=$part").count(), detail)
          case None => record(t.family, t.dir, "negative_landing", 1L,
            "negated cell delta landed")
        }
      }
    }
    targets.bandStores.foreach { case (idx, dec) =>
      val rep = Forget.reelectBandStores(spark, idx, dec, ids)
      recordSurgical("band_index", idx, rep.index)
      recordSurgical("band_decisions", dec, rep.decisions)
      record("band_decisions", dec, "reelection", rep.nReelected,
        s"surviving docs re-verdicted as corrective partition ${rep.reelectBatchId}")
    }
    targets.curationRoot.foreach { root =>
      val next = StoreCompaction.partitionIds(
          new java.io.File(CurationStream.Layout(root).decisions))
        .filter(_ != StoreCompaction.BasePartition)
        .foldLeft(-1L)(math.max) + 1L
      val rep = Forget.forgetFromCurationStores(spark, root, ids,
        correctiveId = next)
      rep.deleted.foreach { case (n, r) =>
        recordSurgical(s"curation_$n", s"$root/$n", r)
      }
      record("curation", root, "exact_reelection", rep.nNewOwners,
        s"orphaned fps re-owned (${rep.nOrphanFps} orphans, " +
          s"${rep.nRemDups} duplicates re-pointed)")
      record("curation", root, "band_reelection", rep.nReelected,
        s"affected docs re-verdicted as corrective partition $next")
    }
    targets.shingleIndexDirs.foreach { dir =>
      recordSurgical("shingle_index", dir, Forget.surgicalDelete(spark, dir, ids))
    }
    targets.scrubStoreDirs.foreach { dir =>
      recordSurgical("scrub_verdicts", dir, Forget.surgicalDelete(spark, dir, ids))
    }
    targets.csDeltaDir.foreach { dir =>
      recordSurgical("code_switch", dir, Forget.surgicalDelete(spark, dir, ids))
    }
    targets.spanDeltaDir.foreach { dir =>
      val survivors = content.join(ids, Seq("doc_id"), "left_anti")
      val next = StoreCompaction.partitionIds(new java.io.File(dir))
        .filter(_ != StoreCompaction.BasePartition)
        .foldLeft(-1L)(math.max) + 1L
      val rep = Forget.forgetSpanCells(spark, dir, docs, survivors,
        correctiveId = next, windowIndexDir = targets.spanIndexDir)
      recordSurgical("span_windows", dir, rep.deleted)
      record("span_windows", dir, "first_key_reelection", rep.nReelected,
        s"survivor-recomputed cells for ${rep.nAffectedWindows} affected " +
          s"window hashes landed as corrective partition $next")
    }
    targets.semanticStores.foreach { case (hist, dec) =>
      val rep = Forget.reelectSemanticStores(spark, hist, dec, ids)
      recordSurgical("embedding_history", hist, rep.index)
      recordSurgical("semantic_decisions", dec, rep.decisions)
      record("semantic_decisions", dec, "reelection", rep.nReelected,
        s"cluster-bounded re-verdicts as corrective partition ${rep.reelectBatchId}")
    }
    // archive-last: payload bytes leave AFTER every derived store
    targets.assetStore.foreach { case (dir, partCol) =>
      recordSurgical("asset_payloads", dir,
        Forget.surgicalDelete(spark, dir, ids, partCol = partCol))
    }
    spark.createDataFrame(cert.toSeq)
      .toDF("family", "store", "action", "n", "detail")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$markerRoot/reports/batch_id=$batchId")
    marker.createNewFile()
    stampCommitted()
    ()
  }

  /** The forget sink: Trigger.AvailableNow + checkpoint like every
    * ingest twin. `markerRoot` should live beside the checkpoint (one
    * marker space per sink).
    */
  def forgetSink(stream: DataFrame, content: DataFrame,
      targets: ForgetTargets, markerRoot: String,
      checkpointDir: String): StreamingQuery =
    StoreCompaction.sink(stream, "forget_requests", checkpointDir) { (batch, batchId) =>
      processBatch(batch, content, targets, markerRoot, batchId)
    }
}
