package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten over the artifact stores — deletion as a
  * FIRST-CLASS store operation, not a rebuild. Two mechanics, chosen by
  * store algebra:
  *
  *  - SUM-cell stores (LM counts, mass/feature/loss cells): forgetting
  *    docs is landing ONE NEGATIVE delta — the cells of the forgotten
  *    docs with every additive measure negated ([[CellStore.forget]],
  *    [[CellStore.forgetSplit]]). The fold algebra does the rest:
  *    `Σ cells = Σ survivors' cells` exactly, so every served
  *    model/table equals a retrain on the surviving corpus with zero
  *    store rewrites (an O(|forgotten|) append, the same write path as
  *    an ingest landing). Rows whose folded count reaches 0 are
  *    tombstones — serving drops them (the store's `tombstone` rule).
  *  - IDENTITY stores (band index, decisions, fp history): forgetting is
  *    a SURGICAL partition rewrite — only the per-batchId partitions
  *    (base included) that actually hold a forgotten row are rewritten,
  *    via staged write + swap under the maintenance lease. Cost is
  *    O(affected partitions), never O(store).
  *
  * Dedup decisions need a third step: a forgotten doc may have been the
  * KEEPER its duplicates point at. [[reelectBandStores]] recomputes
  * verdicts for exactly the surviving docs that shared a band bucket
  * with a forgotten doc (their partner sets are the only ones that can
  * change) and lands them as a corrective decision partition — the
  * streamed first-verdict-wins reader then serves them because the
  * affected docs' old rows were deleted in the same pass. Work is
  * O(affected buckets' occupancy), never a corpus re-dedup.
  *
  * Release pins: forgetting MUTATES pinned history by design — legal
  * erasure outranks bit-identical time travel, the same trade Delta
  * Lake's VACUUM-after-DELETE makes against time travel. On IDENTITY
  * stores (surgical per-row deletes) every pinned read stays exactly
  * servable, values changed where the forgotten docs contributed. On
  * ADDITIVE stores the negative-cell delta is an aggregate correction,
  * faithful only for reads that include every forgotten doc's POSITIVE
  * cells — so each negative landing seals a FORGET HORIZON at the
  * store's current frontier ([[StoreCompaction.advanceForgetHorizon]]):
  * pins at/above it keep serving with changed values, pins below it
  * refuse loudly (serving them would either resurrect erased content or
  * over-subtract — wrong in both legal directions).
  */
object Forget {

  /** One store's forget outcome — the audit row a compliance check reads.
    * `archivedRewritten`/`archivedRowsRemoved` count the same scrub
    * applied to the store's `.prefold` epoch archive when one exists
    * (zero otherwise): archived copies are real retained content, and
    * the re-band path reads them back verbatim.
    */
  case class ForgetReport(nPartitions: Int, nRewritten: Int, rowsRemoved: Long,
      archivedRewritten: Int = 0, archivedRowsRemoved: Long = 0L)

  /** Surgically delete every row whose `keyCol` is in `ids` from a
    * partitioned store: ONE column-pruned detection pass finds the
    * affected partitions (base partition included), then only those are
    * rewritten, each via staged write + swap under the store lease.
    * Partitions without a forgotten row are never touched — the property
    * that makes erasure affordable on a store with years of landings.
    * `partCol` generalizes beyond per-batchId stores (the asset store
    * partitions by payload `kind`); values are handled as their directory
    * string form, so long and string partition columns both work.
    * `subPartBy` preserves a NESTED partition axis through the rewrite
    * (the landed asset store is `batch_id=N/kind=K`: erasure targets the
    * landing, the rewrite keeps the kind directories so family scans
    * stay partition-pruned).
    */
  def surgicalDelete(spark: SparkSession, storeDir: String, ids: DataFrame,
      keyCol: String = "doc_id", partCol: String = "batch_id",
      subPartBy: Seq[String] = Nil): ForgetReport =
    StoreCompaction.withLease(storeDir) {
      val live = surgicalPass(spark, storeDir, ids, keyCol, partCol, subPartBy)
      // A store opted into the pre-fold archive keeps its folded epochs'
      // source deltas under `.prefold/` — copies of the SAME rows the
      // live pass just removed. Erasure must scrub them too: the archive
      // is read back verbatim by the epoch re-band path
      // ([[StoreCompaction.rebandEpochWithAmendment]]), so a skipped
      // archive would RESURRECT forgotten rows the next time ANY batch
      // in the epoch is amended — and the archived copies themselves are
      // retained content an erasure certificate claims left disk. The
      // dot-prefixed dir is invisible to the live pass's partition
      // discovery, so this is a second explicit pass under the same
      // store lease.
      val prefold = new java.io.File(storeDir, StoreCompaction.PrefoldDirName)
      if (!prefold.isDirectory) live
      else {
        val arch =
          surgicalPass(spark, prefold.getPath, ids, keyCol, partCol, subPartBy)
        live.copy(archivedRewritten = arch.nRewritten,
          archivedRowsRemoved = arch.rowsRemoved)
      }
    }

  /** One [[surgicalDelete]] pass over one partitioned directory —
    * detection, staged rewrite, crash recovery — WITHOUT the store
    * lease (the caller holds it; the `.prefold` archive pass runs under
    * its parent store's lease).
    */
  private def surgicalPass(spark: SparkSession, storeDir: String,
      ids: DataFrame, keyCol: String, partCol: String,
      subPartBy: Seq[String]): ForgetReport = {
      val root = new java.io.File(storeDir)
      // crash recovery FIRST: a previous run that died mid-swap leaves
      // the staged replacement in a dot-prefixed tmp dir that parquet
      // discovery ignores. When the staged write is complete (_SUCCESS
      // exists) ALWAYS finish the swap — deleting the target partition
      // is not atomic, so a crash mid-delete leaves a PARTIAL partition
      // beside a complete staged copy, and preferring the partition
      // there would permanently lose the survivor rows its deleted
      // files held. The staged copy is a complete valid replacement in
      // every crash ordering (even pre-delete: swapping early just
      // completes that partition's forget). No _SUCCESS → the staging
      // write itself crashed; discard it, the partition is untouched.
      Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(".forget_tmp_"))
        .foreach { tmp =>
          val id = tmp.getName.stripPrefix(".forget_tmp_")
          val part = new java.io.File(root, s"$partCol=$id")
          if (new java.io.File(tmp, "_SUCCESS").exists()) {
            StoreCompaction.deleteRecursively(part)
            require(tmp.renameTo(part), s"forget recovery $tmp -> $part failed")
          } else StoreCompaction.deleteRecursively(tmp)
        }
      val parts = Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
        .map(_.getName.stripPrefix(s"$partCol="))
      if (parts.isEmpty) ForgetReport(0, 0, 0L)
      else {
        val keys = ids.select(col(ids.columns.head).as(keyCol))
        // detection: key column only (parquet prunes the rest)
        val affected = spark.read.parquet(storeDir)
          .select(col(keyCol), col(partCol).cast("string").as("__part"))
          .join(keys, Seq(keyCol), "left_semi")
          .groupBy("__part").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        affected.keys.toSeq.sorted.foreach { id =>
          val part = new java.io.File(root, s"$partCol=$id")
          val tmp = new java.io.File(root, s".forget_tmp_$id")
          StoreCompaction.deleteRecursively(tmp)
          val w = spark.read.parquet(part.getPath)
            .join(keys, Seq(keyCol), "left_anti")
            .write.mode("overwrite")
          (if (subPartBy.nonEmpty) w.partitionBy(subPartBy: _*) else w)
            .parquet(tmp.getPath)
          StoreCompaction.deleteRecursively(part)
          require(tmp.renameTo(part), s"forget swap $tmp -> $part failed")
        }
        ForgetReport(parts.size, affected.size, affected.values.sum)
      }
    }

  /** [[surgicalDelete]] for an UNPARTITIONED parquet store (the ANN code
    * artifacts: plain part-files, appended per landing, no `batch_id=`
    * directories): the same only-rewrite-what-holds-a-forgotten-row
    * property at FILE granularity. One column-pruned detection pass
    * (`input_file_name`) finds the affected files; each is rewritten
    * alone via staged write + swap under the store lease — files without
    * a forgotten row are never touched, so a store whose files cluster
    * by key range (range-partitioned writes, append-per-landing) pays
    * O(affected files). A file whose rows are ALL forgotten is replaced
    * by an empty (schema-only) parquet file — still valid to readers.
    *
    * Crash-safe like the partition variant: each staged rewrite lands in
    * a dot-prefixed dir (invisible to parquet discovery) with a
    * `_TARGET` marker naming the file it replaces; recovery ALWAYS
    * finishes a `_SUCCESS`-complete swap (the staged copy is a complete
    * valid replacement in every crash ordering) and discards incomplete
    * staging.
    */
  def surgicalDeleteFiles(spark: SparkSession, storeDir: String,
      ids: DataFrame, keyCol: String = "vec_id"): ForgetReport =
    StoreCompaction.withLease(storeDir) {
      val root = new java.io.File(storeDir)
      // the local ChecksumFileSystem keeps hidden `.{name}.crc` sidecars;
      // swapping new CONTENT under an old NAME must swap the sidecar too
      // or reads fail checksum verification against the stale one
      def crcOf(f: java.io.File) =
        new java.io.File(f.getParentFile, s".${f.getName}.crc")
      def swapIn(part: java.io.File, target: java.io.File, what: String): Unit = {
        val srcCrc = crcOf(part)
        target.delete()
        crcOf(target).delete()
        require(part.renameTo(target), s"forget $what $part -> $target failed")
        if (srcCrc.exists()) { srcCrc.renameTo(crcOf(target)); () }
      }
      Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith(".forgetf_tmp_"))
        .foreach { tmp =>
          val tgt = new java.io.File(tmp, "_TARGET")
          if (new java.io.File(tmp, "_SUCCESS").exists() && tgt.exists()) {
            val target = new java.io.File(root,
              new String(java.nio.file.Files.readAllBytes(tgt.toPath), "UTF-8").trim)
            val part = Option(tmp.listFiles()).toSeq.flatten
              .find(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(".parquet"))
            part.foreach(p => swapIn(p, target, "recovery"))
          }
          StoreCompaction.deleteRecursively(tmp)
        }
      val files = Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      if (files.isEmpty) ForgetReport(0, 0, 0L)
      else {
        val keys = ids.select(col(ids.columns.head).as(keyCol))
        val affected = spark.read.parquet(storeDir)
          .select(col(keyCol),
            org.apache.spark.sql.functions.input_file_name().as("__f"))
          .join(keys, Seq(keyCol), "left_semi")
          .groupBy("__f").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        affected.keys.toSeq.sorted.zipWithIndex.foreach { case (uri, i) =>
          val target = new java.io.File(new java.net.URI(uri).getPath)
          val tmp = new java.io.File(root, s".forgetf_tmp_$i")
          StoreCompaction.deleteRecursively(tmp)
          spark.read.parquet(target.getPath)
            .join(keys, Seq(keyCol), "left_anti")
            .coalesce(1)
            .write.mode("overwrite").parquet(tmp.getPath)
          StoreCompaction.writeAtomic(new java.io.File(tmp, "_TARGET"), target.getName)
          val part = Option(tmp.listFiles()).toSeq.flatten
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          swapIn(part, target, "swap")
          StoreCompaction.deleteRecursively(tmp)
        }
        ForgetReport(files.size, affected.size, affected.values.sum)
      }
    }

  /** What a curation-family forget did. */
  case class CurationForgetReport(deleted: Map[String, ForgetReport],
      nOrphanFps: Long, nNewOwners: Long, nReelected: Long, nRemDups: Long)

  /** Forget `forgotten` docs from a FULL curation store family
    * (fp / index / decisions / accepted / quarantine — the
    * `CurationStream.processBatch` output shape) and re-elect at BOTH
    * dedup levels, landing every correction as partition `correctiveId`:
    *
    *  1. capture the forgotten docs' owned fingerprints and band
    *     buckets, then surgically delete them from all five stores;
    *  2. EXACT re-election: each orphaned fingerprint's new owner is the
    *     earliest surviving exact-duplicate (recovered from the
    *     quarantine store's text — fp is recomputable, so no extra state
    *     was ever needed); the new owner becomes a REP: its fp row and
    *     its band rows land correctively, and the remaining duplicates
    *     of that fp re-point their `exact_dup_of` at it;
    *  3. BAND re-election over the union of the forgotten reps' buckets
    *     and the new reps' buckets — the only docs whose partner sets
    *     can change in either direction (losing a forgotten partner OR
    *     gaining a newly-promoted lower-id one);
    *  4. the accepted/quarantine split is REPAIRED for every touched
    *     doc: re-elected owners and reps that came band-clean move to
    *     accepted (content quarantined only because of ERASED content is
    *     re-admitted — the user-visible half of legal amnesia), reps
    *     that gained an earlier partner move to quarantine
    *     (`near_dup`), re-pointed duplicates stay quarantined
    *     (`exact_dup`).
    *
    * After this the family is indistinguishable from one built over the
    * surviving corpus (q204 proves it through a replay landing: the
    * store has genuinely FORGOTTEN the content, so re-submitted copies
    * are decided from scratch). Cost: detection scans + affected
    * partitions + affected buckets — never a corpus re-run.
    */
  def forgetFromCurationStores(spark: SparkSession, root: String,
      forgotten: DataFrame, correctiveId: Long): CurationForgetReport = {
    import org.apache.spark.sql.functions.broadcast
    val fIds = forgotten.select(col(forgotten.columns.head).as("doc_id"))
      .localCheckpoint()
    val stores = CurationStream.Layout(root)
    val (fpDir, idxDir, decDir, accDir, quarDir) = (stores.fp, stores.index,
      stores.decisions, stores.accepted, stores.quarantine)

    // 1. captures, then deletes
    val orphanFps = spark.read.parquet(fpDir)
      .join(fIds, Seq("doc_id"), "left_semi")
      .select("fp").distinct().localCheckpoint()
    val bucketsF = spark.read.parquet(idxDir)
      .join(fIds, Seq("doc_id"), "left_semi")
      .select("band_idx", "band_hash").distinct().localCheckpoint()
    val deleted = stores.dirs
      .map(d => new java.io.File(d).getName -> surgicalDelete(spark, d, fIds)).toMap

    // 2. exact re-election off the quarantine store's recomputable fps
    val quarDups = spark.read.parquet(quarDir)
      .filter(col("reason") === "exact_dup")
      .withColumn("fp", md5(graft.ops.TextOps.normalized(col("text"))))
      .join(broadcast(orphanFps), Seq("fp"), "left_semi")
      .select("fp", "doc_id", "text", "source").localCheckpoint()
    val newOwners = quarDups
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .join(quarDups, Seq("fp", "doc_id"))
      .localCheckpoint()
    newOwners.select("fp", "doc_id", "source")
      .write.mode("overwrite").parquet(s"$fpDir/batch_id=$correctiveId")
    val newBands = LshStream.batchBands(
      newOwners.select("doc_id", "text")).localCheckpoint()
    newBands.write.mode("overwrite").parquet(s"$idxDir/batch_id=$correctiveId")
    val remDups = quarDups.join(
        newOwners.select(col("fp"), col("doc_id").as("owner")), Seq("fp"))
      .filter(col("doc_id") =!= col("owner"))
      .select("doc_id", "owner", "text", "source").localCheckpoint()

    // 3. band re-election over every bucket that changed membership
    val buckets = bucketsF
      .unionByName(newBands.select("band_idx", "band_hash")).distinct()
    val (verdicts, affectedDocs) = CurationStream.reelectBuckets(
      spark.read.parquet(idxDir).select("doc_id", "band_idx", "band_hash"), buckets)

    // decisions: replace every touched doc's row with its recomputed one
    val touched = affectedDocs.unionByName(remDups.select("doc_id")).distinct()
      .localCheckpoint()
    surgicalDelete(spark, decDir, touched)
    val decRows = verdicts.select(CurationStream.bandVerdictRow: _*)
      .unionByName(remDups.select(CurationStream.exactDupRow(col("owner")): _*))
      .localCheckpoint()
    decRows.write.mode("overwrite").parquet(s"$decDir/batch_id=$correctiveId")

    // 4. repair the accepted/quarantine split for the touched docs
    val docRows = spark.read.parquet(accDir)
      .select("doc_id", "text", "source")
      .unionByName(spark.read.parquet(quarDir).select("doc_id", "text", "source"))
      .join(touched, Seq("doc_id"), "left_semi").localCheckpoint()
    surgicalDelete(spark, accDir, touched)
    surgicalDelete(spark, quarDir, touched)
    val (accepted, quarantined) =
      CurationStream.splitByVerdict(docRows.join(decRows, Seq("doc_id")))
    accepted.write.mode("overwrite").parquet(s"$accDir/batch_id=$correctiveId")
    quarantined.write.mode("overwrite").parquet(s"$quarDir/batch_id=$correctiveId")

    CurationForgetReport(deleted, orphanFps.count(), newOwners.count(),
      verdicts.count(), remDups.count())
  }

  /** What one band-store forget did — the q202 audit surface. */
  case class BandForgetReport(index: ForgetReport, decisions: ForgetReport,
      nReelected: Long, reelectBatchId: Long)

  /** Forget `forgotten` docs from a keep-earliest band store
    * (index + decisions) and re-elect keepers among the survivors:
    *
    *  1. capture the AFFECTED BUCKETS — the (band_idx, band_hash) keys
    *     holding a forgotten doc's band rows — before anything is
    *     deleted;
    *  2. surgically delete the forgotten docs from both stores;
    *  3. recompute verdicts for exactly the surviving docs with a band
    *     row in an affected bucket (only their partner sets can change:
    *     a partner shares a bucket by definition), against the full
    *     post-delete index, and delete those docs' old decision rows;
    *  4. land the recomputed verdicts as a corrective decision partition
    *     (max batch + 1) — the ordinary landing shape, so replay
    *     semantics and the first-verdict-wins reader need no new cases.
    *
    * After this, [[LshStream.decisions]] equals the keep-earliest batch
    * computation over the surviving corpus (spec-pinned): a forgotten
    * keeper's duplicates re-point at the earliest SURVIVING family
    * member, and the earliest becomes a keeper. Uses the lower-id
    * partner rule, which equals first-seen under the stores' id-ordered
    * landing convention.
    */
  def reelectBandStores(spark: SparkSession, indexDir: String,
      decisionsDir: String, forgotten: DataFrame): BandForgetReport = {
    val keys = forgotten.select(col(forgotten.columns.head).as("doc_id"))
      .localCheckpoint()
    val buckets = spark.read.parquet(indexDir)
      .join(keys, Seq("doc_id"), "left_semi")
      .select("band_idx", "band_hash").distinct().localCheckpoint()

    val idxRep = surgicalDelete(spark, indexDir, keys)
    val decRep = surgicalDelete(spark, decisionsDir, keys)

    val (verdicts, affectedDocs) = CurationStream.reelectBuckets(
      spark.read.parquet(indexDir).select("doc_id", "band_idx", "band_hash"), buckets)

    surgicalDelete(spark, decisionsDir, affectedDocs)
    val nextId = StoreCompaction.partitionIds(new java.io.File(decisionsDir))
      .filter(_ != StoreCompaction.BasePartition)
      .foldLeft(-1L)(math.max) + 1L
    verdicts.write.mode("overwrite").parquet(s"$decisionsDir/batch_id=$nextId")
    BandForgetReport(idxRep, decRep, verdicts.count(), nextId)
  }

  /** What a span-store forget did. */
  case class SpanForgetReport(deleted: ForgetReport, nAffectedWindows: Long,
      nReelected: Long)

  // ── span window store: first-occurrence RE-ELECTION ───────────────────

  /** Forget `forgotten` docs from the span window-cell store
    * ((h, n, first_key) — q182's first-occurrence duplication state).
    * The count `n` is SUM-negatable, but `first_key` is a MIN over
    * (doc_id, pos) OCCURRENCES — erasing a doc that held a window's
    * first occurrence must re-elect the earliest SURVIVING occurrence,
    * and the store keeps only the min, so re-election reads the
    * surviving content for exactly the affected window hashes:
    *
    *  1. affected h = the forgotten docs' own window hashes (computed
    *     from their text — the archive-last ordering guarantees it is
    *     still resolvable);
    *  2. surgically delete the affected hashes' rows from EVERY
    *     partition (only partitions holding one are rewritten);
    *  3. recompute those hashes' cells over the surviving corpus — one
    *     content pass whose aggregate is bounded by |affected h| — and
    *     land them as a corrective partition.
    *
    * Unaffected hashes are untouched (a forgotten doc contributed
    * nothing to them by definition), so the folded store now equals
    * `spanWindowCells(survivors)` exactly, through any compaction.
    *
    * WITHOUT `windowIndexDir` the re-election pays one full survivor
    * content pass (the price of keeping only MIN state). WITH it — a
    * (h, doc_id) positional-window inverted index maintained beside the
    * cell store ([[CorpusStream.writeSpanIndexDelta]]) — step 3
    * tokenizes only the docs the index implicates for the affected
    * hashes, and the index erases its own forgotten rows in the same
    * pass. Both paths are bit-equal (ForgetSpec). MEASURED CAVEAT
    * (`spanforgetprobe`, SURVEY §8): on text corpora the index does NOT
    * pay — the (h, doc_id) store is itself corpus-sized (≈3× the text
    * bytes: one 16-byte row per token), scanning it costs as much as
    * re-tokenizing, and a realistic forget set's windows spread across
    * every hash bucket so no pruning can save the scan. Default to the
    * full pass; the index variant exists for pipelines whose
    * tokenization is far more expensive than IO (heavy normalization,
    * learned segmentation).
    */
  def forgetSpanCells(spark: SparkSession, deltaDir: String,
      forgotten: DataFrame, survivors: DataFrame,
      correctiveId: Long,
      windowIndexDir: Option[String] = None): SpanForgetReport = {
    val fIds = forgotten.select(col("doc_id")).localCheckpoint()
    val affected = graft.ops.Mining.spanWindowCells(forgotten)
      .select("h").distinct().localCheckpoint()
    val rep = surgicalDelete(spark, deltaDir, affected, keyCol = "h")
    val candidates = windowIndexDir match {
      case Some(idx) =>
        // implicated survivors only: docs the index holds for an
        // affected hash, minus the forgotten set — then erase the
        // forgotten docs' own index rows (identity store)
        val implicated = spark.read.parquet(idx)
          .join(affected, Seq("h"), "left_semi")
          .select("doc_id").distinct()
          .join(fIds, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        surgicalDelete(spark, idx, fIds)
        survivors.join(implicated, Seq("doc_id"), "left_semi")
      case None => survivors
    }
    val corrective = graft.ops.Mining.spanWindowCells(candidates)
      .join(affected, Seq("h"), "left_semi").localCheckpoint()
    corrective.coalesce(1).write.mode("overwrite")
      .parquet(s"$deltaDir/batch_id=$correctiveId")
    // correctives recompute cells across every batch — stamp them so
    // windowed reads refuse instead of mis-scoping (CorpusStream
    // .spanScrubWindowed)
    new java.io.File(s"$deltaDir/batch_id=$correctiveId",
      CorpusStream.SpanCorrectiveName).createNewFile()
    SpanForgetReport(rep, affected.count(), corrective.count())
  }

  // ── embedding history + semantic-dup decisions: cluster re-election ───

  /** Forget `forgotten` vectors from the streamed SemDeDup store pair
    * (history: (vec_id, cluster, v[, label]) per batch; decisions:
    * scoreBatch's verdict rows) and re-elect semantic keepers:
    *
    *  1. capture the forgotten vectors' clusters — the only candidate
    *     pools a verdict can change in;
    *  2. surgically delete the forgotten vec_ids from both stores
    *     (the literal embedding VECTORS leave disk — the embedding is
    *     derived content, as identifying as the text);
    *  3. recompute verdicts for every surviving vector in an affected
    *     cluster against the post-delete history under the stores'
    *     priority order — earlier batch first, lower vec_id within a
    *     batch (first-seen, ≡ pure id order under id-ordered landings) —
    *     with scoreBatch's exact sim tree (dot / (‖a‖·‖b‖));
    *  4. land the recomputed verdicts as a corrective decision
    *     partition after deleting those docs' old rows.
    *
    * The quantizer (frozen centroid artifact) is NOT retrained: cluster
    * assignments are a trained model, erasure governs the serving
    * stores; k aggregate centroids retain no per-document content (the
    * q132 rebuild trigger owns retraining). Work is bounded by the
    * affected clusters' occupancy — never a corpus re-embed.
    */
  def reelectSemanticStores(spark: SparkSession, historyDir: String,
      decisionsDir: String, forgotten: DataFrame): BandForgetReport = {
    val keys = forgotten.select(col(forgotten.columns.head).as("vec_id"))
      .localCheckpoint()
    val affectedClusters = spark.read.parquet(historyDir)
      .join(keys, Seq("vec_id"), "left_semi")
      .select("cluster").distinct().localCheckpoint()

    val histRep = surgicalDelete(spark, historyDir, keys, keyCol = "vec_id")
    val decRep = surgicalDelete(spark, decisionsDir, keys, keyCol = "vec_id")

    val hist = spark.read.parquet(historyDir)
      .select(col("vec_id"), col("cluster"), col("v"),
        col("batch_id").cast("long").as("batch_id"))
      .join(affectedClusters, Seq("cluster"), "left_semi")
      .withColumn("nn", sqrt(graft.ops.Similarity.dot(col("v"), col("v"))))
      .localCheckpoint()
    val cand = hist.select(col("vec_id").as("b_id"), col("cluster").as("bc"),
      col("v").as("bv"), col("nn").as("bn"), col("batch_id").as("b_batch"))
    val best = hist.join(cand,
        col("cluster") === col("bc") &&
          (col("b_batch") < col("batch_id") ||
            (col("b_batch") === col("batch_id") && col("b_id") < col("vec_id"))))
      .select(col("vec_id"),
        (graft.ops.Similarity.dot(col("v"), col("bv")) / (col("nn") * col("bn")))
          .as("sim"),
        col("b_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("vec_id"), col("m.sim").as("sim"), (-col("m.nb")).as("b_id"))
    val verdicts = hist.select(col("vec_id"), col("cluster"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("sim"), lit(0.0)).as("max_prior_sim"),
        col("b_id").as("dup_of"),
        (coalesce(col("sim"), lit(0.0)) >=
          graft.ops.Similarity.SemDupThreshold).as("is_semantic_dup"))
      .localCheckpoint()

    surgicalDelete(spark, decisionsDir, hist.select("vec_id"), keyCol = "vec_id")
    val nextId = StoreCompaction.partitionIds(new java.io.File(decisionsDir))
      .filter(_ != StoreCompaction.BasePartition)
      .foldLeft(-1L)(math.max) + 1L
    verdicts.write.mode("overwrite").parquet(s"$decisionsDir/batch_id=$nextId")
    BandForgetReport(histRep, decRep, verdicts.count(), nextId)
  }
}
