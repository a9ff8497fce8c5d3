package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** Generic retention for the per-batchId DELTA stores every streaming
  * sink here maintains (fingerprint history, shard-manifest partials,
  * drift cells, …): fold the partitions `batch_id <= upto` — plus any
  * existing base — into ONE base partition at `batch_id=-1` using the
  * store's own merge algebra, so the store stops accreting a partition
  * per micro-batch while every read path (partition discovery +
  * `batch_id < currentBatch` filters; -1 always qualifies) is unchanged.
  * The merge MUST be the same associative fold serving already applies
  * (sum/XOR/min/max partials, distinct row union), which is exactly what
  * makes served results bit-identical across compactions.
  *
  * Crash-safe by a hidden-staging protocol (single maintenance writer
  * assumed): (1) write the merged rows to a dot-prefixed staging dir —
  * invisible to parquet readers — then a `_folded_ids` manifest naming
  * exactly the partitions folded; (2) delete those partitions; (3)
  * rename staging to the base partition. A crash before the manifest
  * leaves the store untouched (incomplete staging is discarded on the
  * next call); a crash after it leaves the merged data complete in
  * staging, and the next call finishes (2)-(3) FROM THE MANIFEST —
  * deltas that landed after the crash are never touched. Cost is
  * O(folded state rows), never documents; run at maintenance cadence,
  * not per batch. Pass `upto <= lastCommittedBatch - 1` so the one
  * batch the checkpoint may still replay keeps its own partition.
  *
  * RELEASE PINS are enforced, not documented: a pinned reader (an LM
  * release, q198's containment-as-of) registers its boundary via
  * [[registerPin]], every fold REFUSES to cross a live pin, readers
  * assert [[requireServableAt]], and the `_compaction_horizon` marker
  * makes a retroactive pin behind past compaction impossible.
  */
object StoreCompaction {

  val BasePartition = -1L
  private val StagingName = ".compact_tmp"
  private val LeaseName = "_maintenance_lease"
  private val PinsDirName = "_pins"
  private val HorizonName = "_compaction_horizon"
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** The one way a store writes a small file (marker, manifest): the
    * bytes go to a dot-`.tmp` sibling, which is then renamed onto
    * `target`. On Linux the rename replaces an existing target in one
    * step, so a crash leaves the old content or the new, never an empty
    * or truncated file and never no file. A stale `.tmp` left by a crash
    * is invisible to readers and overwritten by the next write.
    */
  private[graft] def writeAtomic(target: java.io.File, content: String): Unit = {
    val tmp = new java.io.File(target.getParentFile, s".${target.getName}.tmp")
    java.nio.file.Files.write(tmp.toPath, content.getBytes(Utf8))
    require(tmp.renameTo(target), s"atomic write of $target failed")
  }

  /** Finishes every per-bucket rewrite in `dir` that crashed before its
    * manifest was dropped. A manifest named `prefix` + bucket lists the
    * rewritten file's final name, then the files it replaces; if the new
    * file landed (visible, or still dot-hidden), the old files go and the
    * hidden one is renamed visible. The manifest is deleted either way.
    */
  private[graft] def replayCompactManifests(dir: java.io.File, prefix: String): Unit =
    Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(prefix)).foreach { mf =>
        val lines = java.nio.file.Files.readAllLines(mf.toPath)
        val (finalName, olds) = (lines.get(0), lines.subList(1, lines.size))
        val hidden = new java.io.File(dir, "." + finalName)
        if (new java.io.File(dir, finalName).exists() || hidden.exists()) {
          olds.forEach(o => { new java.io.File(dir, o).delete(); () })
          if (hidden.exists())
            require(hidden.renameTo(new java.io.File(dir, finalName)))
        }
        mf.delete()
      }

  // ── live release pins: compaction must never fold past one ───────────
  //
  // A release pin at boundary P promises that serving `batch_id <= P OR
  // batch_id = BasePartition` stays bit-identical until the pin is
  // released. A fold with fold-upto U is legal for P iff U <= P: batches
  // at or below the pin are included in the pinned read either way, so
  // folding them into the base cannot change pinned serving — but one
  // batch PAST the pin folded into the base silently adds post-pin rows
  // to every pinned read (the base always qualifies). foldInto/appendInto
  // therefore REFUSE any fold past a live pin instead of documenting the
  // hazard; maintenance that wants "as far as legal" clamps with
  // [[maxFoldableUpto]]. Pins are tiny `_pins/<name>` sidecar files
  // (underscore-prefixed → invisible to parquet partition discovery).

  /** Register (or move) live pin `name` at boundary `upto` on a store.
    * Refuses a pin already behind the store's compaction horizon — such
    * a pin could not be served faithfully, because the base partition
    * already holds rows from batches beyond it.
    */
  def registerPin(storeDir: String, name: String, upto: Long): Unit = {
    require(name.nonEmpty && !name.startsWith(".") && !name.startsWith("_") &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"pin name must be a plain token, got '$name'")
    compactionHorizon(storeDir).filter(_ > upto).foreach { h =>
      throw new IllegalStateException(
        s"cannot pin $storeDir at batch $upto: compaction already folded " +
          s"batches up to $h into the base, so a pin at $upto would serve " +
          "post-pin rows; pins must be registered ahead of compaction")
    }
    forgetHorizon(storeDir).filter(_ > upto).foreach { h =>
      throw new IllegalStateException(
        s"cannot pin $storeDir at batch $upto: a forget wave sealed this " +
          s"additive store's history up to frontier $h — a pin below it " +
          "could not be served faithfully (see requireServableAt)")
    }
    retentionFloor(storeDir).foreach { f =>
      throw new IllegalStateException(
        s"cannot pin $storeDir at batch $upto: retention expired every " +
          s"landing below $f, so no pin's from-the-beginning slice exists — " +
          "windowed reads are this store's serving shape")
    }
    val pins = new java.io.File(storeDir, PinsDirName)
    pins.mkdirs()
    writeAtomic(new java.io.File(pins, name), upto.toString)
  }

  /** Drop live pin `name` (idempotent) — folds past its boundary become
    * legal again.
    */
  def releasePin(storeDir: String, name: String): Unit = {
    new java.io.File(new java.io.File(storeDir, PinsDirName), name).delete()
    ()
  }

  /** All live pins on a store, name → boundary. */
  def livePins(storeDir: String): Map[String, Long] =
    Option(new java.io.File(storeDir, PinsDirName).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong)
      .toMap

  /** The largest legal fold boundary ≤ `requested` given live pins —
    * what a maintenance policy passes to foldInto/appendInto to compact
    * as far as it legally can without touching any pinned release.
    */
  def maxFoldableUpto(storeDir: String, requested: Long): Long =
    livePins(storeDir).values.foldLeft(requested)(math.min)

  /** Highest delta batch ever folded into this store's base partition
    * (None if never compacted) — the boundary below which per-batch
    * identity is gone.
    */
  def compactionHorizon(storeDir: String): Option[Long] = {
    val f = new java.io.File(storeDir, HorizonName)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong)
    else None
  }

  private def advanceHorizon(root: java.io.File, foldedIds: Seq[Long]): Unit = {
    // a folded split-forget partition advances the horizon to the SOURCE
    // batch it negates: its rows are in the base now, so a pin below that
    // boundary could no longer exclude them and must refuse at registration
    val folded = foldedIds.filter(_ != BasePartition).map(effectiveBatch)
    if (folded.nonEmpty) {
      val h = math.max(folded.max,
        compactionHorizon(root.getPath).getOrElse(Long.MinValue))
      writeAtomic(new java.io.File(root, HorizonName), h.toString)
    }
  }

  /** Assert that serving `batch_id <= upto OR base` off this store is
    * faithful: refuses when compaction has already folded a batch beyond
    * `upto` into the base (the base always qualifies in pinned reads, so
    * such a read would silently include post-pin rows), and refuses when
    * an ADDITIVE-store forget has sealed history past `upto` (see
    * [[advanceForgetHorizon]] — a pinned read below the forget frontier
    * would subtract cells of forgotten docs whose positive cells landed
    * beyond the pin, serving counts that are wrong in both legal
    * directions). Pinned readers call this instead of trusting the
    * conventions by documentation alone.
    */
  def requireServableAt(storeDir: String, upto: Long): Unit =
    if (upto != Long.MaxValue) {
      epochSizeOf(storeDir).foreach { es =>
        throw new IllegalStateException(
          s"store $storeDir cannot serve a pin at batch $upto: it is " +
            s"epoch-folded (size $es) and serves WINDOWS — use " +
            "requireWindowServableAt / the windowed read path")
      }
      retentionFloor(storeDir).foreach { f =>
        throw new IllegalStateException(
          s"store $storeDir cannot serve a pin at batch $upto: retention " +
            s"expired every landing below $f, so the from-the-beginning " +
            "slice a pin promises no longer exists — use a windowed read " +
            "(requireWindowServableAt) instead")
      }
      compactionHorizon(storeDir).filter(_ > upto).foreach { h =>
        throw new IllegalStateException(
          s"store $storeDir cannot serve a pin at batch $upto: compaction " +
            s"already folded batches up to $h into the base partition, so the " +
            "pinned slice no longer exists as per-batch partitions")
      }
      forgetHorizon(storeDir).filter(_ > upto).foreach { h =>
        throw new IllegalStateException(
          s"store $storeDir cannot serve a pin at batch $upto: a forget " +
            s"wave sealed history up to its landing frontier $h — the " +
            "negative cells subtract docs whose positive cells lie beyond " +
            "the pin, so the pinned slice would either resurrect or " +
            "over-subtract erased content; re-pin at or above the frontier")
      }
    }

  // ── pin-preserving (batch-SPLIT) forget landings ──────────────────────
  //
  // A whole-wave negative landing is an aggregate correction: it is
  // faithful only for reads that include EVERY forgotten doc's positive
  // cells, which is why it seals the store's forget horizon and pins
  // below the frontier refuse. When the content archive knows each doc's
  // ORIGINAL landing batch, the wave can instead land ONE negative delta
  // per source batch — the negation of exactly what batch b added for
  // the forgotten docs — under an id that ENCODES b. A pinned read at P
  // then folds positives of batches ≤ P plus negatives whose SOURCE
  // batch ≤ P, i.e. exactly the cells of (docs landed ≤ P) minus (their
  // forgotten members): every release pin stays servable, erasure still
  // retroactive inside each pinned slice, and NO horizon is sealed.
  // Cost: k small landings instead of one, k = landings the forgotten
  // docs span (bounded by the store's landing count, never corpus).

  /** Id base for batch-split forget landings — far below the legacy
    * whole-wave range (`ForgetStream.ForgetBase` = −1000 − requestId),
    * so the two conventions can never collide for any realistic request
    * count. Ids are `SplitForgetBase − requestId·SplitStride − srcBatch`,
    * bounded below by [[EpochFoldBase]] (the third reserved range).
    */
  val SplitForgetBase = -1000000000000L

  /** Id base for EPOCH base partitions (age-banded folds on stores
    * under retention) — a third reserved range below the split-forget
    * one. Epoch e's fold lands at `EpochFoldBase − e`.
    */
  val EpochFoldBase = -2000000000000L

  /** Is `id` a split-forget partition id (vs epoch-fold or ordinary)? */
  private[streaming] def isSplitId(id: Long): Boolean =
    id <= SplitForgetBase && id > EpochFoldBase

  /** Source-batch stride inside a split id — positive landing batch ids
    * must stay below it (one million landings per store).
    */
  val SplitStride = 1000000L

  /** Maximum split-forget request batches per store: the split id range
    * is (EpochFoldBase, SplitForgetBase], so a requestId at or above
    * this would land an id inside the reserved epoch-fold range, where
    * `isSplitId` is false and every read path would misclassify the
    * negative as an epoch base. [[splitForgetId]] refuses loudly at the
    * boundary instead of corrupting the id space.
    */
  val MaxSplitRequests: Long = (SplitForgetBase - EpochFoldBase) / SplitStride

  /** The delta-partition id for request `requestId`'s negation of what
    * source batch `srcBatch` added.
    */
  def splitForgetId(requestId: Long, srcBatch: Long): Long = {
    require(requestId >= 0 && srcBatch >= 0 && srcBatch < SplitStride,
      s"split forget id needs requestId >= 0 and 0 <= srcBatch < $SplitStride, " +
        s"got request $requestId / source $srcBatch")
    require(requestId < MaxSplitRequests,
      s"split forget id for request $requestId would cross EpochFoldBase " +
        s"(the reserved epoch range) — at most $MaxSplitRequests forget " +
        "request batches per store")
    SplitForgetBase - requestId * SplitStride - srcBatch
  }

  /** The source batch a split-forget partition negates. */
  def splitSourceBatch(id: Long): Long = {
    require(isSplitId(id), s"$id is not a split-forget partition id")
    (SplitForgetBase - id) % SplitStride
  }

  /** The request batch that landed a split-forget partition. */
  def splitRequestId(id: Long): Long = {
    require(isSplitId(id), s"$id is not a split-forget partition id")
    (SplitForgetBase - id) / SplitStride
  }

  /** The batch boundary a partition id COUNTS AS for pinned reads and
    * fold legality: a split-forget partition belongs to the slice of the
    * source batch it negates; every other id (positive ingest deltas,
    * the base, legacy whole-wave negatives) is its own boundary.
    */
  private def effectiveBatch(id: Long): Long =
    if (isSplitId(id)) splitSourceBatch(id) else id

  /** The serving filter for a read pinned at `upto` — the
    * `batch_id <= upto OR base` convention extended to the split-forget
    * range, shared by every additive store's pinned read path:
    * positive deltas fold in up to the pin; the base always qualifies;
    * legacy whole-wave forget negatives always qualify (erasure is
    * retroactive by law — their faithfulness below the forget horizon is
    * [[requireServableAt]]'s job); split-forget negatives qualify iff
    * the SOURCE batch they negate is inside the pin. Every disjunct is a
    * pure function of `batch_id`, so the whole predicate lands in
    * PartitionFilters (partition pruning, zero row scans to exclude a
    * partition).
    */
  def pinnedReadFilter(upto: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    if (upto == Long.MaxValue) lit(true)
    else
      (col("batch_id") >= 0L && col("batch_id") <= upto) ||
        col("batch_id") === BasePartition ||
        (col("batch_id") < BasePartition && col("batch_id") > SplitForgetBase) ||
        (col("batch_id") <= SplitForgetBase && col("batch_id") > EpochFoldBase &&
          pmod(lit(SplitForgetBase) - col("batch_id"), lit(SplitStride)) <= upto)
  }

  // ── retention expiry: the AGE-based dual of doc-level forget ──────────
  //
  // A corpus under licensing windows or privacy retention limits expires
  // by LANDING AGE: every row of batches below a moving floor must leave
  // disk. On a per-batchId delta store that is pure partition drops —
  // O(dropped landings) file deletes, zero rewrites, zero Spark jobs —
  // but ONLY while the expired batches still exist as partitions. Hence
  // the enforced contract: a store under retention never folds across
  // batches (a base partition merges batch identity away, and the oldest
  // rows — the ones that expire next — are exactly the ones folds absorb
  // first). Partition count stays bounded by the RETENTION WINDOW
  // (landings per window), which is what made per-batch folds attractive
  // in the first place. Windowed reads [lo, hi] replace pinned reads;
  // split-forget negatives window correctly by construction (each
  // belongs to the source batch it negates, and expires WITH it) —
  // whole-wave negatives cannot window and block expiry.

  private val RetentionFloorName = "_retention_floor"
  private val EpochSizeName = "_epoch_size"
  private val PrefoldKeepName = "_prefold_keep"
  private[streaming] val PrefoldDirName = ".prefold"

  // ── the PRE-FOLD ARCHIVE: what makes epoch-banded landings amendable ──
  //
  // Epoch folding consolidates per-batch deltas into one partition and
  // deletes the sources — which is exactly what makes a late CORRECTION
  // impossible: corrections arrive late by nature (takedown notices,
  // re-licensing, parser-bug discoveries), and by then banding has
  // reached the landing and its rows lost the batch identity an
  // amendment overwrites. A store that opts in with [[declarePrefoldKeep]]
  // has its folds ARCHIVE the source partitions into a hidden `.prefold/`
  // directory (invisible to parquet discovery and to partitionIds)
  // instead of deleting them; [[rebandEpochWithAmendment]] can then fold
  // a correction in by overwriting the archived landing and re-banding
  // the epoch from the archive — the reference's MERGE contract
  // (`notebooks/databricks_data_flow.sql:193-203`: later corrected rows
  // revise the table regardless of physical layout) extended to the
  // banded layout. The archive is bounded by the retention window like
  // the live partitions: certified expiry drops archived deltas below
  // the floor in the same pass that drops their epoch, so opting in
  // costs one retention window of small pre-fold files, not unbounded
  // history — and a declared AMEND HORIZON ([[declareAmendHorizon]])
  // bounds it TIGHTER: maintenance retires archives for epochs the
  // correction window has passed ([[retireArchiveBeyondHorizon]]),
  // leaving a tombstone so the re-band refusal names the horizon.

  /** Opt a store into keeping pre-fold deltas: folds archive their
    * sources under `.prefold/` instead of deleting them, which is what
    * makes [[rebandEpochWithAmendment]] (amendments on epoch-banded
    * landings) possible. Declare BEFORE the first epoch fold — an epoch
    * folded without its archive stays unamendable.
    */
  def declarePrefoldKeep(storeDir: String): Unit = {
    new java.io.File(storeDir).mkdirs()
    writeAtomic(new java.io.File(storeDir, PrefoldKeepName), "1")
  }

  /** Whether the store keeps pre-fold deltas (the amend-horizon opt-in). */
  def prefoldKeepDeclared(storeDir: String): Boolean =
    new java.io.File(storeDir, PrefoldKeepName).exists()

  private val AmendHorizonName = "_amend_horizon"

  /** Declare the store's AMEND HORIZON: corrections are accepted only
    * for landings within `nBatches` of the ingest frontier, which lets
    * maintenance RETIRE pre-fold archives for epochs entirely beyond it
    * ([[retireArchiveBeyondHorizon]]) — the storage bound that makes
    * [[declarePrefoldKeep]] safe to leave on forever. Without a horizon
    * the archive is bounded by retention alone (expiry drops archives
    * with their epochs), which can be months of serving window; the
    * horizon is the TIGHTER, amendability-scoped bound — size it to the
    * latest correction the pipeline contractually accepts (takedown SLA,
    * re-crawl cadence), the way [[declareReplayDepth]] is sized to the
    * checkpoint's re-delivery window.
    */
  def declareAmendHorizon(storeDir: String, nBatches: Long): Unit = {
    require(nBatches > 0, s"amend horizon must be positive, got $nBatches")
    new java.io.File(storeDir).mkdirs()
    writeAtomic(new java.io.File(storeDir, AmendHorizonName), nBatches.toString)
  }

  /** The store's declared amend horizon (None = archives bounded by
    * retention alone).
    */
  def amendHorizonOf(storeDir: String): Option[Long] = {
    val f = new java.io.File(storeDir, AmendHorizonName)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong)
    else None
  }

  private def archiveTombstoneFile(root: java.io.File, e: Long) =
    new java.io.File(new java.io.File(root, PrefoldDirName),
      s"_epoch_${e}_retired")

  /** Whether epoch `e`'s archive was retired by the amend horizon. */
  private[graft] def archiveRetired(storeDir: String, e: Long): Boolean =
    archiveTombstoneFile(new java.io.File(storeDir), e).exists()

  /** The store's ingest FRONTIER: the newest batch covered by any live
    * ingest partition or folded epoch (None when nothing has landed).
    */
  private def ingestFrontier(storeDir: String): Option[Long] = {
    val ids = partitionIds(new java.io.File(storeDir))
    val live = ids.filter(_ >= 0)
    val epochTops = epochSizeOf(storeDir).toSeq.flatMap { es =>
      ids.filter(_ <= EpochFoldBase)
        .map(id => (EpochFoldBase - id + 1) * es - 1)
    }
    val all: Seq[Long] = live ++ epochTops
    all.maxOption
  }

  /** Retire pre-fold archives beyond the amend horizon: an epoch whose
    * NEWEST batch is older than `frontier − horizon` can no longer be
    * amended under the declared contract, so its archived sources leave
    * disk and its manifest is replaced by a retirement TOMBSTONE — the
    * re-band refusal then names the horizon instead of reading as a
    * mystery-incomplete archive. Tombstone-then-delete ordering: a
    * crash between the two leaves a tombstoned epoch with stale archive
    * files, which the next pass finishes deleting — never the reverse
    * (a deleted archive still claiming amendability). Returns the
    * retired epoch ids; no-op without both opt-ins.
    */
  def retireArchiveBeyondHorizon(storeDir: String): Seq[Long] =
    withLease(storeDir) {
      val horizon = amendHorizonOf(storeDir)
      val es = epochSizeOf(storeDir)
      if (!prefoldKeepDeclared(storeDir) || horizon.isEmpty || es.isEmpty) Nil
      else ingestFrontier(storeDir) match {
        case None => Nil
        case Some(frontier) =>
          val cut = frontier - horizon.get
          val root = new java.io.File(storeDir)
          val prefold = new java.io.File(root, PrefoldDirName)
          val manifested = Option(prefold.listFiles()).toSeq.flatten
            .flatMap { f =>
              val n = f.getName
              if (n.startsWith("_epoch_") && n.endsWith("_sources"))
                Some(n.stripPrefix("_epoch_").stripSuffix("_sources").toLong)
              else None
            }
          val retirable = manifested
            .filter(e => (e + 1) * es.get - 1 < cut).sorted
          retirable.foreach { e =>
            val ids = epochArchiveManifest(storeDir, e).getOrElse(Nil)
            val tomb = archiveTombstoneFile(root, e)
            writeAtomic(tomb, s"retired at frontier $frontier, horizon ${horizon.get}")
            ids.foreach(id => deleteRecursively(
              new java.io.File(prefold, s"batch_id=$id")))
            archiveManifestFile(root, e).delete()
            ()
          }
          retirable
      }
    }

  /** Ids archived under the store's `.prefold/` directory. */
  private[graft] def archivedIds(storeDir: String): Seq[Long] =
    partitionIds(new java.io.File(storeDir, PrefoldDirName))

  private def archiveManifestFile(root: java.io.File, e: Long) =
    new java.io.File(new java.io.File(root, PrefoldDirName),
      s"_epoch_${e}_sources")

  /** The COMPLETE source-id list of folded epoch `e` per the archive
    * manifest (None when the epoch folded without one — pre-opt-in
    * history, unamendable). The manifest is what makes a re-band safe:
    * archive-directory listing alone cannot distinguish "every source
    * archived" from "opted in between two incremental folds of this
    * epoch", and re-banding from a partial archive would silently drop
    * the unarchived sources' rows.
    */
  private[graft] def epochArchiveManifest(storeDir: String,
      e: Long): Option[Seq[Long]] = {
    val f = archiveManifestFile(new java.io.File(storeDir), e)
    if (!f.exists()) None
    else Some(java.nio.file.Files.readAllLines(f.toPath).asScala
      .filter(_.nonEmpty).map(_.toLong).toSeq)
  }

  /** Record (or extend) epoch `e`'s archive manifest from one fold's
    * source list. An incremental fold that included the existing epoch
    * partition extends the previous manifest; if the epoch has pre-
    * opt-in folded history (epoch partition among the sources, no
    * previous manifest), NO manifest is written — the epoch stays
    * honestly unamendable. Idempotent (atomic rewrite of the merged,
    * deduplicated list).
    */
  private def recordEpochArchive(root: java.io.File, e: Long,
      foldSources: Seq[Long]): Unit = {
    if (!prefoldKeepDeclared(root.getPath)) return
    val nonEpoch = foldSources.filter(_ > EpochFoldBase)
    val prev = epochArchiveManifest(root.getPath, e)
    if (foldSources.exists(_ <= EpochFoldBase) && prev.isEmpty) return
    val ids = (prev.getOrElse(Nil) ++ nonEpoch).distinct.sorted
    val f = archiveManifestFile(root, e)
    f.getParentFile.mkdirs()
    writeAtomic(f, ids.mkString("\n"))
  }

  /** Retire one folded source partition: archive it under `.prefold/`
    * when the store opted in (epoch partitions being re-folded are
    * derived data and always delete), delete otherwise. No-op when the
    * live partition is already gone — recovery replays safely.
    */
  private def retireFoldedSource(root: java.io.File, id: Long): Unit = {
    val src = new java.io.File(root, s"batch_id=$id")
    if (!src.exists()) return
    if (id <= EpochFoldBase || !prefoldKeepDeclared(root.getPath)) {
      deleteRecursively(src)
      return
    }
    val arch = new java.io.File(new java.io.File(root, PrefoldDirName),
      s"batch_id=$id")
    arch.getParentFile.mkdirs()
    // a stale archive entry can only be an older fold's copy of a batch
    // that was re-landed since (requireLandable refuses landings into
    // folded epochs, so this is recovery-only); the live partition is
    // current truth
    if (arch.exists()) deleteRecursively(arch)
    require(src.renameTo(arch), s"pre-fold archive $src -> $arch failed")
  }

  /** The store's epoch size (None if never epoch-folded) — a store-level
    * constant: every fold, read, and expiry aligns to it once set.
    */
  def epochSizeOf(storeDir: String): Option[Long] = {
    val f = new java.io.File(storeDir, EpochSizeName)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong)
    else None
  }

  /** Fold the COMPLETE epochs of a store into per-EPOCH base partitions
    * (`batch_id = EpochFoldBase − e` for epoch e = batch div E) — the
    * age-banded answer to "a store under retention never cross-batch
    * folds": partition count drops from O(window) to O(window / E)
    * while whole-epoch expiry stays ONE directory drop. The fold is a
    * pure ROW UNION (serving re-aggregates every cell family here, so
    * moving rows between partitions cannot change a served value), it
    * moves the epoch's positive batches AND the split-forget negatives
    * whose SOURCE batch lies inside the epoch (late negatives for an
    * already-folded epoch stay as their own partitions and still window
    * correctly — both landings carry the same effective slice), and it
    * folds only epochs whose END is ≤ `uptoBatch` (keep the replay
    * margin out, like every fold here).
    *
    * Pins and epoch folds don't mix (a pin strictly inside a folded
    * epoch could not be served): refuses while any live pin exists —
    * epoch stores serve WINDOWS. Unstamped (in-flight) forget negatives
    * in a foldable epoch refuse like every other fold. Crash-safe per
    * epoch: merged rows stage in a hidden `.epoch_tmp_<e>` dir with a
    * `_folded_ids` manifest; recovery finishes a `_SUCCESS`-complete
    * fold (delete listed sources, rename staging in) and discards
    * incomplete staging. Returns the epochs folded this pass.
    */
  def foldEpochs(spark: SparkSession, storeDir: String, epochSize: Long,
      uptoBatch: Long, skipUnstamped: Boolean = false): Seq[Long] =
      withLease(storeDir) {
    require(epochSize > 0, s"epoch size must be positive, got $epochSize")
    val root = new java.io.File(storeDir)
    epochSizeOf(storeDir).foreach { e =>
      require(e == epochSize,
        s"store $storeDir is epoch-folded at size $e; refusing size $epochSize")
    }
    val pins = livePins(storeDir)
    if (pins.nonEmpty)
      throw new IllegalStateException(
        s"cannot epoch-fold $storeDir: live release pin(s) " +
          pins.toSeq.sorted.map { case (n, p) => s"$n@$p" }.mkString(", ") +
          " — a pin strictly inside a folded epoch could not be served; " +
          "epoch stores serve windows, release the pins first")
    if (compactionHorizon(storeDir).nonEmpty)
      throw new IllegalStateException(
        s"cannot epoch-fold $storeDir: a whole-base fold already ran " +
          "(compaction horizon set) — the two base layouts don't compose")
    recoverEpochStaging(root)
    val foldableIds = partitionIds(root)
      .filter(id => id != BasePartition && id > EpochFoldBase &&
        effectiveBatch(id) >= 0)
    // an epoch whose range dips below the retention floor must stay raw:
    // a floor mid-epoch (expireBefore already dropped batches [e·es,
    // floor)) would fold the SURVIVING tail into an epoch partition that
    // partially overlaps every legal window (windows start at the floor),
    // so requireWindowServableAt would refuse every read that could serve
    // the retained batches — the data would be unservable by all paths
    // until the whole epoch expired. A floor aligned AT e·es keeps the
    // epoch complete and foldable; a floor above the epoch leaves it no
    // partitions to fold. `e*es >= floor` covers all three cases.
    val floor = retentionFloor(storeDir).getOrElse(Long.MinValue)
    val candidates = foldableIds.groupBy(id => effectiveBatch(id) / epochSize)
      .filter { case (e, _) =>
        (e + 1) * epochSize - 1 <= uptoBatch && e * epochSize >= floor }
    // pre-validate EVERY candidate epoch before folding ANY: a refusal
    // thrown mid-loop would leave some epochs folded with the _epoch_size
    // marker not yet written, and windowedReadFilter's no-marker branch
    // would silently exclude the folded rows — the one way this store
    // could under-serve without refusing. Same reason the marker commits
    // BEFORE the first rename below. `skipUnstamped` is the scheduled-
    // maintenance mode: an epoch holding an in-flight forget negative is
    // left raw (it folds on a later pass, once the request commits)
    // instead of failing the whole pass.
    val byEpoch =
      if (skipUnstamped)
        candidates.filter { case (_, ids) => ids.forall(foldable(root, _)) }
      else {
        candidates.toSeq.sortBy(_._1).foreach { case (e, ids) =>
          ids.filterNot(foldable(root, _)).foreach { id =>
            throw new IllegalStateException(
              s"cannot epoch-fold $storeDir epoch $e: partition batch_id=$id " +
                "is an in-flight forget negative (no commit stamp) — let the " +
                "request commit first")
          }
        }
        candidates
      }
    // the marker is the store's "reads must use the epoch-aware filter"
    // switch: written before the first rename so a crash mid-loop leaves
    // every already-folded epoch VISIBLE to windowed reads (a marker with
    // zero epoch partitions is benign — the store just serves windows
    // with nothing banded yet)
    if (byEpoch.nonEmpty && epochSizeOf(storeDir).isEmpty)
      writeAtomic(new java.io.File(root, EpochSizeName), epochSize.toString)
    val folded = byEpoch.toSeq.sortBy(_._1).map { case (e, ids) =>
      val tmp = new java.io.File(root, s".epoch_tmp_$e")
      deleteRecursively(tmp)
      val target = new java.io.File(root, s"batch_id=${EpochFoldBase - e}")
      val sources = ids ++
        (if (target.exists()) Seq(EpochFoldBase - e) else Nil)
      // consolidate to ONE file per epoch: the banding win is fewer
      // partitions AND fewer files (each delta landed coalesce(1), so an
      // epoch re-reads E small files into one). Cell stores stay small
      // (bounded by key cardinality, not corpus); a row-union identity
      // store whose epochs outgrow a single file should band with a
      // larger E-to-file ratio via the bucketed appendInto layout instead
      // footer merge: an evolved store's epochs consolidate under the
      // UNION schema, pre-add deltas null-filling appended columns —
      // serving re-aggregates, so the fold stays value-invariant
      spark.read.option("mergeSchema", "true")
        .parquet(sources.map(id => s"$storeDir/batch_id=$id"): _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      writeAtomic(new java.io.File(tmp, "_folded_ids"), sources.mkString("\n"))
      recordEpochArchive(root, e, sources)
      sources.foreach(id => retireFoldedSource(root, id))
      // rename WITH the manifest inside (invisible to readers), drop it
      // after — a crash between source retires and the rename must leave
      // the manifest for recovery or the staged rows would be discarded
      require(tmp.renameTo(target), s"epoch fold $tmp -> $target failed")
      new java.io.File(target, "_folded_ids").delete()
      e
    }
    folded
  }

  /** Finish (or discard) interrupted epoch-fold/re-band staging: a
    * `_SUCCESS`-complete staging retires its listed live sources
    * (archive or delete per the store's opt-in; already-retired ids
    * no-op) and renames in; incomplete staging is discarded. Shared by
    * [[foldEpochs]] and [[rebandEpochWithAmendment]] — both protocols
    * stage identically, so one recovery replays either.
    */
  private def recoverEpochStaging(root: java.io.File): Unit =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(".epoch_tmp_"))
      .foreach { tmp =>
        val e = tmp.getName.stripPrefix(".epoch_tmp_").toLong
        val manifest = new java.io.File(tmp, "_folded_ids")
        if (new java.io.File(tmp, "_SUCCESS").exists() && manifest.exists()) {
          val ids = java.nio.file.Files.readAllLines(manifest.toPath).asScala
            .filter(_.nonEmpty).map(_.toLong).toSeq
          recordEpochArchive(root, e, ids)
          ids.foreach(id => retireFoldedSource(root, id))
          val target = new java.io.File(root, s"batch_id=${EpochFoldBase - e}")
          deleteRecursively(target)
          // the manifest rides INSIDE the rename (underscore-prefixed →
          // invisible to parquet) and is dropped only once the swap is
          // durable — a crash at any point here replays safely
          require(tmp.renameTo(target), s"epoch recovery $tmp -> $target failed")
          new java.io.File(target, "_folded_ids").delete()
          ()
        } else deleteRecursively(tmp)
      }

  /** The folded epoch covering `batchId`, when one exists on the store. */
  def foldedEpochOf(storeDir: String, batchId: Long): Option[Long] =
    epochSizeOf(storeDir).map(es => batchId / es).filter(e =>
      new java.io.File(storeDir,
        s"batch_id=${EpochFoldBase - e}").exists())

  /** Re-band one folded epoch with an AMENDED landing: overwrite the
    * archived pre-fold delta for `batchId` with `correctedRows` (the
    * store's own per-batch kernel applied to the corrected content),
    * then re-fold the whole epoch from the archive through the staged
    * epoch protocol — afterwards the epoch partition holds exactly the
    * fold of the corrected deltas, so every windowed serve covering the
    * epoch equals the corrected-corpus recompute of its slice. Requires
    * the store to have opted in with [[declarePrefoldKeep]] BEFORE the
    * epoch folded (the archive must hold every source of the epoch);
    * refuses loudly otherwise — that landing needs a window rebuild.
    * Idempotent: both steps (archived-partition overwrite, staged
    * re-fold) rewrite deterministic state, and a crash mid-way is
    * finished by [[recoverEpochStaging]] or a replay.
    */
  private[graft] def rebandEpochWithAmendment(spark: SparkSession,
      storeDir: String, batchId: Long,
      correctedRows: DataFrame): Unit = withLease(storeDir) {
    val root = new java.io.File(storeDir)
    recoverEpochStaging(root)
    val es = epochSizeOf(storeDir).getOrElse(throw new IllegalStateException(
      s"cannot re-band $storeDir batch $batchId: the store is not " +
        "epoch-folded — amend the landing partition directly"))
    val e = batchId / es
    val target = new java.io.File(root, s"batch_id=${EpochFoldBase - e}")
    require(target.exists(),
      s"cannot re-band $storeDir epoch $e: it is not folded — amend the " +
        "landing partition directly")
    // tombstone checked BEFORE the manifest: a retirement that crashed
    // between tombstone and manifest delete must still refuse as
    // "retired", not as a mystery-incomplete archive
    if (archiveRetired(storeDir, e))
      throw new IllegalStateException(
        s"cannot re-band $storeDir epoch $e for batch $batchId: its " +
          s"pre-fold archive was RETIRED by the amend horizon " +
          s"(${amendHorizonOf(storeDir).getOrElse(-1L)} batches) — the " +
          "declared correction window has passed; a late correction " +
          "beyond it needs a window rebuild")
    val arch = epochArchiveManifest(storeDir, e).getOrElse(
      throw new IllegalStateException(
        s"cannot re-band $storeDir epoch $e for batch $batchId: the epoch " +
          "was folded without its pre-fold deltas (declarePrefoldKeep must " +
          "precede the fold) — this landing's correction needs a window " +
          "rebuild"))
    arch.filterNot(_ == batchId).foreach { id =>
      require(new java.io.File(root,
          s"$PrefoldDirName/batch_id=$id").exists(),
        s"cannot re-band $storeDir epoch $e: archived source batch_id=$id " +
          "is missing from .prefold — the archive is incomplete")
    }
    if (!arch.contains(batchId))
      throw new IllegalStateException(
        s"cannot re-band $storeDir epoch $e for batch $batchId: the batch " +
          "never landed in this epoch — an amendment replaces a landing, " +
          "it does not add one")
    // 1. the corrected landing replaces its archived pre-fold delta
    //    (idempotent overwrite; the archive stays the epoch's source of
    //    truth for any LATER amendment of another batch in the epoch)
    correctedRows.coalesce(1).write.mode("overwrite")
      .parquet(s"$storeDir/$PrefoldDirName/batch_id=$batchId")
    // 2. re-fold the epoch from the archive through the staged protocol;
    //    the manifest lists the archived ids — none live, so recovery's
    //    retire pass no-ops and the swap is the only mutation
    val tmp = new java.io.File(root, s".epoch_tmp_$e")
    deleteRecursively(tmp)
    spark.read.option("mergeSchema", "true")
      .parquet(arch.map(id => s"$storeDir/$PrefoldDirName/batch_id=$id"): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    writeAtomic(new java.io.File(tmp, "_folded_ids"), arch.mkString("\n"))
    deleteRecursively(target)
    require(tmp.renameTo(target), s"epoch re-band $tmp -> $target failed")
    new java.io.File(target, "_folded_ids").delete()
    ()
  }

  /** The store's retention floor — batches below it have been expired
    * (None if never expired). Reads must not claim slices below it.
    */
  def retentionFloor(storeDir: String): Option[Long] = {
    val f = new java.io.File(storeDir, RetentionFloorName)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong)
    else None
  }

  /** What one expiry pass did. `droppedFiles` counts the data files the
    * dropped partitions held (the deletion-volume number a retention
    * audit records).
    */
  case class ExpiryReport(floor: Long, droppedBatches: Seq[Long],
      droppedBase: Boolean, droppedFiles: Long = 0L)

  /** The validated, not-yet-executed listing of one expiry pass — the
    * pre-drop state [[expireBeforeCertified]] stages its certificate
    * from, so the proof of deletion exists BEFORE any byte is deleted.
    * `filesById` is the per-partition data-file count (nested payload
    * files included), which is what lets the certificate carry honest
    * per-ACTION file counts instead of repeating the store total.
    */
  private[graft] case class ExpiryPlan(floor: Long, dropped: Seq[Long],
      dropBase: Boolean, filesById: Map[Long, Long], baseFiles: Long,
      archivedById: Map[Long, Long] = Map.empty) {
    def isNoop: Boolean =
      dropped.isEmpty && !dropBase && archivedById.isEmpty
    def totalFiles: Long =
      filesById.values.sum + baseFiles + archivedById.values.sum
    def report: ExpiryReport = ExpiryReport(floor, dropped, dropBase, totalFiles)
  }

  /** Expire every landing below `lo`: drop the delta partitions whose
    * effective batch (split-forget negatives count as the source batch
    * they negate — an erasure correction for expired content is itself
    * expired) is < lo, and advance the retention floor. Refuses when the
    * drop would be silently WRONG rather than doing it half-way:
    *
    *  - live release pins: a pin's read starts at batch 0, so any expiry
    *    breaks every live pin — release them first (when retention is
    *    legally mandated it outranks the release, and the refusal names
    *    the pins to force that decision into the open);
    *  - a base partition holding batches ≥ lo (compaction horizon ≥ lo):
    *    those rows merged their batch identity away and cannot be
    *    selectively dropped — TTL stores must not cross-batch fold. A
    *    base whose horizon is entirely below lo IS droppable whole (the
    *    fold-an-epoch-then-expire-it pattern) and resets the horizon;
    *  - legacy whole-wave forget negatives: they subtract across ALL
    *    batches, so dropping (or keeping) them against a partial history
    *    mis-serves either way — TTL stores take split forgets only;
    *  - an UNSTAMPED negative partition (in-flight forget request): its
    *    replay would re-land negations for batches this expiry is about
    *    to drop — let the request commit first.
    *
    * Idempotent and monotone (a lower `lo` than the floor is a no-op).
    */
  def expireBefore(storeDir: String, lo: Long): ExpiryReport =
    withLease(storeDir) {
      val plan = planExpiry(storeDir, lo)
      executeExpiry(storeDir, plan)
      plan.report
    }

  /** Validate an expiry pass and list exactly what it would drop —
    * every refusal shape of [[expireBefore]], zero mutation. The split
    * into plan/execute is what lets [[expireBeforeCertified]] commit its
    * certificate from the pre-drop listing BEFORE the first delete.
    */
  private[graft] def planExpiry(storeDir: String, lo: Long): ExpiryPlan = {
      val root = new java.io.File(storeDir)
      val floor = math.max(lo, retentionFloor(storeDir).getOrElse(Long.MinValue))
      val ids = partitionIds(root)
      val pins = livePins(storeDir)
      if (pins.nonEmpty)
        throw new IllegalStateException(
          s"cannot expire $storeDir below batch $lo: live release pin(s) " +
            pins.toSeq.sorted.map { case (n, p) => s"$n@$p" }.mkString(", ") +
            " read from batch 0 and would lose their slice; release them first " +
            "(legally-mandated retention outranks a release — decide explicitly)")
      if (forgetHorizon(storeDir).nonEmpty ||
          ids.exists(id => id < BasePartition && id > SplitForgetBase))
        throw new IllegalStateException(
          s"cannot expire $storeDir: it carries whole-wave forget landings, " +
            "which subtract across every batch and cannot expire per-batch — " +
            "stores under retention take split (per-source-batch) forgets only")
      ids.filter(id => id < BasePartition && id > EpochFoldBase &&
          !new java.io.File(root, s"batch_id=$id/$ForgetCommittedName").exists())
        .foreach { id =>
          throw new IllegalStateException(
            s"cannot expire $storeDir: negative partition batch_id=$id is an " +
              "in-flight forget request (no commit stamp); its replay would " +
              "re-land negations for batches this expiry drops — let it commit")
        }
      val horizon = compactionHorizon(storeDir)
      horizon.filter(_ >= lo).foreach { h =>
        throw new IllegalStateException(
          s"cannot expire $storeDir below batch $lo: compaction folded batches " +
            s"up to $h into the base, which merged their batch identity away — " +
            "a store under retention must not cross-batch fold (expiry would " +
            "silently retain the folded rows)")
      }
      val dropBase = horizon.isDefined // horizon < lo: the whole base expired
      epochSizeOf(storeDir).foreach { es =>
        ids.filter(_ <= EpochFoldBase).map(EpochFoldBase - _).foreach { e =>
          if (e * es < lo && lo < (e + 1) * es)
            throw new IllegalStateException(
              s"cannot expire $storeDir below batch $lo: folded epoch $e " +
                s"covers batches [${e * es}, ${(e + 1) * es - 1}] and the " +
                "floor falls inside it — expiry on an epoch-folded store " +
                s"must align to the epoch size $es")
        }
      }
      val droppedEpochs = epochSizeOf(storeDir).toSeq.flatMap { es =>
        ids.filter(id => id <= EpochFoldBase &&
          (EpochFoldBase - id + 1) * es <= lo)
      }
      val dropped = (ids
        .filter(id => id != BasePartition && id > EpochFoldBase &&
          effectiveBatch(id) < lo) ++ droppedEpochs)
        .sorted
      def dataFiles(dir: java.io.File): Long =
        Option(dir.listFiles()).toSeq.flatten.map { f =>
          if (f.isDirectory && !f.getName.startsWith(".")) dataFiles(f)
          else if (f.isFile && !f.getName.startsWith(".") &&
            !f.getName.startsWith("_")) 1L
          else 0L
        }.sum
      val baseDir = new java.io.File(root, s"batch_id=$BasePartition")
      // pre-fold ARCHIVED deltas below the floor expire with their epoch:
      // the retention contract is "content leaves disk", and the archive
      // holds the expired landings' bytes as surely as the epoch did
      val archDropped = archivedIds(storeDir)
        .filter(id => effectiveBatch(id) < lo)
        .map(id => id -> dataFiles(new java.io.File(root,
          s"$PrefoldDirName/batch_id=$id"))).toMap
      ExpiryPlan(floor, dropped, dropBase,
        dropped.map(id =>
          id -> dataFiles(new java.io.File(root, s"batch_id=$id"))).toMap,
        if (dropBase) dataFiles(baseDir) else 0L,
        archDropped)
  }

  /** Execute a validated [[ExpiryPlan]]: the drops, then the floor
    * advance. Idempotent — partitions the plan lists that are already
    * gone delete as no-ops, and the floor write is a monotone max.
    */
  private[graft] def executeExpiry(storeDir: String, plan: ExpiryPlan): Unit = {
    val root = new java.io.File(storeDir)
    plan.dropped.foreach(id =>
      deleteRecursively(new java.io.File(root, s"batch_id=$id")))
    plan.archivedById.keys.foreach { id =>
      deleteRecursively(new java.io.File(root, s"$PrefoldDirName/batch_id=$id"))
      // the epoch's archive manifest drops with its last archived source
      // (the whole epoch is below the floor whenever any of it is —
      // planExpiry refuses mid-epoch floors)
      archiveManifestFile(root, effectiveBatch(id) /
        epochSizeOf(storeDir).getOrElse(1L)).delete()
    }
    if (plan.dropBase) {
      deleteRecursively(new java.io.File(root, s"batch_id=$BasePartition"))
      new java.io.File(root, HorizonName).delete()
      ()
    }
    val floor = math.max(plan.floor,
      retentionFloor(storeDir).getOrElse(Long.MinValue))
    writeAtomic(new java.io.File(root, RetentionFloorName), floor.toString)
  }

  // ── the staged-expiry protocol: certify BEFORE deleting ──────────────
  //
  // expireBeforeCertified's whole point is persisted proof of age-based
  // deletion, so the one unacceptable crash window is "bytes deleted,
  // certificate lost": a pass that dropped partitions and advanced the
  // floor before writing its audit rows can never re-derive them (the
  // replay finds the floor already advanced and nothing left to list).
  // The erasure dual already lands audit rows BEFORE its request marker
  // commits; this is the same discipline for expiry. Order per pass:
  //   (1) plan (pre-drop listing, all refusal shapes checked);
  //   (2) stage the plan — one atomically-renamed `_expiry_staged` file
  //       in the store, self-contained (audit root and store name ride
  //       inside, so recovery needs no caller state);
  //   (3) write the certificate rows from the STAGED listing;
  //   (4) execute the drops and advance the floor;
  //   (5) drop the staged file.
  // A crash anywhere in (2)-(5) recovers on the next certified pass:
  // the staged plan re-writes the certificate (idempotent overwrite of
  // its own (store, floor) partition), re-executes the drops (deletes of
  // already-gone partitions are no-ops, the floor write is a monotone
  // max), and unstages. Deletion therefore never outruns its proof.

  private val ExpiryStagedName = "_expiry_staged"

  private[graft] def stageExpiry(storeDir: String, plan: ExpiryPlan,
      auditRoot: String, storeName: String): Unit = {
    val lines = Seq(
      s"floor=${plan.floor}",
      s"dropBase=${if (plan.dropBase) 1 else 0}",
      s"baseFiles=${plan.baseFiles}",
      s"audit=$auditRoot",
      s"store=$storeName") ++
      plan.dropped.map(id => s"drop=$id:${plan.filesById.getOrElse(id, 0L)}") ++
      plan.archivedById.toSeq.sortBy(_._1)
        .map { case (id, n) => s"droparch=$id:$n" }
    writeAtomic(new java.io.File(storeDir, ExpiryStagedName), lines.mkString("\n"))
  }

  /** Finish a certified expiry a crash interrupted: re-write the
    * certificate from the staged listing, re-execute the drops, unstage.
    * No-op when nothing is staged.
    */
  private[graft] def recoverStagedExpiry(spark: SparkSession, storeDir: String): Unit = {
    val f = new java.io.File(storeDir, ExpiryStagedName)
    if (f.exists()) {
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.nonEmpty)
      def field(k: String): String = lines.find(_.startsWith(s"$k="))
        .getOrElse(throw new IllegalStateException(
          s"corrupt staged expiry in $storeDir: missing $k")).drop(k.length + 1)
      val drops = lines.filter(_.startsWith("drop=")).map { l =>
        val Array(id, n) = l.stripPrefix("drop=").split(":")
        id.toLong -> n.toLong
      }
      val archDrops = lines.filter(_.startsWith("droparch=")).map { l =>
        val Array(id, n) = l.stripPrefix("droparch=").split(":")
        id.toLong -> n.toLong
      }
      val plan = ExpiryPlan(field("floor").toLong, drops.map(_._1).toSeq,
        field("dropBase") == "1", drops.toMap, field("baseFiles").toLong,
        archDrops.toMap)
      writeCertificate(spark, plan, field("audit"), field("store"))
      executeExpiry(storeDir, plan)
      f.delete()
      ()
    }
  }

  /** One certificate row per expiry ACTION, with per-action partition
    * AND file counts from the staged pre-drop listing. Overwrites its
    * own `(store, floor)` partition — replays are idempotent.
    */
  private[graft] def writeCertificate(spark: SparkSession, plan: ExpiryPlan,
      auditRoot: String, storeName: String): Unit = {
    def filesOf(p: Long => Boolean): Long =
      plan.filesById.collect { case (id, n) if p(id) => n }.sum
    val actions = Seq(
      ("landing_drop", plan.dropped.count(_ >= 0).toLong,
        filesOf(_ >= 0),
        "positive ingest landings expired below the floor"),
      ("split_negative_drop",
        plan.dropped.count(isSplitId).toLong, filesOf(isSplitId),
        "split-forget negatives expired with their source batches"),
      ("epoch_drop", plan.dropped.count(_ <= EpochFoldBase).toLong,
        filesOf(_ <= EpochFoldBase),
        "whole folded epochs dropped as single directories"),
      ("base_drop", if (plan.dropBase) 1L else 0L, plan.baseFiles,
        "base partition folded entirely below the floor dropped whole"),
      ("prefold_archive_drop", plan.archivedById.size.toLong,
        plan.archivedById.values.sum,
        "pre-fold archived deltas expired with their folded epochs")
    ).filter(_._2 > 0L)
    import spark.implicits._
    actions.toDF("action", "n", "files_dropped", "detail")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$auditRoot/store=$storeName/floor=${plan.floor}")
  }

  /** [[expireBefore]] with a PERSISTED certificate — the retention dual
    * of the erasure certificate ([[ForgetStream.processBatch]]'s audit
    * rows): one row per expiry ACTION, written under
    * `auditRoot/store=<storeName>/floor=<floor>` so a replayed pass
    * overwrites idempotently. Actions: `landing_drop` (positive ingest
    * landings expired), `split_negative_drop` (erasure corrections that
    * expired WITH their source batches), `epoch_drop` (whole folded
    * epochs), `base_drop` (a base whose horizon was entirely below the
    * floor). Each row carries that action's OWN partition and file
    * counts (nested payload files included) from the pre-drop listing —
    * the numbers a retention or licensing audit files, independently
    * recomputable (the q220 oracle ground-truths them against the data).
    * The certificate is STAGED AND COMMITTED BEFORE THE FIRST DELETE
    * (see the staged-expiry protocol above): a crash at any point leaves
    * either an untouched store or a staged listing the next pass
    * finishes from — never deleted data without persisted proof. A
    * no-op pass (floor already at or above `lo`) certifies nothing new.
    */
  def expireBeforeCertified(spark: SparkSession, storeDir: String, lo: Long,
      auditRoot: String, storeName: String): ExpiryReport =
    withLease(storeDir) {
      recoverStagedExpiry(spark, storeDir)
      val plan = planExpiry(storeDir, lo)
      if (!plan.isNoop) {
        stageExpiry(storeDir, plan, auditRoot, storeName)
        writeCertificate(spark, plan, auditRoot, storeName)
      }
      executeExpiry(storeDir, plan)
      if (!plan.isNoop)
        new java.io.File(storeDir, ExpiryStagedName).delete()
      plan.report
    }

  /** The persisted retention certificate — every expiry action recorded
    * by [[expireBeforeCertified]] under `auditRoot`; `store` and `floor`
    * ride as partition columns of the audit layout.
    */
  def expiryCertificate(spark: SparkSession, auditRoot: String): DataFrame = {
    val raw = spark.read.parquet(auditRoot)
    raw.select(org.apache.spark.sql.functions.col("store").cast("string"),
      org.apache.spark.sql.functions.col("floor").cast("long"),
      org.apache.spark.sql.functions.col("action"),
      org.apache.spark.sql.functions.col("n"),
      org.apache.spark.sql.functions.col("files_dropped"),
      org.apache.spark.sql.functions.col("detail"))
  }

  /** The serving filter for a WINDOWED read [lo, upto] — the read shape
    * of a store under retention: positive deltas inside the window,
    * split-forget negatives whose SOURCE batch is inside it (each
    * expires with its source, so the window stays internally
    * consistent), and — on an epoch-folded store — epoch partitions
    * that lie WHOLLY inside the window ([[requireWindowServableAt]]
    * refuses partial overlaps before this filter runs). The base and
    * legacy negatives never qualify.
    */
  def windowedReadFilter(storeDir: String, lo: Long,
      upto: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val src = pmod(lit(SplitForgetBase) - col("batch_id"), lit(SplitStride))
    val base =
      (col("batch_id") >= lo && col("batch_id") <= upto) ||
        (col("batch_id") <= SplitForgetBase && col("batch_id") > EpochFoldBase &&
          src >= lo && src <= upto)
    epochSizeOf(storeDir) match {
      case None => base
      case Some(es) =>
        // epoch e covers [e·es, (e+1)·es): include iff wholly inside
        val e = lit(EpochFoldBase) - col("batch_id")
        base || (col("batch_id") <= EpochFoldBase &&
          e * es >= lo && (e + 1L) * es - 1L <= upto)
    }
  }

  /** The raw windowed rows of a store under retention — the ONE read
    * every family's windowed twin folds: refuse the unservable shapes
    * ([[requireWindowServableAt]]), then filter with the pure
    * partition-function window predicate ([[windowedReadFilter]] — the
    * whole predicate lands in PartitionFilters). Identity stores serve
    * this directly (windows are pure partition slices); SUM-cell stores
    * re-aggregate it with their own fold algebra.
    */
  def readWindow(spark: SparkSession, storeDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame = {
    requireWindowServableAt(storeDir, lo, upto)
    // SCHEMA-AWARE when the store registered a cell schema (any store
    // landed through writeEvolvedDelta): read under the registered union
    // schema so deltas landed before a column was appended null-fill it
    // deterministically — a plain read samples ONE footer and the served
    // schema would depend on which file Spark picks. Unregistered stores
    // read plain, unchanged.
    val reader = cellSchemaOf(storeDir) match {
      case Some((_, reg)) =>
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        spark.read.schema(StructType(
          reg.map { case (n, t) =>
            StructField(n, org.apache.spark.sql.types.DataType.fromDDL(t)) } :+
            StructField("batch_id", LongType)))
      case None => spark.read
    }
    reader.parquet(storeDir)
      .filter(windowedReadFilter(storeDir, lo, upto))
  }

  /** Assert that a windowed read [lo, upto] off this store is faithful:
    * refuses below the retention floor (those landings left disk), when
    * a base partition exists (folded rows cannot window), when
    * whole-wave forget landings exist (they cannot window either — see
    * [[expireBefore]]), or when a folded EPOCH partially overlaps the
    * window (its per-batch identity is gone; windows must epoch-align).
    */
  def requireWindowServableAt(storeDir: String, lo: Long, upto: Long): Unit = {
    retentionFloor(storeDir).filter(_ > lo).foreach { f =>
      throw new IllegalStateException(
        s"store $storeDir cannot serve a window from batch $lo: retention " +
          s"expired everything below $f — raise the window floor")
    }
    compactionHorizon(storeDir).foreach { h =>
      throw new IllegalStateException(
        s"store $storeDir cannot serve windowed reads: compaction folded " +
          s"batches up to $h into the base, which a window cannot exclude — " +
          "stores meant for windowed serving must not cross-batch fold")
    }
    if (forgetHorizon(storeDir).nonEmpty)
      throw new IllegalStateException(
        s"store $storeDir cannot serve windowed reads: it carries whole-wave " +
          "forget landings, which subtract across every batch — windowed " +
          "stores take split forgets only")
    epochSizeOf(storeDir).foreach { es =>
      partitionIds(new java.io.File(storeDir))
        .filter(_ <= EpochFoldBase)
        .map(EpochFoldBase - _).foreach { e =>
          val (s0, s1) = (e * es, (e + 1) * es - 1)
          val inside = s0 >= lo && s1 <= upto
          val outside = s1 < lo || s0 > upto
          if (!inside && !outside)
            throw new IllegalStateException(
              s"store $storeDir cannot serve window [$lo, $upto]: folded " +
                s"epoch $e covers batches [$s0, $s1] and only partially " +
                "overlaps it — windows on an epoch-folded store must " +
                s"align to the epoch size $es")
        }
    }
  }

  // ── the replay-vs-maintenance MARGIN CONTRACT, made checkable ─────────
  //
  // Streaming sinks re-deliver the last batch(es) after a crash, and a
  // re-landed partition is a no-op by overwrite — UNLESS maintenance
  // already folded that batch into the base, in which case the replayed
  // write would re-create the partition BESIDE the folded rows and every
  // serve would double-count it. `MaintenancePolicy.keepLatestDeltas` is
  // the mitigation (the newest K deltas never fold), but nothing
  // enforced K ≥ the stream's replay depth. This guard is the sink-side
  // half of the contract: every delta landing asserts its batch is
  // still landable — not folded (whole-base or epoch) and not expired —
  // so a replay deeper than the margin REFUSES loudly instead of
  // double-counting, and the fix is operational (raise keepLatestDeltas
  // to at least the checkpoint's replay depth; 1 for AvailableNow
  // foreachBatch sinks, which re-deliver at most the last batch).

  private val ReplayDepthName = "_replay_depth"

  /** Declare the stream's replay depth on a store — the policy half of
    * the margin contract: [[maintain]] FLOORS its keepLatestDeltas
    * margin at the declared depth, so a policy configured tighter than
    * the checkpoint's re-delivery window cannot fold a batch the stream
    * may still replay. AvailableNow foreachBatch sinks re-deliver at
    * most the last batch (depth 1); declare higher for sinks with
    * deeper redelivery. Monotone by intent but re-declarable (a
    * checkpoint migration can lower it explicitly).
    */
  def declareReplayDepth(storeDir: String, depth: Int): Unit = {
    require(depth >= 0, s"replay depth must be non-negative, got $depth")
    new java.io.File(storeDir).mkdirs()
    writeAtomic(new java.io.File(storeDir, ReplayDepthName), depth.toString)
  }

  /** The store's declared replay depth (None if never declared). */
  def replayDepthOf(storeDir: String): Option[Int] = {
    val f = new java.io.File(storeDir, ReplayDepthName)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toInt)
    else None
  }

  /** A generic string-valued store-config marker: persist on first
    * write, refuse on mismatch ever after — the `_hll_p` discipline for
    * any configuration a store's rows silently depend on (banding
    * constants, hash families). Mismatched configs usually merge
    * without a structural error and serve silently wrong results, which
    * is why the refusal is loud and at the store boundary.
    */
  def requireConfigMarker(storeDir: String, name: String, value: String,
      writeIfAbsent: Boolean, what: String): Unit = {
    val f = new java.io.File(storeDir, name)
    if (f.exists()) {
      val stored = new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim
      if (stored != value)
        throw new IllegalStateException(
          s"store $storeDir was built with $what=$stored; refusing $what=" +
            s"$value — rows under different configurations merge without " +
            "error and serve silently wrong results")
    } else if (writeIfAbsent) {
      // a truncated marker from a crashed write would permanently refuse
      // every later landing and serve on an otherwise healthy store
      new java.io.File(storeDir).mkdirs()
      writeAtomic(f, value)
    }
  }

  /** Refuse a landing whose batch id maintenance has already folded
    * (the replay-depth-exceeded-margin case) or retention has already
    * expired. Negative ids (forget landings) are guarded by their own
    * commit-stamp protocol and skip this.
    */
  def requireLandable(storeDir: String, batchId: Long): Unit =
    if (batchId >= 0) {
      compactionHorizon(storeDir).filter(_ >= batchId).foreach { h =>
        throw new IllegalStateException(
          s"cannot land batch $batchId on $storeDir: maintenance already " +
            s"folded batches up to $h into the base — this is a replay " +
            "deeper than the keepLatestDeltas margin, and landing it would " +
            "double-count beside the folded rows; raise keepLatestDeltas " +
            "to at least the stream's replay depth")
      }
      epochSizeOf(storeDir).foreach { es =>
        val e = batchId / es
        if (new java.io.File(storeDir,
            s"batch_id=${EpochFoldBase - e}").exists())
          throw new IllegalStateException(
            s"cannot land batch $batchId on $storeDir: epoch $e is already " +
              "folded — a replay deeper than the banding margin would " +
              "double-count beside the epoch partition; raise " +
              "keepLatestDeltas to at least the stream's replay depth")
      }
      retentionFloor(storeDir).filter(_ > batchId).foreach { f =>
        throw new IllegalStateException(
          s"cannot land batch $batchId on $storeDir: retention expired " +
            s"every landing below $f — a replayed batch this old would " +
            "resurrect content below the floor")
      }
    }

  /** The one micro-batch sink frame every streaming sink starts through:
    * `land` runs once per micro-batch of `stream` under a checkpoint at
    * `checkpointDir`, with Trigger.AvailableNow (drain what has landed,
    * then stop — call again as new files land). The margin contract
    * above assumes exactly this trigger: a restarted AvailableNow query
    * re-delivers at most its last batch.
    */
  def sink(stream: DataFrame, name: String, checkpointDir: String)(
      land: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => land(batch, batchId) }
      .start()

  // ── cell-schema evolution: append_new_columns at the store layer ─────
  //
  // The reference's incremental models declare
  // `on_schema_change='append_new_columns'` (reference
  // `models/intermediate/int_sensor_readings_cleaned.sql:15`) and the
  // Materializer honors it for MODEL tables; a streamed delta store
  // whose cell schema grows a column (a new statistic, an extra band
  // family) needs the same discipline or old deltas either fail the
  // read or null-fill SILENTLY through an unpinned serve. The rule,
  // versioned and enforced: the first landing registers the cell
  // schema in a `_cell_schema` marker; a later landing may APPEND new
  // columns (version bumps, marker rewrites atomically) but a TYPE
  // change or a DROPPED/RENAMED column refuses loudly — exactly dbt's
  // append_new_columns semantics. [[readWindowEvolved]] is the
  // schema-aware windowed serve: parquet footer merge unions the
  // versions, pre-add deltas null-fill the appended columns (the
  // serving fold treats null as the additive zero), and the output is
  // pinned to the REGISTERED column set in registered order.

  private val CellSchemaName = "_cell_schema"

  /** The store's registered cell schema as (name, typeSql) in
    * registration order, with its version (None if never registered).
    */
  def cellSchemaOf(storeDir: String): Option[(Int, Seq[(String, String)])] = {
    val f = new java.io.File(storeDir, CellSchemaName)
    if (!f.exists()) None
    else {
      val lines = java.nio.file.Files.readAllLines(f.toPath).asScala
        .filter(_.nonEmpty)
      val v = lines.head.stripPrefix("v=").toInt
      Some((v, lines.tail.map { l =>
        val i = l.lastIndexOf(':')
        (l.substring(0, i), l.substring(i + 1))
      }.toSeq))
    }
  }

  /** Validate a landing's cell schema against the store's registered
    * one and register the evolution when legal. Returns the (possibly
    * bumped) schema version. ADD-only: appended columns register and
    * bump the version; a type change or a missing registered column
    * (a drop or a rename — indistinguishable, both break old deltas'
    * meaning) refuses loudly.
    */
  def registerCellSchema(storeDir: String,
      schema: org.apache.spark.sql.types.StructType): Int =
    planCellSchema(storeDir, schema) match {
      case None => cellSchemaOf(storeDir).map(_._1).getOrElse(1)
      case Some((v, cols)) =>
        new java.io.File(storeDir).mkdirs()
        writeCellSchema(storeDir, v, cols)
        v
    }

  /** Validate a landing's cell schema against the registered one
    * (append_new_columns rule) WITHOUT persisting anything: refusals
    * throw here, BEFORE any delta write; the returned registration (the
    * bumped version and full column list, None when the schema is
    * unchanged) is what the caller persists AFTER its write commits —
    * so a failed write can never leave the marker promising a column no
    * landed delta carries.
    */
  private def planCellSchema(storeDir: String,
      schema: org.apache.spark.sql.types.StructType): Option[(Int, Seq[(String, String)])] = {
    val cols = schema.fields.filterNot(_.name == "batch_id")
      .map(f => f.name -> f.dataType.sql).toSeq
    cellSchemaOf(storeDir) match {
      case None => Some((1, cols))
      case Some((v, reg)) =>
        val byName = cols.toMap
        reg.foreach { case (n, t) =>
          byName.get(n) match {
            case None => throw new IllegalStateException(
              s"store $storeDir cell schema v$v: landing drops (or renames) " +
                s"registered column '$n' — schema evolution here is " +
                "append_new_columns ONLY; a drop/rename breaks the meaning " +
                "of every delta already landed")
            case Some(t2) if t2 != t => throw new IllegalStateException(
              s"store $storeDir cell schema v$v: landing changes column " +
                s"'$n' from $t to $t2 — type changes cannot null-fill and " +
                "refuse (rebuild the store under the new schema instead)")
            case _ => ()
          }
        }
        val added = cols.filterNot { case (n, _) => reg.exists(_._1 == n) }
        if (added.isEmpty) None else Some((v + 1, reg ++ added))
    }
  }

  private def writeCellSchema(storeDir: String, v: Int,
      cols: Seq[(String, String)]): Unit = {
    writeAtomic(new java.io.File(storeDir, CellSchemaName),
      (s"v=$v" +: cols.map { case (n, t) => s"$n:$t" }).mkString("\n"))
  }

  /** One schema-validated delta landing: validate the cell schema
    * (append_new_columns rule — refusals fire BEFORE any write), write
    * the partition, and only then register the evolution — the write
    * path every evolving sink should use. Registration ordering matters:
    * a marker registering an appended column BEFORE the delta lands
    * would, on a failed/crashed write, promise a column no landed delta
    * carries. The inverse crash (delta landed, marker not bumped)
    * converges: the registered-schema serve simply doesn't read the new
    * column yet, and the next landing (or a replay of this one)
    * registers it.
    */
  def writeEvolvedDelta(rows: DataFrame, storeDir: String,
      batchId: Long, coalesce1: Boolean = true,
      subPartBy: Seq[String] = Nil): Unit = {
    requireLandable(storeDir, batchId)
    val evolved = planCellSchema(storeDir, rows.schema)
    val shaped =
      if (subPartBy.nonEmpty) rows.repartition(subPartBy.map(
        org.apache.spark.sql.functions.col): _*)
      else if (coalesce1) rows.coalesce(1)
      else rows
    val w = shaped.write.mode("overwrite")
    (if (subPartBy.nonEmpty) w.partitionBy(subPartBy: _*) else w)
      .parquet(s"$storeDir/batch_id=$batchId")
    evolved.foreach { case (v, cols) =>
      new java.io.File(storeDir).mkdirs()
      writeCellSchema(storeDir, v, cols)
    }
  }

  /** The schema-aware windowed read: [[readWindow]] under the
    * REGISTERED schema — the union schema the `_cell_schema` marker
    * already persists name:type, handed to the scan as an explicit
    * read schema, so deltas landed before a column was appended
    * null-fill it natively (the serving fold's additive zero) and the
    * serve pays ZERO footer merges. (A `mergeSchema` read here would
    * re-derive from EVERY landing's footer what the marker already
    * says — an O(store) listing tax per serve that grows with store
    * size, not window size.) Output pinned to the registered column
    * set in registered order. Refuses on an unregistered store: an
    * evolved serve needs the marker that says which columns are law.
    */
  def readWindowEvolved(spark: SparkSession, storeDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame = {
    val (_, reg) = cellSchemaOf(storeDir).getOrElse(
      throw new IllegalStateException(
        s"store $storeDir has no registered cell schema — land deltas " +
          "through writeEvolvedDelta (or registerCellSchema) before " +
          "serving the evolved read"))
    requireWindowServableAt(storeDir, lo, upto)
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val readSchema = StructType(
      reg.map { case (n, t) =>
        StructField(n, org.apache.spark.sql.types.DataType.fromDDL(t)) } :+
        StructField("batch_id", LongType)) // the partition axis the filter prunes on
    spark.read.schema(readSchema).parquet(storeDir)
      .filter(windowedReadFilter(storeDir, lo, upto))
      .select(reg.map { case (n, _) => col(n) }: _*)
  }

  private val ForgetHorizonName = "_forget_horizon"

  /** Highest positive landing present when the newest forget wave landed
    * on this ADDITIVE store (None if never forgotten) — the boundary
    * below which pinned reads are no longer faithful: a negative cell
    * delta is an aggregate correction, valid only for reads that include
    * every forgotten doc's positive cells. Identity-store erasure
    * (surgical per-row deletes) never advances this — those pinned reads
    * stay exact.
    */
  def forgetHorizon(storeDir: String): Option[Long] = {
    val f = new java.io.File(storeDir, ForgetHorizonName)
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong)
    else None
  }

  /** Seal an additive store's history at its current landing frontier —
    * called by every negative-cell forget landing. Monotone; a store
    * with no positive landings yet seals at -1 (nothing to mis-serve).
    */
  def advanceForgetHorizon(storeDir: String): Unit = {
    val ids = partitionIds(new java.io.File(storeDir)).filter(_ >= 0)
    val frontier = (ids ++ compactionHorizon(storeDir).toSeq ++
      forgetHorizon(storeDir).toSeq).foldLeft(-1L)(math.max)
    writeAtomic(new java.io.File(storeDir, ForgetHorizonName), frontier.toString)
  }

  private def requirePinsAhead(storeDir: String, upto: Long): Unit = {
    val violated = livePins(storeDir).filter(_._2 < upto)
    if (violated.nonEmpty)
      throw new IllegalStateException(
        s"refusing to fold $storeDir up to batch $upto: live release pin(s) " +
          violated.toSeq.sorted.map { case (n, p) => s"$n@$p" }.mkString(", ") +
          " would silently start serving post-pin rows folded into the base; " +
          "release the pin or clamp the fold with maxFoldableUpto")
    retentionFloor(storeDir).foreach { f =>
      throw new IllegalStateException(
        s"refusing to fold $storeDir: retention floor $f is set — a store " +
          "under retention never folds across batches (folded rows lose the " +
          "batch identity expiry drops by); its file count is bounded by the " +
          "retention window instead")
    }
    epochSizeOf(storeDir).foreach { es =>
      throw new IllegalStateException(
        s"refusing to fold $storeDir: it is epoch-folded (size $es) and the " +
          "two base layouts don't compose — a whole-base fold would set a " +
          "compaction horizon that makes windowed reads refuse while pinned " +
          "reads already refuse on the epoch marker, leaving the store " +
          "unservable by every path; fold epochs (foldEpochs) instead")
    }
  }

  /** Make the single-maintenance-writer assumption CHECKABLE: every
    * fold/compaction body runs under a store-level lease file, created
    * atomically — a second concurrent maintenance call on the same store
    * fails fast with `IllegalStateException` instead of corrupting the
    * staging protocol. A crash leaves a stale lease; it is taken over
    * when older than `staleMs` (the crashed writer's recovery logic
    * already makes a takeover safe — every protocol here resumes or
    * discards from its manifest). The lease guards MAINTENANCE against
    * maintenance only: readers and the per-batch sink writers never
    * touch it.
    */
  /** Leases already held by THIS thread — makes withLease reentrant, so
    * a pipeline-scope `withLeases` can wrap the self-leasing entry
    * points without double-acquiring its own lease.
    */
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  def withLease[A](storeDir: String, staleMs: Long = 30L * 60L * 1000L)(
      body: => A): A = {
    val root = new java.io.File(storeDir)
    root.mkdirs()
    val key = root.getCanonicalPath
    if (held.get().contains(key)) return body
    val lease = new java.io.File(root, LeaseName)
    val now = System.currentTimeMillis()
    if (lease.exists() && now - lease.lastModified() < staleMs)
      throw new IllegalStateException(
        s"maintenance lease held on $storeDir (age ${now - lease.lastModified()} ms); " +
          "a second maintenance writer must not run concurrently")
    // takeover of a stale lease: reset its clock, then proceed — the
    // fold protocols recover any crashed predecessor from manifests
    lease.delete()
    if (!lease.createNewFile()) {
      if (!lease.setLastModified(now))
        throw new IllegalStateException(s"cannot acquire lease on $storeDir")
    }
    held.set(held.get() + key)
    try body
    finally { held.set(held.get() - key); lease.delete(); () }
  }

  /** Pipeline-scope maintenance window: hold SEVERAL stores' leases for
    * one body (sorted, deduplicated acquisition — with fail-fast
    * acquisition there is no deadlock to order against, but a canonical
    * order keeps two overlapping pipelines' failure modes symmetric).
    * Use when one maintenance pass touches multiple stores of a
    * pipeline (fp history + band index + decisions) and a concurrent
    * single-store maintainer must not interleave with it.
    */
  def withLeases[A](storeDirs: Seq[String],
      staleMs: Long = 30L * 60L * 1000L)(body: => A): A =
    storeDirs.distinct.sorted
      .foldRight(() => body)((dir, cont) => () => withLease(dir, staleMs)(cont()))
      .apply()

  /** The landings of the per-batchId store at `dir` below `batchId`, or
    * `empty` while the store has none. A replayed batch may already have
    * (partly) written its own partition, so it is never its own history.
    */
  private[streaming] def historyBefore(spark: SparkSession, dir: String,
      batchId: Long, empty: DataFrame): DataFrame = {
    val f = new java.io.File(dir)
    val landed = f.exists() && f.listFiles() != null &&
      f.listFiles().exists(x => x.getName.endsWith(".parquet") ||
        (x.isDirectory && x.getName.startsWith("batch_id=")))
    if (landed) spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("batch_id") < batchId)
    else empty
  }

  private[streaming] def partitionIds(dir: java.io.File): Seq[Long] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong)

  /** Sentinel a forget landing writes INSIDE its negative delta
    * partition once its request marker has committed (see
    * [[ForgetStream.processBatch]]). Underscore-prefixed → invisible to
    * parquet readers, so serving is unaffected either way.
    */
  private[streaming] val ForgetCommittedName = "_FORGET_COMMITTED"

  /** Folds must not touch a NEGATIVE-range forget delta whose request
    * marker has not committed: the streamed forget replays on crash
    * (overwriting its partition — idempotent), but a fold that already
    * MOVED the uncommitted rows into the base would turn the replay's
    * re-landing into a double-subtraction. Ordinary (≥ base) partitions
    * are always foldable.
    */
  private def foldable(root: java.io.File, id: Long): Boolean =
    id >= BasePartition ||
      new java.io.File(root, s"batch_id=$id/$ForgetCommittedName").exists()

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Fold `batch_id <= upto` partitions (and the base) through `merge`
    * into the base partition. `merge` sees the union of the folded
    * partitions' DATA columns (no batch_id) and must return the same
    * schema the sink writes.
    */
  def foldInto(spark: SparkSession, storeDir: String, upto: Long)(
      merge: DataFrame => DataFrame): Unit = withLease(storeDir) {
    val root = new java.io.File(storeDir)
    val staging = new java.io.File(root, StagingName)
    val base = new java.io.File(root, s"batch_id=$BasePartition")
    val manifest = new java.io.File(staging, "_folded_ids")
    def finishFold(ids: Seq[Long]): Unit = {
      ids.foreach(id => deleteRecursively(new java.io.File(root, s"batch_id=$id")))
      require(staging.renameTo(base), s"rename $staging -> $base failed")
      advanceHorizon(root, ids)
    }
    if (staging.exists()) {
      if (new java.io.File(staging, "_SUCCESS").exists() && manifest.exists())
        finishFold(java.nio.file.Files.readAllLines(manifest.toPath)
          .asScala.toSeq.filter(_.nonEmpty).map(_.toLong))
      else deleteRecursively(staging)
    }
    requirePinsAhead(storeDir, upto)
    val ids = partitionIds(root)
      .filter(id => id > EpochFoldBase &&
        (id == BasePartition || effectiveBatch(id) <= upto) && foldable(root, id))
    if (ids.isEmpty || ids == Seq(BasePartition)) return
    merge(spark.read.option("mergeSchema", "true")
      .parquet(ids.map(id => s"$storeDir/batch_id=$id"): _*))
      .write.mode("overwrite").parquet(staging.getPath)
    writeAtomic(manifest, ids.mkString("\n"))
    finishFold(ids)
  }

  // ── the incremental LSM levels: O(delta) minor fold + per-bucket major ──

  private val AppendStagingName = ".append_tmp"
  private val bucketFileRe = """append_b(\d+)_.*""".r

  /** MINOR fold — the O(delta) answer to `foldInto` rewriting the whole
    * base every time: move the rows of delta partitions `batch_id <=
    * upto` INTO the base partition as new bucket-tagged files, without
    * ever reading the base. Correct for every store here because each
    * read path either treats the store as a row union (fp history, band
    * rows, shard membership) or re-aggregates the cells it reads (drift
    * and occupancy sums) — appending delta rows beside base rows serves
    * bit-identically either way. Rows are hashed on `bucketCols` into
    * `nBuckets` file groups (the tag rides the FILE NAME — the base dir
    * stays a flat parquet partition, so partition discovery and every
    * existing reader are untouched), which is what lets
    * `compactBaseBuckets` bound file counts by rewriting ONLY
    * over-threshold buckets. Crash-safe like `foldInto` (single
    * maintenance writer): stage the bucketed files hidden, write the
    * manifest, delete the folded deltas, then move staged files in —
    * a crash mid-move replays from the manifest, and a move that finds
    * its target already present skips it. Returns files appended.
    */
  def appendInto(spark: SparkSession, storeDir: String, upto: Long,
      bucketCols: Seq[String], nBuckets: Int = 32): Long = withLease(storeDir) {
    val root = new java.io.File(storeDir)
    val staging = new java.io.File(root, AppendStagingName)
    val base = new java.io.File(root, s"batch_id=$BasePartition")
    val manifest = new java.io.File(staging, "_appended_ids")
    def stagedFiles(): Seq[(java.io.File, Int)] =
      Option(staging.listFiles()).toSeq.flatten
        .filter(d => d.isDirectory && d.getName.startsWith("__b="))
        .flatMap { d =>
          val b = d.getName.stripPrefix("__b=").toInt
          Option(d.listFiles()).toSeq.flatten
            .filter(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet"))
            .map(_ -> b)
        }
    def finishAppend(ids: Seq[Long]): Long = {
      ids.foreach(id => deleteRecursively(new java.io.File(root, s"batch_id=$id")))
      base.mkdirs()
      val moved = stagedFiles().map { case (f, b) =>
        val target = new java.io.File(base, s"append_b${b}_${f.getName}")
        if (!target.exists())
          java.nio.file.Files.move(f.toPath, target.toPath)
        1L
      }.sum
      deleteRecursively(staging)
      advanceHorizon(root, ids)
      moved
    }
    if (staging.exists()) {
      if (manifest.exists())
        finishAppend(java.nio.file.Files.readAllLines(manifest.toPath)
          .asScala.toSeq.filter(_.nonEmpty).map(_.toLong))
      else deleteRecursively(staging)
    }
    requirePinsAhead(storeDir, upto)
    val ids = partitionIds(root)
      .filter(id => id > EpochFoldBase &&
        id != BasePartition && effectiveBatch(id) <= upto && foldable(root, id))
    if (ids.isEmpty) return 0L
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    spark.read.option("mergeSchema", "true")
      .parquet(ids.map(id => s"$storeDir/batch_id=$id"): _*)
      .withColumn("__b", pmod(xxhash64(bucketCols.map(col): _*), lit(nBuckets.toLong)))
      .repartition(col("__b"))
      .write.partitionBy("__b").mode("overwrite").parquet(staging.getPath)
    writeAtomic(manifest, ids.mkString("\n"))
    finishAppend(ids)
  }

  // ── the maintenance POLICY: thresholds decide WHEN, pins bound HOW FAR ──

  /** Threshold policy for automatic store maintenance. `minorAtDeltas`:
    * run the O(delta) minor fold once at least this many delta
    * partitions are eligible (below it, the partition-discovery overhead
    * of a handful of deltas is cheaper than a fold). `keepLatestDeltas`:
    * the newest K deltas never fold — the replay-safety margin for the
    * one batch a streaming checkpoint may still re-deliver.
    * `maxFilesPerBucket`/`nBuckets`: the per-bucket major threshold and
    * the bucket fan-out (bounds base file count at nBuckets ×
    * maxFilesPerBucket in steady state). `epochSize`: band complete
    * epochs into per-epoch base partitions instead of whole-base folding
    * — the layout for stores under RETENTION, where a whole-base fold is
    * refused (folded rows lose the batch identity expiry drops by) but
    * partition count would otherwise grow to O(retention window);
    * banding bounds it at O(window / epochSize) while whole-epoch expiry
    * stays ONE directory drop. A store already epoch-folded keeps
    * banding at its own marker size even when the policy leaves this
    * unset.
    */
  case class MaintenancePolicy(
      minorAtDeltas: Int = 8,
      keepLatestDeltas: Int = 1,
      maxFilesPerBucket: Int = 4,
      nBuckets: Int = 32,
      epochSize: Option[Long] = None)

  /** What one maintenance pass did — the registry-statistics view an
    * operator (or a probe) reads.
    */
  case class MaintenanceReport(
      nDeltas: Int,
      minorUpto: Option[Long],
      clampedByPins: Boolean,
      filesAppended: Long,
      bucketsRewritten: Long,
      epochsFolded: Long = 0L,
      archivesRetired: Long = 0L)

  /** ONE pin-aware maintenance pass driven by the store's own state —
    * the piece that decides WHEN the LSM levels run, so a deployment
    * schedules `maintain` on a cadence instead of hand-sequencing
    * appendInto/compactBaseBuckets per store. Reads the delta-partition
    * count from partition discovery; if enough deltas are eligible
    * (all but the newest `keepLatestDeltas`), runs the O(delta) minor
    * fold up to the highest boundary the live release pins allow
    * ([[maxFoldableUpto]] — a pin CLAMPS the fold, never fails it, so
    * scheduled maintenance keeps running while a release is being
    * served); then rewrites any over-threshold base buckets. Serving is
    * bit-identical across every pass by the fold algebra; steady-state
    * cost is O(newly landed deltas + over-threshold buckets), never
    * O(base). Idempotent: a pass over a store with nothing eligible is
    * a no-op report.
    */
  def maintain(spark: SparkSession, storeDir: String, bucketCols: Seq[String],
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport =
    withLease(storeDir) {
      val deltas = partitionIds(new java.io.File(storeDir))
        .filter(_ != BasePartition).sorted
      // the margin contract's policy half: a declared replay depth
      // FLOORS the fold margin, whatever the policy says
      val margin = math.max(policy.keepLatestDeltas,
        replayDepthOf(storeDir).getOrElse(0))
      val eligible = deltas.dropRight(margin)
      // EPOCH banding first (retention-layout stores): fold complete
      // epochs whose end clears the replay margin, at the policy size or
      // the store's own marker size. Skips quietly — not throws — when
      // folding would be illegal right now (live pins on a not-yet-epoch
      // store, a legacy whole-base layout) or an epoch holds an
      // in-flight forget negative (skipUnstamped): scheduled maintenance
      // keeps running and the epoch folds on a later pass.
      val epochsFolded =
        policy.epochSize.orElse(epochSizeOf(storeDir)) match {
          case Some(es) if livePins(storeDir).isEmpty &&
              compactionHorizon(storeDir).isEmpty =>
            val posEligible = deltas.filter(_ >= 0)
              .dropRight(margin)
            if (posEligible.nonEmpty)
              foldEpochs(spark, storeDir, es, uptoBatch = posEligible.max,
                skipUnstamped = true).size.toLong
            else 0L
          case _ => 0L
        }
      val (upto, clamped, appended) =
        // a store under retention never whole-base folds, and neither
        // does an epoch-folded (or epoch-policied) one (see
        // requirePinsAhead) — their partition counts are bounded by the
        // retention window / the epoch banding respectively
        if (retentionFloor(storeDir).isEmpty &&
            epochSizeOf(storeDir).isEmpty &&
            policy.epochSize.isEmpty &&
            eligible.size >= policy.minorAtDeltas) {
          val want = eligible.max
          val legal = maxFoldableUpto(storeDir, want)
          // minorUpto reports a fold that RAN: when pins clamp `legal`
          // below every eligible delta no appendInto executes, and
          // reporting Some(legal) would mislead an operator reading it
          // as "folded up to batch N" — report None, clamp flag still set
          if (eligible.exists(id => id > EpochFoldBase && effectiveBatch(id) <= legal))
            (Some(legal),
              legal < want,
              appendInto(spark, storeDir, legal, bucketCols, policy.nBuckets))
          else (None, legal < want, 0L)
        } else (None, false, 0L)
      val rewritten = compactBaseBuckets(spark, storeDir, policy.maxFilesPerBucket)
      // archive retirement rides the same cadence: epochs the declared
      // amend horizon has passed give their pre-fold archives back —
      // the storage half of the amendability contract
      val retired = retireArchiveBeyondHorizon(storeDir).size.toLong
      MaintenanceReport(deltas.size, upto, clamped, appended, rewritten,
        epochsFolded, retired)
    }

  /** Sink-side maintenance hook shared by every delta sink
    * ([[CellStore.sink]] and the identity sinks): when a policy is given, run one
    * threshold-driven [[maintain]] pass per landing on each
    * (storeDir, bucketCols) pair. Below-threshold passes are
    * listing-only no-ops (the maintprobe law), live release pins CLAMP
    * the fold, and the fold algebra is serving-invariant — so a
    * re-delivered batch re-running the pass changes nothing, and the
    * stores maintain themselves continuously instead of waiting for an
    * external driver.
    */
  def sinkMaintain(spark: SparkSession,
      stores: Seq[(String, Seq[String])],
      policy: Option[MaintenancePolicy]): Unit =
    policy.foreach { p =>
      stores.foreach { case (dir, bucketCols) =>
        maintain(spark, dir, bucketCols, p)
        ()
      }
    }

  /** MAJOR fold, per bucket — rewrite only the buckets of the base
    * partition whose bucket-tagged file count exceeds the threshold,
    * each into one file; files from a legacy whole-base `foldInto`
    * (untagged) count as bucket 0 and get re-tagged on their first
    * rewrite. Reads ONLY the over-threshold buckets' files, so the
    * steady-state major cost is bounded by bucket size, not base size.
    * Crash-safe per bucket: merged rows land as a hidden dot-file, a
    * per-bucket manifest names it and the files it replaces, then olds
    * are deleted, the hidden file unhides, and the manifest drops; the
    * next call replays any crashed step from the manifest. Returns the
    * number of buckets rewritten.
    */
  def compactBaseBuckets(spark: SparkSession, storeDir: String,
      maxFilesPerBucket: Int = 4): Long = withLease(storeDir) {
    val base = new java.io.File(storeDir, s"batch_id=$BasePartition")
    if (!base.exists()) return 0L
    replayCompactManifests(base, "_compactb_manifest_")
    Option(base.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(".") && f.getName.contains("append_b"))
      .foreach(_.delete())
    val byBucket = Option(base.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_") && f.getName.endsWith(".parquet"))
      .groupBy(f => f.getName match {
        case bucketFileRe(b) => b.toInt
        case _ => 0
      })
    var rewritten = 0L
    byBucket.toSeq.sortBy(_._1).foreach { case (bucket, files) =>
      if (files.size > maxFilesPerBucket) {
        val tmp = java.nio.file.Files.createTempDirectory("graft-base-compact").toString
        spark.read.parquet(files.map(_.getPath): _*).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val finalName = s"append_b${bucket}_${part.getName}"
        val hidden = new java.io.File(base, "." + finalName)
        java.nio.file.Files.copy(part.toPath, hidden.toPath)
        val mf = new java.io.File(base, s"_compactb_manifest_$bucket")
        writeAtomic(mf, (finalName +: files.map(_.getName)).mkString("\n"))
        files.foreach(_.delete())
        require(hidden.renameTo(new java.io.File(base, finalName)),
          s"rename ${hidden.getName} failed")
        mf.delete()
        deleteRecursively(new java.io.File(tmp))
        rewritten += 1
      }
    }
    rewritten
  }
}
