package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The CUMULATIVE cross-family compliance ledger — what a privacy or
  * licensing review actually reads: one row per (store, metric) over
  * every erasure wave and every expiry floor the pipeline has ever run,
  * served off the PERSISTED audit artifacts alone. The per-wave erasure
  * certificate ([[ForgetStream.erasureCertificate]]) audits one
  * request batch; the expiry certificate
  * ([[StoreCompaction.expiryCertificate]]) one floor; this is their
  * cumulative union plus the stores' live state markers — requests
  * processed, rows and files removed, landings and epochs dropped, the
  * current retention floor, live release pins — with ZERO corpus
  * scans (the q133 stores-served discipline applied to the compliance
  * surface; PlanSpec pins the no-corpus-scan property).
  */
object Compliance {

  /** One cumulative (store, metric, value) row set.
    *
    * `stores` names each store and its directory — the name is the
    * ledger's store key, and must match the `storeName` its expiry
    * passes certified under. Metrics:
    *
    *  - `forget_requests`: distinct erasure request batches that touched
    *    the store (from the erasure certificates);
    *  - `rows_removed`: Σ surgical-delete rows across waves;
    *  - `negative_landings`: whole-wave negative deltas landed (count);
    *  - `negative_split_landings`: Σ pin-preserving split deltas landed;
    *  - `reelections`: Σ corrective re-verdicts (band, exact, semantic,
    *    first-key) across waves;
    *  - `expiry_floors`: distinct certified retention floors;
    *  - `landings_dropped` / `split_negatives_dropped` /
    *    `epochs_dropped` / `bases_dropped`: Σ expired partitions per
    *    action class; `files_dropped`: Σ data files deleted by expiry;
    *  - `amendments` / `amended_docs_erased` / `amended_rows_landed`:
    *    distinct corrected-content landings and their certificate sums
    *    ([[Amend.certifyAmendment]]'s audit store); `epochs_rebanded`:
    *    re-band amendments (count); `erasure_reapplied` /
    *    `stale_negatives_retired`: forgotten docs dropped from corrected
    *    batches and the obsolete split negatives retired with them;
    *  - `archived_rows_scrubbed` (erasure) / `archived_landings_dropped`
    *    (expiry): the `.prefold` archive legs;
    *  - `current_floor` (−1 when never expired) and `live_pins`: the
    *    store's live state markers, always emitted.
    *
    * Certificate-derived metrics appear only when at least one
    * certificate row feeds them (an empty ledger row would claim an
    * audit that never ran).
    */
  def ledger(spark: SparkSession, stores: Seq[(String, String)],
      forgetMarkerRoots: Seq[String] = Nil,
      expiryAuditRoots: Seq[String] = Nil,
      amendAuditRoots: Seq[String] = Nil): DataFrame = {
    import spark.implicits._

    val fRoots = forgetMarkerRoots.filter(r => new java.io.File(s"$r/reports").exists())
    val forgetRows = if (fRoots.isEmpty) Nil else {
      // each marker root's certificates name the stores as seen from it
      val fr = fRoots.map { r =>
        spark.read.parquet(s"$r/reports").join(
          stores.map { case (n, d) => n -> ForgetStream.certifiedStore(r, d) }
            .toDF("__name", "__dir"),
          col("store") === col("__dir"))
      }.reduce(_.unionByName(_))
      val reqs = fr.groupBy(col("__name").as("store"))
        .agg(countDistinct(col("batch_id")).as("value"))
        .select(col("store"), lit("forget_requests").as("metric"), col("value"))
      val whole = fr.filter(col("action") === "negative_landing")
        .groupBy(col("__name").as("store"))
        .agg(count(lit(1)).as("value"))
        .select(col("store"), lit("negative_landings").as("metric"), col("value"))
      val acts = fr.withColumn("metric",
          when(col("action") === "surgical_delete", "rows_removed")
            .when(col("action") === "archive_scrub", "archived_rows_scrubbed")
            .when(col("action") === "negative_split_landing",
              "negative_split_landings")
            .when(col("action").endsWith("reelection"), "reelections"))
        .filter(col("metric").isNotNull)
        .groupBy(col("__name").as("store"), col("metric"))
        .agg(sum(col("n")).cast("long").as("value"))
        .select("store", "metric", "value")
      Seq(reqs, whole, acts)
    }

    val eRoots = expiryAuditRoots.filter(p => new java.io.File(p).exists())
    val expiryRows = if (eRoots.isEmpty) Nil else {
      val er = spark.read.parquet(eRoots: _*)
        .select(col("store").cast("string").as("store"),
          col("floor").cast("long").as("floor"),
          col("action"), col("n"), col("files_dropped"))
      val floors = er.groupBy("store")
        .agg(countDistinct(col("floor")).as("value"))
        .select(col("store"), lit("expiry_floors").as("metric"), col("value"))
      val acts = er.withColumn("metric",
          when(col("action") === "landing_drop", "landings_dropped")
            .when(col("action") === "split_negative_drop",
              "split_negatives_dropped")
            .when(col("action") === "epoch_drop", "epochs_dropped")
            .when(col("action") === "prefold_archive_drop",
              "archived_landings_dropped")
            .when(col("action") === "base_drop", "bases_dropped"))
        .filter(col("metric").isNotNull)
        .groupBy("store", "metric")
        .agg(sum(col("n")).cast("long").as("value"))
        .select("store", "metric", "value")
      val files = er.groupBy("store")
        .agg(sum(col("files_dropped")).cast("long").as("value"))
        .select(col("store"), lit("files_dropped").as("metric"), col("value"))
      Seq(floors, acts, files)
    }

    val aRoots = amendAuditRoots.filter(p => new java.io.File(p).exists())
    val amendRows = if (aRoots.isEmpty) Nil else {
      val ar = spark.read.parquet(aRoots: _*)
        .select(col("store").cast("string").as("store"),
          col("amend").cast("long").as("amend"), col("action"), col("n"))
      val counts = ar.groupBy("store")
        .agg(countDistinct(col("amend")).as("value"))
        .select(col("store"), lit("amendments").as("metric"), col("value"))
      val acts = ar.withColumn("metric",
          when(col("action") === "old_docs_erased", "amended_docs_erased")
            .when(col("action") === "erasure_reapplied", "erasure_reapplied")
            .when(col("action") === "stale_negatives_dropped",
              "stale_negatives_retired")
            .when(col("action") === "corrected_docs_landed" ||
              col("action") === "corrected_cells_landed",
              "amended_rows_landed"))
        .filter(col("metric").isNotNull)
        .groupBy("store", "metric")
        .agg(sum(col("n")).cast("long").as("value"))
        .select("store", "metric", "value")
      // epoch_rebanded's n is the epoch NUMBER, not a mass — count
      // occurrences (re-band amendments), never sum it
      val rebands = ar.filter(col("action") === "epoch_rebanded")
        .groupBy("store").agg(count(lit(1)).as("value"))
        .select(col("store"), lit("epochs_rebanded").as("metric"), col("value"))
      Seq(counts, acts, rebands)
    }

    // live state markers: |stores| tiny driver-side file reads, the
    // registry-statistics pattern — never a data scan
    val state = stores.flatMap { case (n, d) =>
      Seq((n, "current_floor",
        StoreCompaction.retentionFloor(d).getOrElse(-1L)),
        (n, "live_pins", StoreCompaction.livePins(d).size.toLong))
    }.toDF("store", "metric", "value")

    (forgetRows ++ expiryRows ++ amendRows :+ state)
      .reduce(_ unionByName _)
      .orderBy("store", "metric")
  }

  // ── the ledger as a SERVED STORE: point-in-time compliance ───────────
  //
  // [[ledger]] recomputes from the audit roots per call — correct, but a
  // review asks point-in-time questions: "what did the ledger say when
  // we shipped release N?" Recomputing can't answer that (the audit
  // roots keep growing, and expired landings' certificates could
  // themselves age out one day); a SNAPSHOT STORE can — ledger rows
  // landed per batch like every other family, each snapshot a
  // self-contained (store, metric, value) table, windowed by the same
  // retention machinery. This is the q133 stores-served pattern applied
  // to the ledger itself: the serve reads ONE snapshot partition, zero
  // audit-root scans, zero corpus scans (PlanSpec-pinned).

  /** Land one ledger snapshot as `batch_id = snapshotId` on the
    * snapshot store — compute [[ledger]] over the given roots NOW and
    * persist the rows. Snapshots are per-batch OVERWRITE partitions
    * (replay-idempotent) landed through the schema-registered write
    * path, so a later release can append a metric column and old
    * snapshots null-fill through the evolved serve. Returns the row
    * count landed.
    */
  def landLedgerSnapshot(spark: SparkSession, snapDir: String,
      snapshotId: Long, stores: Seq[(String, String)],
      forgetMarkerRoots: Seq[String] = Nil,
      expiryAuditRoots: Seq[String] = Nil,
      amendAuditRoots: Seq[String] = Nil): Long = {
    val rows = ledger(spark, stores, forgetMarkerRoots, expiryAuditRoots,
      amendAuditRoots).localCheckpoint()
    StoreCompaction.writeEvolvedDelta(rows, snapDir, snapshotId)
    rows.count()
  }

  /** The ledger AS OF snapshot `snapshotId` — one partition read off the
    * snapshot store, nothing else. Refuses loudly when the snapshot was
    * never landed or has expired (a silent empty ledger would read as
    * "nothing ever happened" to a review).
    */
  def ledgerAsOf(spark: SparkSession, snapDir: String,
      snapshotId: Long): DataFrame = {
    StoreCompaction.retentionFloor(snapDir).filter(_ > snapshotId).foreach { f =>
      throw new IllegalStateException(
        s"ledger snapshot $snapshotId expired (snapshot retention floor $f) " +
          "— point-in-time reads below the floor are gone by design")
    }
    val part = new java.io.File(snapDir, s"batch_id=$snapshotId")
    if (!part.exists())
      throw new IllegalStateException(
        s"no ledger snapshot $snapshotId under $snapDir — land it with " +
          "landLedgerSnapshot; an empty result would misread as a clean audit")
    spark.read.parquet(part.getPath)
      .select(col("store"), col("metric"), col("value"))
      .orderBy("store", "metric")
  }
}
