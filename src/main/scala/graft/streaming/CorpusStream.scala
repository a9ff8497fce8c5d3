package graft.streaming

import graft.ops.{Corpus, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming corpus ingest — the training-data twin of the sensor
  * streaming surface: documents land as parquet files, each micro-batch
  * is quality-gated with the EXACT batch predicates (Corpus.gateFrame),
  * exact-deduplicated within the batch and against the history
  * FINGERPRINT store (never history text), and appended atomically via
  * `foreachBatch`. This is q72's incremental-ingest classification run
  * continuously: the history side a batch job would rescan is here a
  * monotonically growing fp column store, and re-delivered files are
  * no-ops because the fp anti-join makes the sink idempotent (on top of
  * the checkpoint's exactly-once file accounting).
  *
  * Scale notes: per micro-batch work is (batch × gate projection) + one
  * min-aggregate on fp + one anti-join against history fingerprints —
  * hash-partitioned on uniform md5 keys, no state store at all (the
  * "state" is the warehouse itself), so an unbounded feed never
  * accumulates executor state the way windowed operators do.
  */
object CorpusStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a parquet landing directory. */
  def readDocStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(landingDir)

  /** [[readDocStream]] capped at one file per micro-batch — the pacing a
    * maintenance-hooked sink is exercised under (each landing = one
    * batch, so the per-batch hook sees every threshold crossing).
    */
  def readDocStreamPaced(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(landingDir)

  /** File-source stream over a JSON-lines landing directory — the text
    * landing producers actually emit (log shippers, crawl exporters).
    * Same enforced schema and sink compatibility as the parquet stream;
    * timestamps ride `Catalog.TextTimestampFormat` (text formats
    * truncate to millis under the ISO default).
    */
  def readDocStreamJson(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("timestampFormat", graft.Catalog.TextTimestampFormat)
      .json(landingDir)

  /** Gate + fingerprint a (micro-)batch: returns (doc_id, source, fp)
    * for gate-keepers only — the shared projection of the batch and
    * streaming paths.
    */
  def gatedFingerprints(batch: DataFrame): DataFrame =
    batch
      .join(Corpus.gateFrame(batch).select(col("doc_id"), col("keep")), Seq("doc_id"))
      .filter(col("keep"))
      .select(col("doc_id"), col("source"), md5(TextOps.normalized(col("text"))).as("fp"))

  /** Ingest sink: for each micro-batch, keep gate-passing docs, collapse
    * within-batch duplicates to the min doc_id, drop docs whose fp is
    * already in history, and append the survivors to the history store.
    * Runs with Trigger.AvailableNow (drain the landing dir, then stop) —
    * call again as new files land; the checkpoint carries progress.
    */
  def ingestSink(stream: DataFrame, historyDir: String, checkpointDir: String): StreamingQuery =
    StoreCompaction.sink(stream, "corpus_ingest", checkpointDir) { (batch, batchId) =>
      val fps = gatedFingerprints(batch)
      val firstInBatch = fps.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      val batchReps = fps.join(firstInBatch, Seq("fp", "doc_id"), "left_semi")
      // Per-batch cost law: probe the BIG history with the small batch's
      // fps (broadcast semi-join — history is scanned, never shuffled),
      // then anti-join against the matched slice (≤ batch size,
      // broadcast). A direct anti-join against the full store would
      // shuffle the whole store every batch.
      val known = StoreCompaction.historyBefore(batch.sparkSession, historyDir,
          batchId, batchReps.select("fp").filter(lit(false)))
        .select("fp")
        .join(broadcast(batchReps.select("fp")), Seq("fp"), "left_semi")
      // history rows carry (fp, doc_id, source): later batches anti-join
      // on fp only, so appended text never needs to be re-read. A
      // per-batchId OVERWRITE partition (not append) makes a crashed-
      // then-replayed batch rewrite identical rows instead of adding a
      // second copy — history stays one row per fp by construction.
      batchReps.join(broadcast(known), Seq("fp"), "left_anti")
        .select("fp", "doc_id", "source")
        .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
    }

  // ── the corpus cell stores, each declared once ───────────────────────
  //
  // Every additive store below is a [[CellStore]]: its landing, sink,
  // pinned and windowed reads, compaction and erasure all derive from the
  // declaration. The serves that follow are each family's bespoke
  // post-processing over the store's served cells (or, for kernels that
  // re-fold themselves, its pinned or windowed rows).

  /** q163's classifier-vs-gate eval cells — Mining.evalCells verbatim,
    * so the streamed fold can never band or gate a doc differently from
    * batch q163. ≤ |bands|+1 SUM rows per batch.
    */
  def evalStore(dir: String): CellStore = CellStore("sum_cells", dir, Seq("band"),
    Seq("n_docs" -> CellStore.Sum, "n_keep" -> CellStore.Sum),
    graft.ops.Mining.evalCells, tombstone = Some("n_docs" -> "doc count"))

  /** Serve the q163 eval table off the folded cells alone — bit-equal
    * to batch q163 over the union of landings (StreamingSpec-pinned).
    */
  def evalTableFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.Mining.evalTableFromCells(spark, evalStore(deltaDir).servedAt(spark))

  /** The q163 eval table over a retention WINDOW [lo, upto]:
    * classifier-vs-gate agreement measured over exactly the retained
    * landings' survivors.
    */
  def evalTableWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    graft.ops.Mining.evalTableFromCells(spark,
      evalStore(deltaDir).servedWindow(spark, lo, upto))

  // ── targeted-selection feature cells (q164 serving) ─────────────────

  /** One micro-batch's hashed-bigram feature counts, split three ways —
    * v1 target (doc_id < ReleaseV1Max), full v2 target (< 50, q164's
    * rule; a superset of v1), raw pool — all add-mergeable SUM cells
    * (≤ SelectionBuckets rows per batch). One store therefore trains
    * the CURRENT ratio table (q164 serving) and both sides of the q169
    * release rotation.
    */
  def featureCells(batch: DataFrame): DataFrame =
    graft.ops.Mining.bigramBuckets(batch)
      .select(col("doc_id"), explode(col("bg")).as("f"))
      .groupBy("f")
      .agg(
        graft.queries.Det.countIf(col("doc_id") < graft.ops.Mining.ReleaseV1Max).as("tgt1_n"),
        graft.queries.Det.countIf(col("doc_id") < 50).as("tgt_n"),
        graft.queries.Det.countIf(col("doc_id") >= 50).as("raw_n"))

  /** The feature-cell store — q164's trainer kept current. */
  def featureStore(dir: String): CellStore = CellStore("sum_cells", dir, Seq("f"),
    Seq("tgt1_n" -> CellStore.Sum, "tgt_n" -> CellStore.Sum, "raw_n" -> CellStore.Sum),
    featureCells)

  /** The importance ratio table off the folded cells alone — bit-equal
    * to the batch-trained table over the union of landings, so scoring
    * any frame against it reproduces batch q164 exactly
    * (StreamingSpec-pinned).
    */
  def ratioFromDeltas(spark: SparkSession, deltaDir: String): Map[Long, Long] =
    ratiosOf(featureStore(deltaDir).servedAt(spark), "tgt_n").head

  /** The importance ratio tables of the folded feature cells: one per
    * target count column, each against the same raw pool.
    */
  private def ratiosOf(folded: DataFrame, targets: String*): Seq[Map[Long, Long]] = {
    val rows = folded.select(("f" +: targets :+ "raw_n").map(col): _*).collect()
    def countsAt(i: Int) =
      rows.map(r => r.getLong(0) -> r.getLong(i + 1)).toMap.filter(_._2 > 0)
    val raw = countsAt(targets.size)
    targets.indices.map(i => graft.ops.Mining.ratioFromCounts(countsAt(i), raw))
  }

  /** BOTH release ratio tables off the folded cells — v1 trains on the
    * tgt1 counts alone, v2 on the full target counts over the SAME raw
    * pool. The q169 rotation needs no second store or corpus pass; the
    * three-way split cell carries both releases.
    */
  def releaseRatiosFromDeltas(spark: SparkSession,
      deltaDir: String): (Map[Long, Long], Map[Long, Long]) = {
    val Seq(v1, v2) = ratiosOf(featureStore(deltaDir).servedAt(spark), "tgt1_n", "tgt_n")
    (v1, v2)
  }

  /** The importance ratio table over a retention WINDOW [lo, upto]: the
    * DSIR selector trained on exactly the cells of the landings still on
    * disk, which is what "train the selector only on licensed data"
    * means operationally. Split-forget negatives inside the window fold
    * too, so the trained table equals a from-scratch train on (window
    * docs) minus (their forgotten members).
    */
  def ratioWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): Map[Long, Long] =
    ratiosOf(featureStore(deltaDir).servedWindow(spark, lo, upto), "tgt_n").head

  // ── bigram-LM count cells (q101/q170 serving) ───────────────────────

  /** One micro-batch's bigram counts — add-mergeable SUM cells, Zipf-
    * bounded by the batch's vocabulary². The prefix (unigram) counts are
    * NOT stored: Σ c12 over w2 reconstructs them exactly, so one cell
    * schema carries the whole KenLM-style count model.
    */
  def lmCells(batch: DataFrame): DataFrame =
    TextOps.bigramRows(batch)
      .groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c12"))

  /** The LM count store — the q101 fluency trainer kept current as
    * documents land. `servedAt(spark, upto)` pins a MODEL RELEASE: only
    * batches ≤ upto fold in, so one store serves every historical model
    * (q173's rotation without a second training pass), and the read
    * refuses a pin behind the compaction or forget horizon instead of
    * silently including post-pin rows. Register the release via
    * [[StoreCompaction.registerPin]] and compaction refuses to cross it.
    * `servedWindow(spark, lo, upto)` is the serve of a store under
    * RETENTION: expiry drops whole landings below the moving floor and
    * the window folds exactly the surviving landings (their split-forget
    * negatives included), so a windowed model equals a retrain on
    * (window docs) minus (their forgotten members). Bigrams folded to
    * zero are forget tombstones; the served counts equal a retrain on
    * the survivors.
    */
  def lmStore(dir: String): CellStore = CellStore("lm", dir, Seq("w1", "w2"),
    Seq("c12" -> CellStore.Sum), lmCells, tombstone = Some("c12" -> "bigram count"),
    bucketCols = Seq("w1"), countedErasure = Some("negated bigram cells landed"))

  /** Per-doc fluency scores for `d` served off the streamed LM store —
    * `upto` scores against a pinned model release.
    */
  def fluencyFromDeltas(spark: SparkSession, deltaDir: String,
      d: DataFrame, upto: Long = Long.MaxValue): DataFrame =
    TextOps.fluencyScoredFromCounts(d, Some(lmStore(deltaDir).servedAt(spark, upto)))

  /** q183's bigram-novelty table served off the streamed LM store: the
    * previous release's vocabulary is the release-pinned fold (batches ≤
    * `upto`), so the novelty of newly landed documents costs one scan of
    * the NEW frame and zero history rescans — the store that already
    * powers q101/q170/q173 serves the vocabulary-growth statistic too.
    */
  def noveltyFromDeltas(spark: SparkSession, deltaDir: String,
      d: DataFrame, cut: Long, upto: Long = Long.MaxValue): DataFrame =
    TextOps.bigramNovelty(d, cut,
      Some(lmStore(deltaDir).servedAt(spark, upto).select("w1", "w2")))

  // ── MW loss cells (q175 serving) ────────────────────────────────────

  /** The per-source proxy-loss store — Mining.mwCells verbatim, so the
    * streamed fold can never score a doc differently from batch q175:
    * the domain-reweighting optimizer's input kept current as documents
    * land. ≤ |sources| SUM rows per batch.
    */
  def mwStore(dir: String): CellStore = CellStore("sum_cells", dir, Seq("source"),
    Seq("n_docs" -> CellStore.Sum, "loss_sum" -> CellStore.Sum),
    graft.ops.Mining.mwCells, tombstone = Some("n_docs" -> "doc count"))

  /** The q175 reweighting table off the folded cells alone — bit-equal
    * to batch q175 over the union of landings (StreamingSpec-pinned):
    * the optimizer's input is exactly the per-source (n_docs, loss_sum)
    * fold, so a streamed store and a batch scan feed it identical
    * numbers.
    */
  def reweightingFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.Mining.mwTableFromCells(mwStore(deltaDir).servedAt(spark))

  /** The q175 reweighting table over a retention WINDOW [lo, upto]: the
    * optimizer's input measured over exactly the retained landings'
    * survivors.
    */
  def reweightingWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    graft.ops.Mining.mwTableFromCells(mwStore(deltaDir).servedWindow(spark, lo, upto))

  // ── embedding diversity cells (q178 serving) ────────────────────────

  private val hashedVecs =
    new CellStore.Shared(graft.ops.Similarity.hashedVec(_, keep = Seq("source")))

  /** The diversity store pair — the batch is hashed-embedded ONCE per
    * landing and fans into per-(source, dim) coordinate sums and
    * per-source (n_docs, Σ‖x‖²): the per-source diversity metric a
    * sampling policy reads, kept current as documents land.
    */
  def divStores(dimDir: String, statDir: String): Seq[CellStore] = Seq(
    CellStore("diversity_dims", dimDir, Seq("source", "d"), Seq("s_d" -> CellStore.Sum),
      graft.ops.Similarity.divDimCells, Some(hashedVecs)),
    CellStore("diversity_stats", statDir, Seq("source"),
      Seq("n_docs" -> CellStore.Sum, "sum_sq" -> CellStore.Sum),
      graft.ops.Similarity.divStatCells, Some(hashedVecs)))

  /** The q178 diversity table off the folded stores alone — bit-equal to
    * batch q178 over the union of landings (StreamingSpec-pinned): the
    * centroid identity is linear in exactly the sums the cells carry.
    * `upto` pins a SNAPSHOT (only batches ≤ upto fold), so one store
    * serves diversity-over-time — how each source's spread moved as
    * landings accumulated — with the same compact-past-the-oldest-pin
    * rule as the LM store's release pins.
    */
  def diversityFromDeltas(spark: SparkSession, dimDir: String,
      statDir: String, upto: Long = Long.MaxValue): DataFrame = {
    val Seq(dims, stats) = divStores(dimDir, statDir)
    graft.ops.Similarity.diversityFromCells(
      dims.rowsAt(spark, upto).select("source", "d", "s_d"),
      stats.rowsAt(spark, upto).select("source", "n_docs", "sum_sq"))
  }

  /** The q178 diversity table over a retention WINDOW [lo, upto]: expiry
    * drops whole landings, split-forget negatives expire with their
    * source batches, and the windowed centroid identity equals a
    * recompute on (window docs) minus (their forgotten members).
    */
  def diversityWindowed(spark: SparkSession, dimDir: String,
      statDir: String, lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    val Seq(dims, stats) = divStores(dimDir, statDir)
    graft.ops.Similarity.diversityFromCells(
      dims.windowRows(spark, lo, upto).select("source", "d", "s_d"),
      stats.windowRows(spark, lo, upto).select("source", "n_docs", "sum_sq"))
  }

  // ── k-anonymity QI cells (q189 serving) ─────────────────────────────

  /** The quasi-identifier group store — TextOps.kAnonCells verbatim:
    * (source, lang, len_bucket, gsz) with SUM-mergeable gsz; state is
    * bounded by the QI domain, not the corpus. The k test runs at SERVE
    * time on the folded size, so a group that is small in every batch
    * but large in union is correctly safe — the audit is arrival-order
    * invariant. Erasure SHRINKS groups, so it can flip a group from safe
    * to suppressed: the served sizes equal a recount over the survivors
    * (q205).
    */
  def kAnonStore(dir: String): CellStore = CellStore("k_anonymity", dir,
    Seq("source", "lang", "len_bucket"), Seq("gsz" -> CellStore.Sum),
    graft.ops.TextOps.kAnonCells, tombstone = Some("gsz" -> "QI-group size"))

  /** The q189 audit off the folded cells alone — bit-equal to batch q189
    * over the union of landings (StreamingSpec-pinned).
    */
  def kAnonymityFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.TextOps.kAnonymityFromCells(
      kAnonStore(deltaDir).rowsAt(spark).select("source", "lang", "len_bucket", "gsz"))

  // ── language-majority window cells (q195/q196 serving) ──────────────

  /** One micro-batch's window-majority cells — TextOps.windowMajorities
    * verbatim: (doc_id, w, n_toks, lang). Like the shingle index this is
    * ADD-ONLY state (a doc's windows are fixed at landing, never revised
    * by later docs), so the per-batchId OVERWRITE partition is the whole
    * replay story and serving reads the plain union.
    */
  def writeCsDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      graft.ops.TextOps.windowMajorities(
        batch.select(col("doc_id"), col("text"))), deltaDir, batchId)
  }

  /** Window-majority maintenance sink — the code-switching state kept
    * current as documents land.
    */
  def csCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    StoreCompaction.sink(stream, "code_switching_maintenance", checkpointDir) {
      (batch, batchId) =>
        writeCsDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("doc_id")), maintain)
    }

  private def csCells(spark: SparkSession, deltaDir: String): DataFrame =
    spark.read.parquet(deltaDir).select("doc_id", "w", "n_toks", "lang")

  /** Batch q195 off the landed cells alone (spine = the docs to report). */
  def codeSwitchFromDeltas(spark: SparkSession, deltaDir: String,
      spine: DataFrame): DataFrame =
    graft.ops.TextOps.codeSwitchFromMaj(csCells(spark, deltaDir), spine)

  /** Batch q196 off the landed cells alone (spine carries source). */
  def salvageFromDeltas(spark: SparkSession, deltaDir: String,
      spine: DataFrame): DataFrame =
    graft.ops.TextOps.mixedSalvageFromMaj(csCells(spark, deltaDir), spine)

  /** q195 over a retention WINDOW [lo, upto] — the window-majority
    * store is a pure per-doc identity store (every doc's window rows
    * land in its landing batch; erasure is surgical), so its retention
    * serve is a pure partition slice, q218's shingle-index law. The
    * spine bounds the report to the window's docs.
    */
  def codeSwitchWindowed(spark: SparkSession, deltaDir: String,
      spine: DataFrame, lo: Long, upto: Long = Long.MaxValue): DataFrame =
    graft.ops.TextOps.codeSwitchFromMaj(
      StoreCompaction.readWindow(spark, deltaDir, lo, upto)
        .select("doc_id", "w", "n_toks", "lang"), spine)

  /** q196 over a retention WINDOW [lo, upto] — [[codeSwitchWindowed]]'s
    * salvage sibling.
    */
  def salvageWindowed(spark: SparkSession, deltaDir: String,
      spine: DataFrame, lo: Long, upto: Long = Long.MaxValue): DataFrame =
    graft.ops.TextOps.mixedSalvageFromMaj(
      StoreCompaction.readWindow(spark, deltaDir, lo, upto)
        .select("doc_id", "w", "n_toks", "lang"), spine)

  // ── span window cells (q182 serving) ────────────────────────────────

  /** The span window store — Mining.spanWindowCells verbatim: (h, n,
    * first_key) with SUM-mergeable n and MIN-mergeable first_key. The
    * first-occurrence attribution is therefore arrival-order INVARIANT:
    * whichever batch lands first, the fold's MIN recovers the global
    * argmin (doc_id, pos). The store grows with unique window content,
    * like the CDC chunk store; erasure re-elects first occurrences
    * ([[Forget.forgetSpanCells]]) instead of negating.
    */
  def spanStore(dir: String): CellStore = CellStore("span_windows", dir, Seq("h"),
    Seq("n" -> CellStore.Sum, "first_key" -> CellStore.Min),
    graft.ops.Mining.spanWindowCells)

  /** One micro-batch's positional-window INVERTED-INDEX delta: DISTINCT
    * (h, doc_id) pairs over the batch's span windows — the add-only
    * identity sibling of the cell store (a doc's windows are fixed at
    * landing), landed beside it so span-store erasure can re-elect
    * first-occurrence attribution by tokenizing ONLY the implicated
    * docs ([[Forget.forgetSpanCells]]' `windowIndexDir` path) instead
    * of a full survivor content pass.
    */
  def writeSpanIndexDelta(batch: DataFrame, indexDir: String,
      batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      graft.ops.Mining.spanWindowIndex(batch), indexDir, batchId,
      coalesce1 = false)
  }

  /** The q182 scrub plan for `d` served off the folded window store —
    * bit-equal to batch q182 when `d` is the union of landings
    * (StreamingSpec-pinned), and the path an incremental pipeline runs:
    * plan NEW documents against the accumulated first-occurrence state
    * without rescanning history.
    */
  def spanScrubFromDeltas(spark: SparkSession, deltaDir: String,
      d: DataFrame): DataFrame =
    graft.ops.Mining.spanScrubFromCells(d,
      spanStore(deltaDir).rowsAt(spark).select("h", "n", "first_key"))

  /** The q182 scrub plan for `d` over a retention WINDOW [lo, upto] —
    * [[spanScrubFromDeltas]]'s windowed twin: window cells SUM `n` and
    * MIN `first_key` over exactly the retained landings, so
    * first-occurrence attribution is re-scoped to the window (the
    * earliest RETAINED occurrence owns the span — the right semantics
    * when the pre-window owner's landing left disk). Refuses when a
    * forget RE-ELECTION corrective is present: a corrective partition
    * recomputes cells across every batch, so it cannot window — under
    * retention, erase the span store with window-scoped waves or expire
    * the corrective's window first.
    */
  def spanScrubWindowed(spark: SparkSession, deltaDir: String,
      d: DataFrame, lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    val correctives = StoreCompaction.partitionIds(new java.io.File(deltaDir))
      .filter(id => new java.io.File(
        s"$deltaDir/batch_id=$id/$SpanCorrectiveName").exists())
    if (correctives.nonEmpty)
      throw new IllegalStateException(
        s"store $deltaDir cannot serve windowed reads: forget re-election " +
          s"corrective partition(s) batch_id=${correctives.sorted.mkString(", ")} " +
          "recompute cells across every batch and cannot be scoped to a " +
          "window — a span store under retention must not take re-elected " +
          "forgets")
    graft.ops.Mining.spanScrubFromCells(d,
      spanStore(deltaDir).windowRows(spark, lo, upto).select("h", "n", "first_key"))
  }

  /** Sentinel [[Forget.forgetSpanCells]] stamps inside its corrective
    * partition — windowed reads refuse on it (see [[spanScrubWindowed]]).
    */
  private[streaming] val SpanCorrectiveName = "_SPAN_CORRECTIVE"

  // ── CDC chunk cells (q171 serving) ──────────────────────────────────

  private val cdcChunks = new CellStore.Shared(graft.ops.Dedup.cdcChunks)

  /** The CDC store pair — the batch is chunked ONCE per landing and fans
    * into chunk cells (fp, source, n, ln), SUM-merged on n (ln is an
    * attribute of the chunk fp — the same content hashes to the same
    * chunk — so it is MIN-carried and erasure leaves it untouched), and
    * per-source doc counts, SUM-merged because every doc lands in
    * exactly one batch: sub-document duplication monitoring (q171) kept
    * current as documents land.
    */
  def cdcStores(chunkDir: String, docDir: String): Seq[CellStore] = Seq(
    CellStore("cdc_chunks", chunkDir, Seq("fp", "source"),
      Seq("n" -> CellStore.Sum, "ln" -> CellStore.Min),
      graft.ops.Dedup.cdcCellsOf, Some(cdcChunks), tombstone = Some("n" -> "chunk count"),
      bucketCols = Seq("fp")),
    CellStore("cdc_docs", docDir, Seq("source"), Seq("n_docs" -> CellStore.Sum),
      _.select("source", "doc_id").distinct()
        .groupBy("source").agg(count(lit(1)).cast("long").as("n_docs")),
      Some(cdcChunks), tombstone = Some("n_docs" -> "doc count")))

  /** The q171 report off the folded stores alone — bit-equal to batch
    * q171 over the union of landings (StreamingSpec-pinned). Chunks
    * whose instance count folds to ZERO are forget tombstones and are
    * dropped, so after erasure the served report equals a re-chunk of
    * the surviving corpus exactly.
    */
  def cdcReportFromDeltas(spark: SparkSession, chunkDir: String,
      docDir: String, upto: Long = Long.MaxValue): DataFrame = {
    val Seq(chunks, docs) = cdcStores(chunkDir, docDir).map(_.servedAt(spark, upto))
    graft.ops.Dedup.cdcReportFromCells(chunks, docs)
  }

  /** The q171 report over a retention WINDOW [lo, upto]: chunk instance
    * counts and doc counts fold over exactly the retained landings
    * (split-forget negatives inside the window included), so the
    * duplication report describes the data still on disk.
    */
  def cdcReportWindowed(spark: SparkSession, chunkDir: String,
      docDir: String, lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    val Seq(chunks, docs) =
      cdcStores(chunkDir, docDir).map(_.servedWindow(spark, lo, upto))
    graft.ops.Dedup.cdcReportFromCells(chunks, docs)
  }
}
