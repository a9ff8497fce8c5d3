package graft.streaming

import graft.ops.{Corpus, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
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
    stream.writeStream
      .queryName("corpus_ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fps = gatedFingerprints(batch)
        val firstInBatch = fps.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        val batchReps = fps.join(firstInBatch, Seq("fp", "doc_id"), "left_semi")
        val hist = new java.io.File(historyDir)
        val fresh =
          if (hist.exists() && hist.listFiles() != null && hist.listFiles().nonEmpty) {
            // exclude this batch's own partition: a partially-visible
            // replay write must never count as history for itself.
            // Per-batch cost law: probe the BIG history with the small
            // batch's fps (broadcast semi-join — history is scanned,
            // never shuffled), then anti-join against the matched slice
            // (≤ batch size, broadcast). A direct anti-join against the
            // full store would shuffle the whole store every batch.
            val known = spark.read.parquet(historyDir)
              .filter(col("batch_id") < batchId).select("fp")
              .join(broadcast(batchReps.select("fp")), Seq("fp"), "left_semi")
            batchReps.join(broadcast(known), Seq("fp"), "left_anti")
          } else batchReps
        // history rows carry (fp, doc_id, source): later batches anti-join
        // on fp only, so appended text never needs to be re-read. A
        // per-batchId OVERWRITE partition (not append) makes a crashed-
        // then-replayed batch rewrite identical rows instead of adding a
        // second copy — history stays one row per fp by construction.
        fresh.select("fp", "doc_id", "source")
          .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
        ()
      }
      .start()

  // ── classifier-vs-gate eval cells (q163 serving) ────────────────────

  /** Idempotent per-batch eval-cell delta — Mining.evalCells verbatim,
    * so the streamed fold can never band or gate a doc differently from
    * batch q163. ≤ |bands|+1 SUM rows per batch, per-batchId OVERWRITE.
    */
  def writeEvalDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      graft.ops.Mining.evalCells(batch), deltaDir, batchId)
  }

  /** Eval-cell maintenance sink: the evaluation dashboard a curation
    * team watches (is the cheap classifier still tracking the gate?)
    * kept current as documents land, with zero corpus rescans at
    * serving time.
    */
  def evalCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("classifier_eval_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeEvalDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("band")), maintain)
      }
      .start()

  /** Serve the q163 eval table off the folded cells alone — bit-equal
    * to batch q163 over the union of landings (StreamingSpec-pinned).
    * Bands folded to zero docs are forget tombstones
    * ([[Forget.forgetSumCells]]) and are dropped; negative folds refuse.
    */
  def evalTableFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.Mining.evalTableFromCells(spark,
      guardedFold(spark.read.parquet(deltaDir), Seq("band"),
        Seq("n_docs", "n_keep"), "n_docs"))

  /** The q163 eval table over a retention WINDOW [lo, upto] —
    * [[evalTableFromDeltas]]'s windowed twin ([[lmCountsWindowed]]'s
    * law on the eval family): classifier-vs-gate agreement measured
    * over exactly the retained landings' survivors.
    */
  def evalTableWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    graft.ops.Mining.evalTableFromCells(spark,
      guardedFold(StoreCompaction.readWindow(spark, deltaDir, lo, upto),
        Seq("band"), Seq("n_docs", "n_keep"), "n_docs"))

  /** Shared tombstone discipline for SUM-cell stores under erasure:
    * fold the cells, REFUSE a negative count (a forget delta landed for
    * docs the store never counted), drop zero-count tombstones.
    */
  private def guardedFold(cells: DataFrame, keys: Seq[String],
      sums: Seq[String], countCol: String): DataFrame =
    cells.groupBy(keys.map(col): _*)
      .agg(sum(col(sums.head)).cast("long").as(sums.head),
        sums.tail.map(c => sum(col(c)).cast("long").as(c)): _*)
      .withColumn(countCol,
        when(col(countCol) < 0, raise_error(lit(
          s"store folded a NEGATIVE $countCol — a forget delta was landed " +
            "for docs this store never counted"))).otherwise(col(countCol)))
      .filter(col(countCol) > 0)

  /** Eval-store retention: the fold algebra is the serving algebra. */
  def compactEvalDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("band")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("n_keep")).cast("long").as("n_keep"))
    }

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

  def writeFeatureDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(featureCells(batch), deltaDir, batchId)
  }

  /** Feature-cell maintenance sink — q164's trainer kept current. */
  def featureCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("selection_feature_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeFeatureDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("f")), maintain)
      }
      .start()

  /** The importance ratio table off the folded cells alone — bit-equal
    * to the batch-trained table over the union of landings, so scoring
    * any frame against it reproduces batch q164 exactly
    * (StreamingSpec-pinned).
    */
  def ratioFromDeltas(spark: SparkSession, deltaDir: String): Map[Long, Long] =
    foldRatios(spark.read.parquet(deltaDir), "tgt_n").head

  /** The importance ratio tables of the feature cells `rows`, folded: one
    * per target count column, each against the same raw pool.
    */
  private def foldRatios(rows: DataFrame, targets: String*): Seq[Map[Long, Long]] = {
    val counts = (targets :+ "raw_n").map(c => sum(col(c)).cast("long").as(c))
    val folded = rows.groupBy("f").agg(counts.head, counts.tail: _*).collect()
    def countsAt(i: Int) =
      folded.map(r => r.getLong(0) -> r.getLong(i + 1)).toMap.filter(_._2 > 0)
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
    val Seq(v1, v2) = foldRatios(spark.read.parquet(deltaDir), "tgt1_n", "tgt_n")
    (v1, v2)
  }

  /** The importance ratio table over a retention WINDOW [lo, upto] —
    * [[ratioFromDeltas]]'s windowed twin: the DSIR selector trained on
    * exactly the cells of the landings still on disk, which is what
    * "train the selector only on licensed data" means operationally.
    * Split-forget negatives inside the window fold too, so the trained
    * table equals a from-scratch train on (window docs) minus (their
    * forgotten members).
    */
  def ratioWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): Map[Long, Long] =
    foldRatios(StoreCompaction.readWindow(spark, deltaDir, lo, upto), "tgt_n").head

  /** Feature-store retention: the fold algebra is the serving algebra. */
  def compactFeatureDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("f")
        .agg(sum(col("tgt1_n")).cast("long").as("tgt1_n"),
          sum(col("tgt_n")).cast("long").as("tgt_n"),
          sum(col("raw_n")).cast("long").as("raw_n"))
    }

  // ── bigram-LM count cells (q101/q170 serving) ───────────────────────

  /** One micro-batch's bigram counts — add-mergeable SUM cells, Zipf-
    * bounded by the batch's vocabulary². The prefix (unigram) counts are
    * NOT stored: Σ c12 over w2 reconstructs them exactly, so one cell
    * schema carries the whole KenLM-style count model.
    */
  def lmCells(batch: DataFrame): DataFrame =
    TextOps.bigramRows(batch)
      .groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c12"))

  def writeLmDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(lmCells(batch), deltaDir, batchId)
  }

  /** LM-cell maintenance sink — the q101 fluency trainer kept current as
    * documents land, zero corpus rescans at serving time.
    */
  def lmCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("bigram_lm_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeLmDelta(batch, deltaDir, batchId)
        // sink-side maintenance hook (see StoreCompaction.sinkMaintain —
        // this sink was the template, now shared by every delta sink)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("w1")), maintain)
      }
      .start()

  /** The folded count table off the store alone — scoring any frame with
    * it reproduces batch q101/q170 bit-for-bit over the union of landings
    * (StreamingSpec-pinned). `upto` pins a MODEL RELEASE: only batches
    * ≤ upto fold in, so one store serves every historical model (q173's
    * rotation without a second training pass). The pin-ahead-of-
    * compaction rule is ENFORCED, not documented: register the release
    * via [[StoreCompaction.registerPin]] and `compactLmDeltas` (like
    * every fold) refuses to cross it; this read itself asserts
    * [[StoreCompaction.requireServableAt]] so a pin behind the
    * compaction horizon fails loudly instead of silently including
    * post-pin rows folded into the base.
    */
  def lmCountsFromDeltas(spark: SparkSession, deltaDir: String,
      upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireServableAt(deltaDir, upto)
    spark.read.parquet(deltaDir)
      // pinnedReadFilter extends `batch_id <= upto OR base` to the
      // split-forget range: a pin registered BEFORE a pin-preserving
      // forget wave keeps serving, with the wave's erasure applied
      // inside the pinned slice (Forget.forgetSumCellsSplit's law)
      .filter(StoreCompaction.pinnedReadFilter(upto))
      .groupBy("w1", "w2").agg(sum(col("c12")).cast("long").as("c12"))
  }

  /** Per-doc fluency scores for `d` served off the streamed LM store —
    * `upto` scores against a pinned model release.
    */
  def fluencyFromDeltas(spark: SparkSession, deltaDir: String,
      d: DataFrame, upto: Long = Long.MaxValue): DataFrame =
    TextOps.fluencyScoredFromCounts(d, Some(lmCountsFromDeltas(spark, deltaDir, upto)))

  /** q183's bigram-novelty table served off the streamed LM store: the
    * previous release's vocabulary is the release-pinned fold (batches ≤
    * `upto`), so the novelty of newly landed documents costs one scan of
    * the NEW frame and zero history rescans — the store that already
    * powers q101/q170/q173 serves the vocabulary-growth statistic too.
    */
  def noveltyFromDeltas(spark: SparkSession, deltaDir: String,
      d: DataFrame, cut: Long, upto: Long = Long.MaxValue): DataFrame =
    TextOps.bigramNovelty(d, cut,
      Some(lmCountsFromDeltas(spark, deltaDir, upto).select("w1", "w2")))

  /** The folded count table of a WINDOW of landings [lo, upto] — the
    * serving shape of an LM store under RETENTION (licensing windows,
    * privacy retention limits): expiry drops whole landings below the
    * moving floor ([[StoreCompaction.expireBefore]] — O(dropped) file
    * deletes, zero rewrites), and this read folds exactly the surviving
    * window. Split-forget negatives inside the window fold too (each
    * belongs to the source batch it negates and expires with it), so a
    * windowed model equals a retrain on (window docs) minus (their
    * forgotten members). The servability guards refuse the shapes a
    * window cannot express: a base partition, whole-wave negatives, a
    * window floor below the retention floor.
    */
  def lmCountsWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireWindowServableAt(deltaDir, lo, upto)
    spark.read.parquet(deltaDir)
      .filter(StoreCompaction.windowedReadFilter(deltaDir, lo, upto))
      .groupBy("w1", "w2").agg(sum(col("c12")).cast("long").as("c12"))
  }

  /** LM-store retention: the fold algebra is the serving algebra. */
  def compactLmDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("w1", "w2").agg(sum(col("c12")).cast("long").as("c12"))
    }

  // ── MW loss cells (q175 serving) ────────────────────────────────────

  /** One micro-batch's per-source proxy-loss cells — Mining.mwCells
    * verbatim, so the streamed fold can never score a doc differently
    * from batch q175. ≤ |sources| SUM rows per batch, per-batchId
    * OVERWRITE.
    */
  def writeMwDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      graft.ops.Mining.mwCells(batch), deltaDir, batchId)
  }

  /** Loss-cell maintenance sink — the domain-reweighting optimizer's
    * input kept current as documents land, zero corpus rescans when the
    * weights are recomputed.
    */
  def mwCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("domain_reweighting_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeMwDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("source")), maintain)
      }
      .start()

  /** The q175 reweighting table off the folded cells alone — bit-equal
    * to batch q175 over the union of landings (StreamingSpec-pinned):
    * the optimizer's input is exactly the per-source (n_docs, loss_sum)
    * fold, so a streamed store and a batch scan feed it identical
    * numbers.
    */
  def reweightingFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.Mining.mwTableFromCells(
      guardedFold(spark.read.parquet(deltaDir), Seq("source"),
        Seq("n_docs", "loss_sum"), "n_docs"))

  /** The q175 reweighting table over a retention WINDOW [lo, upto] —
    * [[reweightingFromDeltas]]'s windowed twin: the optimizer's input
    * (per-source doc counts and loss mass) measured over exactly the
    * retained landings' survivors.
    */
  def reweightingWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue): DataFrame =
    graft.ops.Mining.mwTableFromCells(
      guardedFold(StoreCompaction.readWindow(spark, deltaDir, lo, upto),
        Seq("source"), Seq("n_docs", "loss_sum"), "n_docs"))

  /** MW-store retention: the fold algebra is the serving algebra. */
  def compactMwDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("source")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("loss_sum")).cast("long").as("loss_sum"))
    }

  // ── embedding diversity cells (q178 serving) ────────────────────────

  /** One micro-batch's diversity cells — the batch is hashed-embedded
    * ONCE (checkpointed) and fans into both stores: per-(source, dim)
    * coordinate sums and per-source (n_docs, Σ‖x‖²). All SUM-mergeable,
    * per-batchId OVERWRITE.
    */
  def writeDivDelta(batch: DataFrame, dimDir: String, statDir: String,
      batchId: Long): Unit = {
    val w = graft.ops.Similarity.hashedVec(batch, keep = Seq("source")).localCheckpoint()
    StoreCompaction.writeEvolvedDelta(
      graft.ops.Similarity.divDimCells(w), dimDir, batchId)
    graft.ops.Similarity.divStatCells(w).coalesce(1)
      .write.mode("overwrite").parquet(s"$statDir/batch_id=$batchId")
    ()
  }

  /** Diversity-cell maintenance sink — the per-source diversity metric a
    * sampling policy reads, kept current as documents land with zero
    * corpus rescans at serving time.
    */
  def divCellSink(stream: DataFrame, dimDir: String, statDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("embedding_diversity_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeDivDelta(batch, dimDir, statDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(dimDir -> Seq("source", "d"), statDir -> Seq("source")), maintain)
      }
      .start()

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
    def pinned(dir: String) = {
      StoreCompaction.requireServableAt(dir, upto)
      spark.read.parquet(dir)
        .filter(StoreCompaction.pinnedReadFilter(upto))
    }
    graft.ops.Similarity.diversityFromCells(
      pinned(dimDir).select("source", "d", "s_d"),
      pinned(statDir).select("source", "n_docs", "sum_sq"))
  }

  /** The q178 diversity table over a retention WINDOW [lo, upto] — the
    * LM family's windowed serve ([[lmCountsWindowed]]) on the two-store
    * diversity family: expiry drops whole landings, split-forget
    * negatives expire with their source batches, and the windowed
    * centroid identity equals a recompute on (window docs) minus (their
    * forgotten members).
    */
  def diversityWindowed(spark: SparkSession, dimDir: String,
      statDir: String, lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    def windowed(dir: String) = {
      StoreCompaction.requireWindowServableAt(dir, lo, upto)
      spark.read.parquet(dir)
        .filter(StoreCompaction.windowedReadFilter(dir, lo, upto))
    }
    graft.ops.Similarity.diversityFromCells(
      windowed(dimDir).select("source", "d", "s_d"),
      windowed(statDir).select("source", "n_docs", "sum_sq"))
  }

  /** Diversity-store retention: the fold algebra is the serving algebra. */
  def compactDivDeltas(spark: SparkSession, dimDir: String, statDir: String,
      upto: Long): Unit = {
    StoreCompaction.foldInto(spark, dimDir, upto) { cells =>
      cells.groupBy("source", "d").agg(sum(col("s_d")).cast("long").as("s_d"))
    }
    StoreCompaction.foldInto(spark, statDir, upto) { cells =>
      cells.groupBy("source")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("sum_sq")).cast("long").as("sum_sq"))
    }
  }

  // ── k-anonymity QI cells (q189 serving) ─────────────────────────────

  /** One micro-batch's quasi-identifier group cells —
    * TextOps.kAnonCells verbatim: (source, lang, len_bucket, gsz) with
    * SUM-mergeable gsz. Per-batchId OVERWRITE; state is bounded by the
    * QI domain, not the corpus. The k test runs at SERVE time on the
    * folded size, so a group that is small in every batch but large in
    * union is correctly safe — the audit is arrival-order invariant.
    */
  def writeKAnonDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      graft.ops.TextOps.kAnonCells(batch), deltaDir, batchId)
  }

  /** QI-cell maintenance sink — the privacy audit's input kept current
    * as documents land, zero corpus rescans at audit time.
    */
  def kAnonCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("kanonymity_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeKAnonDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("source", "lang", "len_bucket")), maintain)
      }
      .start()

  /** The q189 audit off the folded cells alone — bit-equal to batch q189
    * over the union of landings (StreamingSpec-pinned).
    */
  def kAnonymityFromDeltas(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.TextOps.kAnonymityFromCells(
      spark.read.parquet(deltaDir).select("source", "lang", "len_bucket", "gsz"))

  /** QI-store retention: the fold algebra is the serving algebra. */
  def compactKAnonDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("source", "lang", "len_bucket")
        .agg(sum(col("gsz")).cast("long").as("gsz"))
    }

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
    stream.writeStream
      .queryName("code_switching_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeCsDelta(batch, deltaDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("doc_id")), maintain)
      }
      .start()

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

  /** One micro-batch's window cells — Mining.spanWindowCells verbatim:
    * (h, n, first_key) with SUM-mergeable n and MIN-mergeable first_key.
    * The first-occurrence attribution is therefore arrival-order
    * INVARIANT: whichever batch lands first, the fold's MIN recovers the
    * global argmin (doc_id, pos). Per-batchId OVERWRITE; the store grows
    * with unique window content, like the CDC chunk store.
    */
  def writeSpanDelta(batch: DataFrame, deltaDir: String, batchId: Long): Unit = {
    StoreCompaction.writeEvolvedDelta(
      graft.ops.Mining.spanWindowCells(batch), deltaDir, batchId)
  }

  /** One micro-batch's positional-window INVERTED-INDEX delta: DISTINCT
    * (h, doc_id) pairs over the batch's span windows — the add-only
    * identity sibling of the cell store (a doc's windows are fixed at
    * landing), maintained so span-store erasure can re-elect
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

  /** Window-cell maintenance sink — the exact-substring duplication
    * state kept current as documents land. With `indexDir` the sink
    * also maintains the positional inverted index (the erasure
    * accelerator) from the same batch.
    */
  def spanCellSink(stream: DataFrame, deltaDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None,
      indexDir: Option[String] = None): StreamingQuery =
    stream.writeStream
      .queryName("span_window_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeSpanDelta(batch, deltaDir, batchId)
        indexDir.foreach(idx => writeSpanIndexDelta(batch, idx, batchId))
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(deltaDir -> Seq("h")) ++ indexDir.map(_ -> Seq("h")), maintain)
      }
      .start()

  /** The q182 scrub plan for `d` served off the folded window store —
    * bit-equal to batch q182 when `d` is the union of landings
    * (StreamingSpec-pinned), and the path an incremental pipeline runs:
    * plan NEW documents against the accumulated first-occurrence state
    * without rescanning history.
    */
  def spanScrubFromDeltas(spark: SparkSession, deltaDir: String,
      d: DataFrame): DataFrame =
    graft.ops.Mining.spanScrubFromCells(d,
      spark.read.parquet(deltaDir).select("h", "n", "first_key"))

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
      StoreCompaction.readWindow(spark, deltaDir, lo, upto)
        .select("h", "n", "first_key"))
  }

  /** Sentinel [[Forget.forgetSpanCells]] stamps inside its corrective
    * partition — windowed reads refuse on it (see [[spanScrubWindowed]]).
    */
  private[streaming] val SpanCorrectiveName = "_SPAN_CORRECTIVE"

  /** Span-store retention: the fold algebra is the serving algebra. */
  def compactSpanDeltas(spark: SparkSession, deltaDir: String, upto: Long): Unit =
    StoreCompaction.foldInto(spark, deltaDir, upto) { cells =>
      cells.groupBy("h")
        .agg(sum(col("n")).cast("long").as("n"),
          min(col("first_key")).as("first_key"))
    }

  // ── CDC chunk cells (q171 serving) ──────────────────────────────────

  /** One micro-batch's CDC chunk cells and per-source doc counts — the
    * batch is chunked ONCE (checkpointed) and fans into both stores.
    * Chunk cells (fp, source, n, ln) SUM-merge on n (ln is an fp
    * attribute, MIN-carried); doc counts SUM-merge because every doc
    * lands in exactly one batch. Both per-batchId OVERWRITE partitions.
    */
  def writeCdcDelta(batch: DataFrame, chunkDir: String, docDir: String,
      batchId: Long): Unit = {
    val ex = graft.ops.Dedup.cdcChunks(batch).localCheckpoint()
    StoreCompaction.writeEvolvedDelta(
      graft.ops.Dedup.cdcCellsOf(ex), chunkDir, batchId)
    StoreCompaction.writeEvolvedDelta(
      ex.select("source", "doc_id").distinct()
        .groupBy("source").agg(count(lit(1)).cast("long").as("n_docs")),
      docDir, batchId)
  }

  /** Chunk-cell maintenance sink — sub-document duplication monitoring
    * (q171) kept current as documents land, zero corpus rescans at
    * serving time.
    */
  def cdcCellSink(stream: DataFrame, chunkDir: String, docDir: String,
      checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    stream.writeStream
      .queryName("cdc_chunk_maintenance")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeCdcDelta(batch, chunkDir, docDir, batchId)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          Seq(chunkDir -> Seq("fp"), docDir -> Seq("source")), maintain)
      }
      .start()

  /** The q171 report off the folded stores alone — bit-equal to batch
    * q171 over the union of landings (StreamingSpec-pinned). Chunks
    * whose instance count folds to ZERO are forget tombstones
    * ([[Forget.forgetCdcDocs]]' negative landings) and are dropped;
    * a NEGATIVE fold means a forget delta was landed for docs the store
    * never chunked — refuse loudly (the LM-store law).
    */
  def cdcReportFromDeltas(spark: SparkSession, chunkDir: String,
      docDir: String, upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireServableAt(chunkDir, upto)
    StoreCompaction.requireServableAt(docDir, upto)
    cdcReportOf(
      spark.read.parquet(chunkDir).filter(StoreCompaction.pinnedReadFilter(upto)),
      spark.read.parquet(docDir).filter(StoreCompaction.pinnedReadFilter(upto)))
  }

  /** The q171 report folded from the chunk-cell and doc-count rows a read
    * returns; a negative fold refuses.
    */
  private def cdcReportOf(chunkRows: DataFrame, docRows: DataFrame): DataFrame = {
    def guarded(df: DataFrame, c: String) = df
      .withColumn(c, when(col(c) < 0, raise_error(concat(lit(
        s"store folded a NEGATIVE $c — a forget delta was landed for " +
          "docs this store never counted"), lit(" "), col("source"))))
        .otherwise(col(c)))
      .filter(col(c) > 0)
    val cells = guarded(chunkRows.groupBy("fp", "source")
      .agg(sum(col("n")).cast("long").as("n"), min(col("ln")).cast("long").as("ln")),
      "n")
    val nd = guarded(docRows
      .groupBy("source").agg(sum(col("n_docs")).cast("long").as("n_docs")),
      "n_docs")
    graft.ops.Dedup.cdcReportFromCells(cells, nd)
  }

  /** The q171 report over a retention WINDOW [lo, upto] — windowed twin
    * of [[cdcReportFromDeltas]]: chunk instance counts and doc counts
    * fold over exactly the retained landings (split-forget negatives
    * inside the window included), so the duplication report describes
    * the data still on disk.
    */
  def cdcReportWindowed(spark: SparkSession, chunkDir: String,
      docDir: String, lo: Long, upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireWindowServableAt(chunkDir, lo, upto)
    StoreCompaction.requireWindowServableAt(docDir, lo, upto)
    cdcReportOf(
      spark.read.parquet(chunkDir).filter(StoreCompaction.windowedReadFilter(chunkDir, lo, upto)),
      spark.read.parquet(docDir).filter(StoreCompaction.windowedReadFilter(docDir, lo, upto)))
  }

  /** CDC-store retention: the fold algebra is the serving algebra. */
  def compactCdcDeltas(spark: SparkSession, chunkDir: String, docDir: String,
      upto: Long): Unit = {
    StoreCompaction.foldInto(spark, chunkDir, upto) { cells =>
      cells.groupBy("fp", "source")
        .agg(sum(col("n")).cast("long").as("n"), min(col("ln")).cast("long").as("ln"))
    }
    StoreCompaction.foldInto(spark, docDir, upto) { cells =>
      cells.groupBy("source").agg(sum(col("n_docs")).cast("long").as("n_docs"))
    }
  }
}
