package graft.streaming

import graft.ops.Sketches
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming HLL register maintenance — q109's merge algebra run
  * continuously: each micro-batch's registers fold into a persistent
  * register artifact by register-wise MAX, so "distinct active user-days
  * ever seen" stays queryable incrementally with O(groups × m) state, no
  * rescan of history, and NO streaming state store — the artifact IS the
  * state, and max-merge associativity makes the fold correct under ANY
  * micro-batch boundaries (it is even idempotent under re-delivered
  * content: max with itself changes nothing, so the sketch survives
  * at-least-once delivery without the checkpoint's exactly-once help).
  *
  * The artifact is groups × m rows — broadcast-sized by design — so the
  * merged frame is collected to the driver before the overwrite (the
  * appendIvfIndex lesson: never overwrite a path a lazy plan still
  * reads).
  */
object SketchStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a parquet landing directory. */
  def readEventStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(landingDir)

  /** The sketch key: active (user, day) — the q108/q110 definition,
    * delegated so batch and streaming can never diverge. */
  def userDayKey: Column = Sketches.userDayKeyCol

  /** Shared artifact-fold discipline: read the prior artifact (empty
    * frame when absent), merge the batch in, driver-materialize the
    * result (every sketch artifact is ≤ groups × k rows by design), and
    * only then overwrite — the write never reads the path it replaces.
    */
  private def foldArtifact(spark: SparkSession, batch: DataFrame, artifactDir: String,
      partitionCol: Option[String] = None)(
      merge: DataFrame => DataFrame): Unit = {
    val f = new java.io.File(artifactDir)
    val hasData = f.exists() && f.listFiles() != null &&
      f.listFiles().exists(x => x.getName.endsWith(".parquet") ||
        (x.isDirectory && x.getName.contains("=")))
    val prior =
      if (hasData) {
        // a partitioned layout resurfaces its partition column last and
        // with an inferred type — re-align names and types to the batch.
        // Cast only on a REAL type difference: cast refuses
        // nullability-only array mismatches (ARRAY<BIGINT> either way).
        val raw = spark.read.parquet(artifactDir)
        raw.select(batch.columns.map { c =>
          val t = batch.schema(c).dataType
          if (raw.schema(c).dataType.sql == t.sql) col(c) else col(c).cast(t)
        }: _*)
      } else batch.filter(lit(false))
    val mdf = merge(prior.unionByName(batch))
    val rows = mdf.collect()
    val out = spark.createDataFrame(java.util.Arrays.asList(rows: _*), mdf.schema)
      .coalesce(1).write.mode("overwrite")
    partitionCol.fold(out)(c => out.partitionBy(c)).parquet(artifactDir)
  }

  /** Fold batch registers into the artifact by register-wise MAX. */
  def mergeRegisters(spark: SparkSession, batchRegs: DataFrame, artifactDir: String): Unit =
    foldArtifact(spark, batchRegs, artifactDir)(
      _.groupBy("event_type", "bucket").agg(max("r").as("r")))

  /** Register-maintenance sink: per micro-batch, build the batch's
    * registers (one partial+final hash aggregate, ≤ groups × m rows out)
    * and fold them into the artifact. Trigger.AvailableNow + checkpoint
    * as in the corpus/embedding twins.
    */
  def sketchSink(stream: DataFrame, artifactDir: String, checkpointDir: String,
      p: Int = 6): StreamingQuery =
    StoreCompaction.sink(stream, "hll_register_maintenance", checkpointDir) { (batch, _) =>
      val regs = Sketches.hllRegisters(batch, Seq("event_type"), userDayKey, p)
      mergeRegisters(batch.sparkSession, regs, artifactDir)
    }

  /** Serve the maintained sketch: distinct estimates straight off the
    * artifact — no event data touched at query time.
    */
  def estimates(spark: SparkSession, artifactDir: String, p: Int = 6): DataFrame =
    Sketches.hllEstimate(spark.read.parquet(artifactDir), Seq("event_type"), p)

  /** Register sink with the group as a PARTITION column in the artifact
    * layout (event_type=… directories): the same max-merge fold, but a
    * per-source dashboard (q79-style) serving ONE group reads one
    * partition directory — partition-pruned scan over m register rows,
    * zero event rescans (StreamingSpec pins the pruned file set).
    */
  def sketchSinkPartitioned(stream: DataFrame, artifactDir: String, checkpointDir: String,
      p: Int = 6): StreamingQuery =
    StoreCompaction.sink(stream, "hll_register_maintenance_partitioned",
        checkpointDir) { (batch, _) =>
      val regs = Sketches.hllRegisters(batch, Seq("event_type"), userDayKey, p)
      foldArtifact(batch.sparkSession, regs, artifactDir, Some("event_type"))(
        _.groupBy("event_type", "bucket").agg(max("r").as("r")))
    }

  /** Serve ONE group's distinct estimate off its artifact partition: the
    * equality filter prunes the partitioned layout to a single directory
    * (the scan's PartitionFilters, ≤ m rows read), and the estimator is
    * the PRODUCTION one — `hllEstimateCorrected`, including the
    * linear-counting small-range branch a dashboard group below ~2.5·m
    * needs.
    */
  def estimateFor(spark: SparkSession, artifactDir: String, group: String,
      p: Int = 6): DataFrame =
    Sketches.hllEstimateCorrected(
      spark.read.parquet(artifactDir).filter(col("event_type") === group),
      Seq("event_type"), p)

  /** q110's overlap estimates served OFF THE MAINTAINED ARTIFACT: union,
    * Jaccard, and intersection size per group pair as pure functions of
    * the folded k-min sketches — zero event rescans at serving time.
    * Shares q110's expression kernel (Sketches.kmvPairEstimates), so
    * after streaming a corpus the served estimates equal the in-query
    * ones bit-for-bit (StreamingSpec-pinned); the exact-count companion
    * columns need the raw keys and remain batch-only.
    */
  def overlapFromArtifact(spark: SparkSession, artifactDir: String, k: Int = 256): DataFrame =
    Sketches.kmvPairEstimates(spark.read.parquet(artifactDir), k)

  /** Fold a batch's KMV sketches into the artifact: merged sketch = the k
    * smallest distinct values of the concatenation (SketchSpec pins this
    * associative, so any batch boundaries give the whole-corpus sketch).
    * Same driver-materialize-then-overwrite discipline; the artifact is
    * one k-array per group.
    */
  def mergeKmv(spark: SparkSession, batchSk: DataFrame, artifactDir: String, k: Int): Unit =
    foldArtifact(spark, batchSk, artifactDir)(
      _.select(col("event_type"), explode(col("mins")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KmvMin.kmvMin(k)(col("h")).as("mins")))

  /** KMV-maintenance sink: per micro-batch, one KmvMin aggregate over the
    * batch (map-side bounded at k per group) folded into the artifact —
    * the streaming half of q110: overlap/Jaccard estimates between groups
    * stay serveable off the artifact alone.
    */
  def kmvSink(stream: DataFrame, artifactDir: String, checkpointDir: String,
      k: Int = 256): StreamingQuery =
    StoreCompaction.sink(stream, "kmv_sketch_maintenance", checkpointDir) { (batch, _) =>
      val sk = batch
        .select(col("event_type"), graft.ops.Dedup.h60Col(userDayKey).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KmvMin.kmvMin(k)(col("h")).as("mins"))
      mergeKmv(batch.sparkSession, sk, artifactDir, k)
    }

  // ── sketch stores under RETENTION: per-landing register deltas ───────
  //
  // The merged artifacts above fold every landing into one table — the
  // right layout when the sketch answers a since-the-beginning question,
  // and the WRONG one under a retention window: registers max-merge but
  // never subtract, so an expired landing cannot leave a merged artifact
  // (the same reason per-key ERASURE on a sketch is rebuild-only — a
  // register keeps no per-key content to remove; retention windows are
  // the aging story sketches actually support). The retention layout
  // keeps one register-delta partition PER LANDING (tiny: ≤ groups × m
  // rows each), expiry drops whole landings (StoreCompaction.expireBefore,
  // pure directory deletes), and serving max-merges exactly the retained
  // window — associativity makes the windowed estimate bit-equal to a
  // from-scratch sketch of the retained events.

  // ── sketch-parameter markers: the store constant every landing and
  // serve must agree on. Registers (and k-min arrays) of DIFFERENT
  // parameters max-merge without any structural error and return a
  // silently wrong estimate — the one failure mode every other store
  // family here guards with a persisted marker (epoch size, retention
  // floor, forget horizon). So the first delta persists the parameter
  // and every later write or windowed serve refuses loudly on mismatch.

  private def requireParamMarker(deltaDir: String, name: String, value: Int,
      writeIfAbsent: Boolean, what: String): Unit = {
    val f = new java.io.File(deltaDir, name)
    if (f.exists()) {
      val stored = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      require(stored == value,
        s"sketch delta store $deltaDir was built with $what=$stored; " +
          s"refusing $what=$value — merging sketch partials of different " +
          "parameters returns a silently wrong estimate")
    } else if (writeIfAbsent) {
      // a truncated marker from a crashed write would refuse every later
      // landing/serve on a healthy store
      new java.io.File(deltaDir).mkdirs()
      StoreCompaction.writeAtomic(f, value.toString)
    }
  }

  /** One landing's HLL register partial as a per-batchId delta. The
    * precision `p` persists as a `_hll_p` store marker on the first
    * landing; later landings and windowed serves must match it.
    */
  def writeRegisterDelta(batch: DataFrame, deltaDir: String, batchId: Long,
      p: Int = 6): Unit = {
    requireParamMarker(deltaDir, "_hll_p", p, writeIfAbsent = true, "p")
    StoreCompaction.writeEvolvedDelta(
      Sketches.hllRegisters(batch, Seq("event_type"), userDayKey, p),
      deltaDir, batchId)
  }

  /** HLL distinct estimates over a retention WINDOW [lo, upto] —
    * register MAX over exactly the retained landings, then the shared
    * estimator: equals [[Sketches.hllEstimate]] built from scratch on
    * the window's events.
    */
  def estimatesWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue, p: Int = 6): DataFrame = {
    requireParamMarker(deltaDir, "_hll_p", p, writeIfAbsent = false, "p")
    Sketches.hllEstimate(
      StoreCompaction.readWindow(spark, deltaDir, lo, upto)
        .groupBy("event_type", "bucket").agg(max("r").as("r")),
      Seq("event_type"), p)
  }

  /** One landing's KMV sketch partial as a per-batchId delta. `k`
    * persists as a `_kmv_k` store marker on the first landing (same
    * rule as the HLL precision — a k-mismatch re-fold silently
    * under-estimates).
    */
  def writeKmvDelta(batch: DataFrame, deltaDir: String, batchId: Long,
      k: Int = 256): Unit = {
    requireParamMarker(deltaDir, "_kmv_k", k, writeIfAbsent = true, "k")
    StoreCompaction.writeEvolvedDelta(
      batch
        .select(col("event_type"), graft.ops.Dedup.h60Col(userDayKey).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KmvMin.kmvMin(k)(col("h")).as("mins")),
      deltaDir, batchId)
  }

  /** q110's overlap estimates over a retention WINDOW [lo, upto] — the
    * k smallest distinct hashes of exactly the retained landings
    * (KmvMin re-fold, associative), through the shared pair-estimate
    * kernel.
    */
  def overlapWindowed(spark: SparkSession, deltaDir: String, lo: Long,
      upto: Long = Long.MaxValue, k: Int = 256): DataFrame = {
    requireParamMarker(deltaDir, "_kmv_k", k, writeIfAbsent = false, "k")
    Sketches.kmvPairEstimates(
      StoreCompaction.readWindow(spark, deltaDir, lo, upto)
        .select(col("event_type"), explode(col("mins")).as("h"))
        .groupBy("event_type")
        .agg(graft.functions.KmvMin.kmvMin(k)(col("h")).as("mins")),
      k)
  }
}
