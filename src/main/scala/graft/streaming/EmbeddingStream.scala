package graft.streaming

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming SemDeDup — the embedding twin of `CorpusStream`: vectors
  * land as parquet files, each micro-batch is assigned to a cluster by
  * cosine argmax against the FROZEN centroid artifact (the
  * `buildIvfIndex` quantizer — serving-time clustering never retrains
  * per batch), scored for semantic duplication against the already-
  * ingested history of its cluster plus its own batch's earlier ids, and
  * appended. This is q104's keep-earliest rule run continuously: a
  * vector is a semantic dup when some EARLIER vector in its cluster has
  * cosine ≥ the threshold — where "earlier" is FIRST-SEEN: history
  * membership for cross-batch priors (arrival order by construction),
  * the id tiebreak only within a batch. Under monotone-id arrival this
  * equals the pure id order; under out-of-order arrival decisions stay
  * final (the round-8b semantics shared with CurationStream/LshStream).
  *
  * Scale notes: the centroid table broadcasts (k rows); per micro-batch
  * work is batch×k assignment plus a cluster-keyed equi-join against
  * history — the history side is the warehouse itself partitioned by
  * cluster (at 100 TB a batch reads only its own clusters' partitions),
  * and no streaming state store is needed at all. Appended history rows
  * carry (vec_id, cluster, v); decisions are an append-only audit table.
  */
object EmbeddingStream {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over a parquet landing directory. */
  def readEmbStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(embSchema).parquet(landingDir)

  /** Assign vectors to their frozen cluster: cosine argmax against the
    * centroid table, tie on the lowest cluster id — the identical rule to
    * the kmeans driver's assignment step, against centroids that do NOT
    * move. Returns (vec_id, cluster, v).
    */
  def assignFrozen(batch: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.select(col("label").cast("long").as("ck"), col("centroid"))
      .withColumn("cn", sqrt(Similarity.dot(col("centroid"), col("centroid"))))
    batch
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("vn", sqrt(Similarity.dot(col("v"), col("v"))))
      .crossJoin(broadcast(c))
      .select(col("vec_id"), col("v"),
        (Similarity.dot(col("v"), col("centroid")) / (col("vn") * col("cn"))).as("sim"),
        col("ck"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("ck")).as("nc"))).as("m"), first(col("v")).as("v"))
      .select(col("vec_id"), (-col("m.nc")).as("cluster"), col("v"))
  }

  /** Score an assigned batch against prior vectors (history ∪ the batch's
    * own lower ids, same cluster): per vector, the max cosine to any
    * earlier vector and the keep-earliest dup verdict — the exact q100/
    * q104 argmax shape, candidates bounded per cluster. "Earlier" is
    * FIRST-SEEN, like the corpus sinks after round-8b: a history vector
    * arrived in an earlier micro-batch by construction, so it counts as
    * a prior WHATEVER its id (self rows from a re-delivered file
    * excluded), while batch-internal priors use the lower-id tiebreak.
    * Under id-ordered arrival every history id is lower, so this is
    * bit-equal to the old `<`-only rule; out of order it closes the
    * leak where a late lower-id near-duplicate survived beside its
    * earlier-arrived twin.
    */
  def scoreBatch(asg: DataFrame, history: DataFrame,
      threshold: Double = Similarity.SemDupThreshold): DataFrame = {
    val a = asg.withColumn("nn", sqrt(Similarity.dot(col("v"), col("v"))))
    def candOf(df: DataFrame) = df
      .select(col("vec_id").as("b_id"), col("cluster").as("bc"),
        col("v").as("bv"), col("bn"))
    val histCand = candOf(history
      .withColumn("bn", sqrt(Similarity.dot(col("v"), col("v")))))
    val batchCand = candOf(a.withColumnRenamed("nn", "bn"))
    val pairs = a
      .join(histCand, col("cluster") === col("bc") && col("b_id") =!= col("vec_id"))
      .unionByName(
        a.join(batchCand, col("cluster") === col("bc") && col("b_id") < col("vec_id")))
    val best = pairs
      .select(col("vec_id"),
        (Similarity.dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"),
        col("b_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("vec_id"), col("m.sim").as("sim"), (-col("m.nb")).as("b_id"))
    a.select(col("vec_id"), col("cluster")).join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("sim"), lit(0.0)).as("max_prior_sim"),
        col("b_id").as("dup_of"),
        (coalesce(col("sim"), lit(0.0)) >= threshold).as("is_semantic_dup"))
  }

  // ── snapshot-keyed occupancy cells: q130's drift, maintained ─────────

  /** Embedding stream whose rows carry a `snapshot_id` (ingest
    * generation) column alongside the base schema.
    */
  def readSnapshotEmbStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream.schema(embSchema.add("snapshot_id", "long")).parquet(landingDir)

  /** The (snapshot, cluster) occupancy cells of an assigned batch. */
  private def occupancyCells(asg: DataFrame, batch: DataFrame): DataFrame =
    asg.join(batch.select(col("vec_id"), col("snapshot_id")), Seq("vec_id"))
      .groupBy("snapshot_id", "cluster")
      .agg(count(lit(1)).as("o"))

  /** The occupancy cell store: each batch is assigned against the FROZEN
    * quantizer at `centroidPath` (serving-time clustering never retrains
    * per batch — the same centroid artifact the dedup sink uses) and
    * counted per (snapshot, cluster); ≤ snapshots × k rows per batch,
    * add-mergeable, so any batch boundaries fold to the whole-corpus
    * cells and the artifact is cells, never vectors. Erasure re-assigns
    * the forgotten vectors against the same quantizer, so the folded
    * occupancy equals a recount over the surviving vectors and every
    * drift statistic served off it (q130's pair χ²) is survivor-exact;
    * the quantizer itself is not retrained (k aggregate centroids retain
    * no per-vector content; retraining is the q132 rebuild trigger's
    * job).
    */
  def occupancyStore(deltaDir: String, centroidPath: String): CellStore =
    CellStore("sum_cells", deltaDir, Seq("snapshot_id", "cluster"),
      Seq("o" -> CellStore.Sum),
      b => occupancyCells(assignFrozen(b, b.sparkSession.read.parquet(centroidPath)), b),
      tombstone = Some("o" -> "occupancy count"))

  /** One snapshot's folded per-cluster counts, aliased for the kernel
    * side (`na`/`nb`) by the caller; clusters erased to zero are dropped.
    */
  def occupancyForSnapshot(spark: SparkSession, store: CellStore,
      snapshotId: Long, as: String): DataFrame =
    occupancyOf(store.servedAt(spark), snapshotId, as)

  private def occupancyOf(folded: DataFrame, snapshotId: Long, as: String): DataFrame =
    folded.filter(col("snapshot_id") === snapshotId).select(col("cluster"), col("o").as(as))

  /** q130's statistic served off the maintained artifact: which region
    * of embedding space grew or vanished between snapshots A and B —
    * zero vector rescans, same kernel (Similarity.occupancyPairChi2), so
    * served and batch statistics are bit-identical (StreamingSpec-
    * pinned).
    */
  def occupancyPairFromDeltas(spark: SparkSession, store: CellStore,
      snapA: Long, snapB: Long): DataFrame =
    Similarity.occupancyPairChi2(
      occupancyForSnapshot(spark, store, snapA, "na"),
      occupancyForSnapshot(spark, store, snapB, "nb"))

  /** q130's statistic over a retention WINDOW [lo, upto] —
    * [[occupancyPairFromDeltas]]'s windowed twin
    * (DriftStream.pairDriftWindowed's law on the vector side): each
    * snapshot's per-cluster occupancy folds only the cells of landings
    * still on disk.
    */
  def occupancyPairWindowed(spark: SparkSession, store: CellStore,
      snapA: Long, snapB: Long, lo: Long,
      upto: Long = Long.MaxValue): DataFrame = {
    val w = store.servedWindow(spark, lo, upto).localCheckpoint()
    Similarity.occupancyPairChi2(occupancyOf(w, snapA, "na"), occupancyOf(w, snapB, "nb"))
  }

  /** Occupancy-store lifecycle registry — DriftStream.snapshotRegistry's
    * shape for the vector side: snapshot ids, vector mass (Σo — each
    * vector lands in one cluster cell), cluster count, batch span, all
    * derived from the cell store itself.
    */
  def occupancyRegistry(spark: SparkSession, deltaDir: String): DataFrame =
    spark.read.parquet(deltaDir)
      .groupBy("snapshot_id")
      .agg(sum(col("o")).cast("long").as("n_vectors"),
        count(lit(1)).as("n_cells"),
        min(col("batch_id")).cast("long").as("first_batch"),
        max(col("batch_id")).cast("long").as("last_batch"))
      .orderBy("snapshot_id")

  // ── consolidated embedding curation: ONE assignment pass per batch ───

  /** The vector twin of CurationStream's consolidation: the dedup sink
    * and the occupancy sink each need the batch assigned against the
    * frozen quantizer, so running them separately pays the batch × k
    * assignment TWICE per micro-batch — at scale the assignment is the
    * per-batch cost. This sink assigns ONCE and fans the result into
    * both maintenance paths plus the expectations split:
    *
    *   1. assign (frozen centroids — never retrains per batch),
    *   2. occupancy cells: (snapshot, cluster) count delta,
    *   3. semantic-dup verdicts vs cluster history + the batch's own
    *      lower ids (the dedup sink's exact rule, kernels shared),
    *   4. stores: decisions, history vectors, cells — all per-batchId
    *      overwrite partitions; optional accepted/quarantine split
    *      (reason 'semantic_dup') for the training reader.
    */
  def curationProcessBatch(batch: DataFrame, centroidPath: String,
      historyDir: String, decisionsDir: String, occDeltaDir: String,
      batchId: Long,
      acceptedDir: Option[String] = None,
      quarantineDir: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(centroidPath)
    val asg = assignFrozen(batch, cents).localCheckpoint()
    // occupancy delta off the SAME assignment
    StoreCompaction.writeEvolvedDelta(occupancyCells(asg, batch), occDeltaDir, batchId)
    // dedup verdicts off the same assignment (dedupSink's history rule)
    val history = StoreCompaction.historyBefore(spark, historyDir, batchId,
      asg.filter(lit(false)))
    val decisions = scoreBatch(asg, history).localCheckpoint()
    decisions.write.mode("overwrite").parquet(s"$decisionsDir/batch_id=$batchId")
    // history rows carry the label so the semantic-leakage audit
    // (semanticAuditFromHistory) can serve off this store alone
    asg.join(batch.select(col("vec_id"), col("label")), Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
    // expectations split: accepted vectors vs semantic-dup quarantine
    if (acceptedDir.isDefined || quarantineDir.isDefined) {
      val verdicts = batch.join(
        decisions.select(col("vec_id"), col("is_semantic_dup"), col("dup_of")),
        Seq("vec_id"), "left")
      acceptedDir.foreach { dir =>
        verdicts.filter(!coalesce(col("is_semantic_dup"), lit(false)))
          .drop("is_semantic_dup", "dup_of")
          .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
      }
      quarantineDir.foreach { dir =>
        verdicts.filter(coalesce(col("is_semantic_dup"), lit(false)))
          .withColumn("reason", lit("semantic_dup"))
          .drop("is_semantic_dup")
          .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
      }
    }
  }

  /** Trigger.AvailableNow + checkpoint, like every ingest twin. */
  def curationSink(stream: DataFrame, centroidPath: String, historyDir: String,
      decisionsDir: String, occDeltaDir: String, checkpointDir: String,
      acceptedDir: Option[String] = None,
      quarantineDir: Option[String] = None): StreamingQuery =
    StoreCompaction.sink(stream, "embedding_curation", checkpointDir) { (batch, batchId) =>
      curationProcessBatch(batch, centroidPath, historyDir, decisionsDir,
        occDeltaDir, batchId, acceptedDir, quarantineDir)
    }

  /** Ingest sink: per micro-batch, assign against the frozen quantizer,
    * score against cluster history, write decisions (audit) and ALL
    * batch vectors (history — dups included, so later verdicts see the
    * same prior set a batch run would). Trigger.AvailableNow like the
    * corpus twin. The checkpoint makes file DELIVERY exactly-once, but
    * foreachBatch side-effects are at-least-once: a crash between the
    * two writes (or before checkpoint commit) replays the batch. Both
    * writes therefore OVERWRITE a per-batchId partition directory —
    * a replay rewrites the same rows instead of appending duplicates,
    * so the sink is idempotent end-to-end. Readers see `batch_id` as a
    * trailing partition-discovery column.
    */
  def dedupSink(stream: DataFrame, centroidPath: String, historyDir: String,
      decisionsDir: String, checkpointDir: String): StreamingQuery =
    StoreCompaction.sink(stream, "embedding_ingest", checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val cents = spark.read.parquet(centroidPath)
      val asg = assignFrozen(batch, cents).localCheckpoint()
      val history = StoreCompaction.historyBefore(spark, historyDir, batchId,
        asg.filter(lit(false)))
      scoreBatch(asg, history)
        .write.mode("overwrite").parquet(s"$decisionsDir/batch_id=$batchId")
      // label rides along for the audit serving path (see
      // semanticAuditFromHistory)
      asg.join(batch.select(col("vec_id"), col("label")), Seq("vec_id"))
        .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
    }

  /** q145's semantic split-leakage audit SERVED off the sink-written
    * history store: history carries every ingested vector with its
    * label and double-cast embedding, so the label-blocked strong pairs
    * — and therefore the whole audit matrix — compute with ZERO
    * embeddings-table scans (the q133/q141 store-serving discipline for
    * the semantic audit). `splits` is the (doc_id, split) projection of
    * the corpus (vec_id ↔ doc_id).
    */
  def semanticAuditFromHistory(spark: SparkSession, historyDir: String,
      splits: DataFrame): DataFrame =
    Similarity.semanticLeakMatrix(
      spark.read.parquet(historyDir).select(col("vec_id"), col("label"), col("v")),
      splits)

  /** q145's audit over a retention WINDOW [lo, upto] — the history
    * store is a pure per-vector identity store (one row per vec_id,
    * landed in its ingest batch; erasure is surgical), so its retention
    * serve is a pure partition slice: the leakage matrix of exactly the
    * vectors still on disk.
    */
  def semanticAuditWindowed(spark: SparkSession, historyDir: String,
      splits: DataFrame, lo: Long, upto: Long = Long.MaxValue): DataFrame =
    Similarity.semanticLeakMatrix(
      StoreCompaction.readWindow(spark, historyDir, lo, upto)
        .select(col("vec_id"), col("label"), col("v")),
      splits)
}
