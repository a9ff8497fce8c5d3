package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** An ADDITIVE cell store, declared once — the store-layer twin of a dbt
  * model's `config(materialized='incremental', unique_key=…)`: one value
  * states the layout and fold algebra, and every path that touches the
  * store derives from it, so no module re-spells the algebra:
  *
  *  - the landing ([[land]] — always [[StoreCompaction.writeEvolvedDelta]],
  *    so the replay-margin guard and the `_cell_schema` registration cover
  *    every positive landing) and the micro-batch sink ([[sink]], with
  *    sink-side maintenance bucketed on `buckets`);
  *  - the pinned read ([[rowsAt]]: [[StoreCompaction.requireServableAt]] +
  *    [[StoreCompaction.pinnedReadFilter]]) and the windowed read
  *    ([[windowRows]]: [[StoreCompaction.readWindow]]), each served
  *    through the fold and the tombstone rule ([[servedAt]],
  *    [[servedWindow]]);
  *  - compaction ([[compact]]: [[StoreCompaction.foldInto]] with the same
  *    fold — the fold algebra IS the serving algebra);
  *  - erasure: a whole-wave negative landing ([[forget]]) and the
  *    pin-preserving split landings ([[forgetSplit]]) negate the `Sum`
  *    measures of the store's own kernel applied to the forgotten docs;
  *    `Min`/`Max`/`Xor` measures are attributes carried unchanged.
  *
  * `kernel` is the per-batch cell kernel — applied to the batch, or to
  * the `shared` intermediate when stores of one family derive from a
  * common frame (the diversity pair's hashed vectors, the CDC pair's
  * chunks), which a family landing materializes ONCE per batch.
  * `tombstone` names the count column (and what it counts) whose fold
  * reaches zero when erasure removed every contributor (the cell is
  * dropped at serve) and must never fold negative (the serve refuses: a
  * forget delta was landed for docs the store never counted). `family` is the name erasure and
  * amendment certificates carry; stores outside the named erasure
  * families certify as `sum_cells`. `countedErasure`, when set, makes a
  * whole-wave erasure certify the number of negated cells it landed under
  * that detail (otherwise it certifies one landed delta).
  */
final case class CellStore(
    family: String,
    dir: String,
    keys: Seq[String],
    measures: Seq[(String, CellStore.Fold)],
    kernel: DataFrame => DataFrame,
    shared: Option[CellStore.Shared] = None,
    tombstone: Option[(String, String)] = None,
    bucketCols: Seq[String] = Nil,
    countedErasure: Option[String] = None) {

  /** Maintenance bucket columns: the declared ones, else the cell key. */
  def buckets: Seq[String] = if (bucketCols.nonEmpty) bucketCols else keys

  /** This store's cells of one batch. */
  def cells(batch: DataFrame): DataFrame = kernel(shared.fold(batch)(_.of(batch)))

  /** Land `batch` as partition `batchId` (replay-idempotent overwrite). */
  def land(batch: DataFrame, batchId: Long): Unit = CellStore.land(batch, batchId, Seq(this))

  /** The micro-batch sink landing every batch of `stream` on this store. */
  def sink(stream: DataFrame, checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    CellStore.sink(Seq(this), stream, checkpointDir, maintain)

  /** The fold algebra: one row per key, each measure folded by its kind. */
  private def fold(rows: DataFrame): DataFrame = {
    val aggs = measures.map { case (c, f) => f(c) }
    rows.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[fold]] under the tombstone rule: cells folded to zero are dropped,
    * a negative fold refuses naming the store, the measure and the key.
    */
  private def served(rows: DataFrame): DataFrame = tombstone match {
    case None => fold(rows)
    case Some((c, what)) =>
      val refusal = concat_ws(" ", lit(s"store $dir folded a NEGATIVE $what ($c) — a " +
        "forget delta was landed for docs this store never counted:") +:
        keys.map(k => col(k).cast("string")): _*)
      fold(rows)
        .withColumn(c, when(col(c) < 0, raise_error(refusal)).otherwise(col(c)))
        .filter(col(c) > 0)
  }

  /** The rows a read pinned at `upto` folds (every row when unpinned). */
  def rowsAt(spark: SparkSession, upto: Long = Long.MaxValue): DataFrame = {
    StoreCompaction.requireServableAt(dir, upto)
    spark.read.parquet(dir).filter(StoreCompaction.pinnedReadFilter(upto))
  }

  /** The served cells of the release pinned at `upto`. */
  def servedAt(spark: SparkSession, upto: Long = Long.MaxValue): DataFrame =
    served(rowsAt(spark, upto))

  /** The rows of the landings in the retention window [lo, upto]. */
  def windowRows(spark: SparkSession, lo: Long, upto: Long = Long.MaxValue): DataFrame =
    StoreCompaction.readWindow(spark, dir, lo, upto)

  /** The served cells of the retention window [lo, upto]. */
  def servedWindow(spark: SparkSession, lo: Long, upto: Long = Long.MaxValue): DataFrame =
    served(windowRows(spark, lo, upto))

  /** Fold partitions `batch_id <= upto` into the base with the fold. */
  def compact(spark: SparkSession, upto: Long): Unit =
    StoreCompaction.foldInto(spark, dir, upto)(fold)

  /** Whole-wave erasure of `forgotten` as partition `batchId`. */
  def forget(forgotten: DataFrame, batchId: Long): Unit =
    CellStore.forget(forgotten, batchId, Seq(this))

  /** Pin-preserving erasure of `forgotten`; returns the landed ids. */
  def forgetSplit(forgotten: DataFrame, requestId: Long,
      srcBatchCol: String = "src_batch", stamp: Boolean = true): Seq[Long] =
    CellStore.forgetSplit(forgotten, requestId, Seq(this), srcBatchCol, stamp).head

  private def negated(cells: DataFrame): DataFrame =
    cells.select(cells.columns.map(n =>
      if (measures.contains(n -> CellStore.Sum)) (-col(n)).as(n) else col(n)): _*)

  private def landNegated(cells: DataFrame, id: Long): Unit =
    negated(cells).coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=$id")
}

object CellStore {

  /** How a measure folds across landings. */
  sealed abstract class Fold(agg: String => Column) {
    def apply(c: String): Column = agg(c)
  }
  /** Additive measure: summed, negated by erasure. */
  case object Sum extends Fold(c => sum(col(c)).cast("long").as(c))
  /** Attributes carried through erasure unchanged. */
  case object Min extends Fold(c => min(col(c)).as(c))
  case object Max extends Fold(c => max(col(c)).as(c))
  case object Xor extends Fold(c => expr(s"bit_xor($c)").as(c))

  /** A per-batch intermediate several stores of one family derive their
    * cells from. Declare it once as a `val`: stores sharing the same
    * value share one materialized frame per landing.
    */
  final class Shared(val of: DataFrame => DataFrame)

  /** Each store's cells of `batch`, every shared intermediate computed and
    * checkpointed once.
    */
  private def cellsOf(batch: DataFrame,
      stores: Seq[CellStore]): Seq[(CellStore, DataFrame)] = {
    val frames = stores.flatMap(_.shared).distinct
      .map(s => s -> s.of(batch).localCheckpoint()).toMap
    stores.map(t => t -> t.kernel(t.shared.fold(batch)(frames)))
  }

  /** Land `batch` on every store as partition `batchId`; a batch any
    * store refuses ([[StoreCompaction.requireLandable]]) lands nowhere.
    */
  def land(batch: DataFrame, batchId: Long, stores: Seq[CellStore]): Unit = {
    stores.foreach(t => StoreCompaction.requireLandable(t.dir, batchId))
    cellsOf(batch, stores).foreach { case (t, c) =>
      StoreCompaction.writeEvolvedDelta(c, t.dir, batchId)
    }
  }

  /** The micro-batch sink of a store family: land each batch on every
    * store, then run the maintenance pass `maintain` sets. The query is
    * named after the first store's family and directory, so sinks of
    * different stores never clash on a name.
    */
  def sink(stores: Seq[CellStore], stream: DataFrame, checkpointDir: String,
      maintain: Option[StoreCompaction.MaintenancePolicy] = None): StreamingQuery =
    StoreCompaction.sink(stream,
        s"${stores.head.family}_maintenance@${stores.head.dir}", checkpointDir) {
      (batch, batchId) =>
        land(batch, batchId, stores)
        StoreCompaction.sinkMaintain(batch.sparkSession,
          stores.map(t => t.dir -> t.buckets), maintain)
    }

  /** WHOLE-WAVE erasure: land the negated cells of `forgotten` on every
    * store as partition `batchId`, sealing each store's forget horizon
    * ([[StoreCompaction.advanceForgetHorizon]]). After the fold every
    * served cell equals a recompute on the survivors.
    */
  def forget(forgotten: DataFrame, batchId: Long, stores: Seq[CellStore]): Unit = {
    stores.foreach(t => StoreCompaction.advanceForgetHorizon(t.dir))
    cellsOf(forgotten, stores).foreach { case (t, c) => t.landNegated(c, batchId) }
  }

  /** PIN-PRESERVING erasure: one negative delta per ORIGINAL landing batch
    * instead of one per wave. A whole-wave negation is an aggregate
    * correction — faithful only for reads folding EVERY forgotten doc's
    * positive cells — so it seals the forget horizon and pins below the
    * frontier refuse. When the content archive records each doc's landing
    * batch (`srcBatchCol`), the delta for source batch b negates exactly
    * what batch b added for the forgotten docs, landed under
    * [[StoreCompaction.splitForgetId]] so a pinned read at P folds it iff
    * b ≤ P ([[StoreCompaction.pinnedReadFilter]]). A pin at P then serves
    * (docs landed ≤ P) minus (their forgotten members), so NO horizon is
    * sealed and release pins keep serving. Content whose landing already
    * expired below a store's retention floor is not negated there (its
    * positive cells left disk with the batch).
    *
    * Replay-idempotent (same request → same ids, overwrite). `stamp`
    * marks the partitions fold-eligible
    * ([[StoreCompaction.ForgetCommittedName]]) immediately — right for
    * batch callers; the streamed sink passes false and stamps after its
    * request marker commits. Returns each store's landed partition ids.
    */
  def forgetSplit(forgotten: DataFrame, requestId: Long, stores: Seq[CellStore],
      srcBatchCol: String = "src_batch", stamp: Boolean = true): Seq[Seq[Long]] = {
    val floors = stores.map(t =>
      StoreCompaction.retentionFloor(t.dir).getOrElse(Long.MinValue))
    val srcBatches = forgotten.select(col(srcBatchCol).cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val landed = srcBatches.flatMap { b =>
      val id = StoreCompaction.splitForgetId(requestId, b)
      val live = stores.zip(floors).collect { case (t, f) if b >= f => t }
      cellsOf(forgotten.filter(col(srcBatchCol) === b), live).map { case (t, c) =>
        t.landNegated(c, id)
        if (stamp)
          new java.io.File(s"${t.dir}/batch_id=$id",
            StoreCompaction.ForgetCommittedName).createNewFile()
        t -> id
      }
    }
    stores.map(t => landed.collect { case (s, id) if s eq t => id })
  }
}
