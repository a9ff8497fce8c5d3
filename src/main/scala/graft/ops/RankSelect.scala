package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group order statistics (median, arbitrary quantiles) by
  * radix-histogram rank selection.
  *
  * The naive form — `row_number() OVER (PARTITION BY grp ORDER BY v)` —
  * sorts every group in full, so parallelism is capped at the number of
  * groups and each task sorts its ENTIRE group: with 5 event types a
  * 1000-executor cluster uses 5 tasks. This operator instead locates each
  * target rank's value bucket first and sorts only those buckets:
  *
  *   1. histogram pass: count per (group, radix bucket), where the bucket
  *      is the top 12 bits of the ORDER-PRESERVING long encoding of the
  *      double value (IEEE trick: flip all bits of negatives, flip the
  *      sign bit of non-negatives — unsigned long order ≡ double order).
  *      ≤ #groups × 4096 rows reach the driver (sparse in practice);
  *   2. driver walks each group's histogram to find, for every requested
  *      quantile, the bucket holding its rank and the residual rank
  *      within that bucket (pure metadata, no data rows);
  *   3. REFINEMENT (value-skew guard): any located bucket still holding
  *      more than `maxBucketRows` rows is re-histogrammed on the next 12
  *      bits of the encoding, restricted by semi-join to the oversized
  *      (group, prefix) classes only — residual ranks walk down with the
  *      refinement. Repeats until every target's bucket fits the bound or
  *      the prefix reaches all 64 bits, at which point the bucket is a
  *      single distinct value and the answer is DECODED from the prefix
  *      itself — no data pass, no sort. A 99%-duplicated value therefore
  *      never forces a corpus-sized in-bucket sort: equal values share
  *      every prefix, so the refinement rides down to the exact-value
  *      level and short-circuits.
  *   4. final pass semi-joins to the still-sortable buckets only and
  *      rank-selects inside them; work is bucket occupancy (≤ the bound),
  *      never n.
  *
  * Quantile rank convention: rank_p = ⌊(n−1)·p⌋ + 1 (1-based element
  * selection, no interpolation — both engines return an input value
  * verbatim, which keeps the DuckDB oracle bit-exact). p = 0.5 equals the
  * lower median ⌊(n+1)/2⌋ for every n.
  */
object RankSelect {

  private val BucketBits = 12

  /** Monotone long encoding of a double-typed column: flip all bits of
    * negatives (raw sign bit 1), flip only the sign bit of non-negatives —
    * UNSIGNED long order equals double order.
    */
  private def mappedLong(v: Column): Column = {
    val raw = graft.functions.DoubleBits(v)
    when(raw < 0, bitwise_not(raw)).otherwise(raw.bitwiseXOR(lit(Long.MinValue)))
  }

  /** Invert `mappedLong`: recover the double from its full 64-bit prefix. */
  private def decodeMapped(m: Long): Double = {
    val raw = if (m < 0) m ^ Long.MinValue else ~m
    java.lang.Double.longBitsToDouble(raw)
  }

  private def prefixCol(m: Column, bits: Int): Column =
    if (bits >= 64) m else shiftrightunsigned(m, 64 - bits)

  /** One quantile target mid-refinement: residual `rank` within the
    * `bits`-wide `prefix` class of `g`'s values; `occ` = class occupancy.
    */
  private[graft] case class Target(
      g: String, label: String, prefix: Long, bits: Int, rank: Long, n: Long, occ: Long)

  /** Passes 1-3: locate each (group, quantile) target's bucket, refining
    * oversized buckets by 12 more value bits per round. Exposed for the
    * skew property spec; `groupQuantiles` is the public operator.
    */
  private[graft] def locateTargets(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      quantiles: Seq[(String, Double)],
      maxBucketRows: Long): Seq[Target] = {
    val spark = df.sparkSession
    import spark.implicits._
    val withM = df.select(col(groupCol), mappedLong(col(valueCol)).as("_m"))

    // pass 1: (group, 12-bit bucket) histogram — small enough to reason
    // about on the driver, never the data itself
    val hist = withM
      .groupBy(col(groupCol), prefixCol(col("_m"), BucketBits).as("_p"))
      .agg(count(lit(1)).as("_c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)

    var targets = hist.toSeq.flatMap { case (g, rows) =>
      val buckets = rows.sortBy(_._2)
      val n = rows.map(_._3).sum
      quantiles.map { case (label, p) =>
        val rank = math.floor((n - 1) * p).toLong + 1
        var acc = 0L
        var i = 0
        while (acc + buckets(i)._3 < rank) { acc += buckets(i)._3; i += 1 }
        Target(g, label, buckets(i)._2, BucketBits, rank - acc, n, buckets(i)._3)
      }
    }
    var bits = BucketBits

    // refinement rounds: re-histogram ONLY the oversized (group, prefix)
    // classes on 12 more bits; each round's driver-side result is
    // ≤ #oversized-targets × 4096 rows
    while (bits < 64 && targets.exists(t => t.bits == bits && t.occ > maxBucketRows)) {
      val newBits = math.min(bits + BucketBits, 64)
      val (stale, fresh) = targets.partition(t => t.bits == bits && t.occ > maxBucketRows)
      val classes = stale.map(t => (t.g, t.prefix)).distinct.toDF(groupCol, "_p")
      val sub = withM
        .withColumn("_p", prefixCol(col("_m"), bits))
        .join(broadcast(classes), Seq(groupCol, "_p"), "left_semi")
        .groupBy(col(groupCol), prefixCol(col("_m"), newBits).as("_p2"))
        .agg(count(lit(1)).as("_c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy { case (g, p2, _) => (g, p2 >>> (newBits - bits)) } // parent class

      val refined = stale.map { t =>
        val buckets = sub((t.g, t.prefix)).sortBy(_._2)
        var acc = 0L
        var i = 0
        while (acc + buckets(i)._3 < t.rank) { acc += buckets(i)._3; i += 1 }
        t.copy(prefix = buckets(i)._2, bits = newBits, rank = t.rank - acc, occ = buckets(i)._3)
      }
      targets = fresh ++ refined
      bits = newBits
    }
    targets
  }

  /** One output row per group: (groupCol, n, <label per quantile>).
    * `maxBucketRows` bounds the largest in-bucket sort any task runs;
    * the 4M default keeps a bucket's (value, tie) pairs comfortably in
    * one task's memory at 100 TB while making refinement rounds rare.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String, tieCol: String,
      quantiles: Seq[(String, Double)], maxBucketRows: Long = 4L << 20,
      smallMaxRows: Long = 8L << 20): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val targets = locateTargets(df, groupCol, valueCol, quantiles, maxBucketRows)

    // SCALE-ADAPTIVE small path (the prIterate pattern: a performance
    // switch, never a semantics switch): pass 1 already told us the total
    // row count — when the whole input is modest, one repartition-by-group
    // sort-scan picks every target rank directly, replacing the
    // refinement rounds and the window-join final pass with a single
    // exchange. Selection is the identical ⌊(n−1)p⌋+1-th element under
    // the identical (value, tie) order, so the output is bit-equal; at
    // corpus scale the histogram path takes over (the §8 probe measured
    // its crossover vs the full sort at 100×).
    val totalRows = targets.groupBy(_.g).map(_._2.head.n).sum
    if (totalRows <= smallMaxRows && targets.nonEmpty) {
      val pByLabel = quantiles.toMap
      val rankMap: Map[String, Seq[(String, Long)]] = targets.groupBy(_.g)
        .map { case (g, ts) =>
          g -> ts.map(t =>
            t.label -> (math.floor((t.n - 1) * pByLabel(t.label)).toLong + 1L)).toSeq
        }
      val sorted = df
        .repartition(col(groupCol))
        .sortWithinPartitions(col(groupCol), col(valueCol), col(tieCol))
        .select(col(groupCol).cast("string"), col(valueCol).cast("double"))
        .as[(String, Double)]
      val picked = sorted.mapPartitions { it =>
        var curG: String = null
        var pos = 0L
        it.flatMap { case (g, v) =>
          if (g != curG) { curG = g; pos = 0L }
          pos += 1
          val p = pos
          rankMap.getOrElse(g, Nil).collect { case (label, r) if r == p => (g, label, v) }
        }
      }.toDF(groupCol, "_label", valueCol)
      val nDf = targets.map(t => (t.g, t.n)).distinct.toDF(groupCol, "n")
      return picked.join(broadcast(nDf), Seq(groupCol))
        .groupBy(col(groupCol), col("n"))
        .pivot("_label", quantiles.map(_._1))
        .agg(first(col(valueCol)))
        .select(col(groupCol) +: col("n") +: quantiles.map(q => col(q._1)): _*)
    }

    // fully-refined targets (64-bit prefix = one distinct value): the
    // answer IS the decoded prefix — emitted from metadata, zero data read
    val (exact, sortable) = targets.partition(_.bits == 64)
    val exactDf = exact.map(t => (t.g, t.label, decodeMapped(t.prefix), t.n))
      .toDF(groupCol, "_label", valueCol, "n")

    // final pass: rank within ONLY the still-sortable buckets, then pick
    // each quantile's residual rank. Disjoint-or-equal prefix classes
    // (targets sharing a bucket refine in lockstep) ⇒ each row matches at
    // most one class, so the window partition is exact.
    val pickedSortable = if (sortable.isEmpty) exactDf.limit(0) else {
      val tDf = sortable.map(t => (t.g, t.label, t.prefix, t.bits, t.rank, t.n))
        .toDF(groupCol, "_label", "_tprefix", "_tbits", "_trank", "n")
      val classes = sortable.map(t => (t.g, t.prefix, t.bits)).distinct
        .toDF(groupCol, "_tprefix", "_tbits")
      val w = Window.partitionBy(col(groupCol), col("_tprefix"), col("_tbits"))
        .orderBy(col(valueCol), col(tieCol))
      val ranked = df
        .withColumn("_m", mappedLong(col(valueCol)))
        .join(broadcast(classes),
          df(groupCol) === classes(groupCol) &&
            expr("shiftrightunsigned(_m, 64 - _tbits)") === col("_tprefix"))
        .drop(classes(groupCol))
        .withColumn("_rn", row_number().over(w))
      ranked
        .join(broadcast(tDf), Seq(groupCol, "_tprefix", "_tbits"))
        .filter(col("_rn") === col("_trank"))
        .select(col(groupCol), col("_label"), col(valueCol), col("n"))
    }

    pickedSortable.unionByName(exactDf)
      .groupBy(col(groupCol), col("n"))
      .pivot("_label", quantiles.map(_._1))
      .agg(first(col(valueCol)))
      .select(col(groupCol) +: col("n") +: quantiles.map(q => col(q._1)): _*)
  }

  /** Lower-median element per group: (groupCol, median_value, n). */
  def groupMedian(df: DataFrame, groupCol: String, valueCol: String,
      tieCol: String): DataFrame =
    groupQuantiles(df, groupCol, valueCol, tieCol, Seq("median_value" -> 0.5))
      .select(col(groupCol), col("median_value"), col("n"))
}
