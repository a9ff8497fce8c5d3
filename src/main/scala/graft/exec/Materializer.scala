package graft.exec

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Materialization sinks (SURVEY §2.1 S5/S6/S7).
  *
  * Bronze = unmaterialized views; Gold = full-table overwrite; Silver =
  * incremental upsert on a unique key, emulating dbt-databricks' `MERGE
  * INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
  * (notebooks/databricks_data_flow.sql:193-203) without Delta:
  * `old.anti_join(new, key) UNION new`, written to a temp dir and swapped
  * so a failed write never corrupts the target (SURVEY §7.3 risk 1).
  *
  * Scale path: for a 100 TB target, a whole-table rewrite per batch is the
  * bottleneck, so `partitionCols` switches to dynamic partition overwrite —
  * only partitions containing upserted keys are read back, merged, and
  * rewritten; untouched partitions are never opened.
  *
  * The table sinks return the schema they wrote, so a caller re-reads the
  * table with `spark.read.schema(s).parquet(path)` and Spark launches no
  * footer job to infer it.
  */
object Materializer {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The table at `path`, if any. A table a crash left moved aside in the
    * middle of a [[swap]] (at `path__old`, nothing at `path`) is renamed
    * back first, so the next incremental run reads it instead of
    * rebuilding from a full scan.
    */
  def readTarget(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (target, old) = (new Path(path), new Path(path + "__old"))
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new IOException(s"could not restore $old to $path")
    if (exists(spark, path)) Some(spark.read.parquet(path)) else None
  }

  /** `{{ this }}` watermark scan (SURVEY S4/P4/A6): max(col) of the
    * current target table; None when it holds no value.
    */
  def watermark(target: DataFrame, c: String): Option[java.sql.Timestamp] =
    Option(target.agg(max(col(c))).head().getTimestamp(0))

  /** Gold table sink — atomic overwrite via temp-dir + swap. */
  def overwriteTable(df: DataFrame, path: String): StructType = {
    stagedWrite(df, path)(df.write.mode("overwrite").parquet)
    df.schema
  }

  /** Write `df`'s table with `write(stagingPath)` into a staging sibling
    * of `path`, then [[swap]] it onto `path`: a failed write never touches
    * the target.
    */
  private def stagedWrite(df: DataFrame, path: String)(write: String => Unit): Unit = {
    val tmp = path + "__tmp"
    write(tmp)
    swap(df.sparkSession, tmp, path)
  }

  /** Silver incremental sink: `upsertInto` the table now at `path`. */
  def incrementalUpsert(
      newRows: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String] = Nil): StructType =
    upsertInto(readTarget(newRows.sparkSession, path), newRows, path, keys, partitionCols)

  /** Silver sink over an already-read `target` (None: no table yet, or a
    * full refresh that drops it). `newRows` is the (already
    * watermark-filtered) batch; rows whose `keys` match a target row replace
    * it, new keys append. Without a target the table is overwritten.
    * `on_schema_change='append_new_columns'`: columns present only on one
    * side are null-filled via unionByName(allowMissingColumns).
    */
  def upsertInto(
      target: Option[DataFrame],
      newRows: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCols: Seq[String] = Nil): StructType = {
    target match {
      case None if partitionCols.isEmpty => overwriteTable(newRows, path)
      case None =>
        stagedWrite(newRows, path)(
          newRows.write.mode("overwrite").partitionBy(partitionCols: _*).parquet)
        newRows.schema

      case Some(old) if partitionCols.nonEmpty =>
        // Dynamic partition overwrite: merge only the partitions the batch
        // touches; the rest of the (arbitrarily large) target is untouched.
        // The mode is a per-write option, so the session's own overwrite
        // mode stays as it was for every later write.
        val touched = newRows.select(partitionCols.map(col): _*).distinct()
        val oldTouched = old.join(broadcast(touched), partitionCols, "left_semi")
        val kept = oldTouched.join(newRows.select(keys.map(col): _*).distinct(),
          keys, "left_anti")
        val merged = kept.unionByName(newRows, allowMissingColumns = true)
        merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCols: _*).parquet(path)
        merged.schema

      case Some(old) =>
        val kept = old.join(newRows.select(keys.map(col): _*).distinct(), keys, "left_anti")
        val merged = kept.unionByName(newRows, allowMissingColumns = true)
        // merged still reads from `path`; write to temp then swap.
        stagedWrite(merged, path)(merged.write.mode("overwrite").parquet)
        merged.schema
    }
  }

  /** SCD Type-2 sink. The reference dim carries SCD metadata
    * (`_valid_from`/`_valid_to`/`_is_current`,
    * reference dim_devices.sql:68-70) but overwrites in place (Type 1);
    * this is the Type-2 upsert a warehouse runs on the same scaffolding:
    * a key whose tracked attributes changed gets its current row CLOSED
    * (`_valid_to = now`, `_is_current = false`) and a new version opened;
    * unchanged keys are untouched (idempotent re-runs add no versions);
    * history rows are immutable. Change detection is null-safe (`<=>`).
    * Scale shape: one key-partitioned join of current-rows vs the batch —
    * history is only ever appended, never rewritten, so at 100 TB the
    * closed-version majority of the dim is write-once data.
    */
  def scd2Upsert(incoming: DataFrame, path: String, key: String,
      trackedCols: Seq[String], now: java.sql.Timestamp): Unit = {
    val stamped = incoming
      .withColumn("_valid_from", lit(now))
      .withColumn("_valid_to", lit(null).cast("timestamp"))
      .withColumn("_is_current", lit(true))
    readTarget(incoming.sparkSession, path) match {
      case None => overwriteTable(stamped, path)
      case Some(old) =>
        val cur = old.filter(col("_is_current"))
        val hist = old.filter(!col("_is_current"))
        val probe = stamped.select(
          col(key).as("__k") +: trackedCols.map(c => col(c).as(s"__t_$c")): _*)
        val changedKeys = cur.join(probe, col(key) === col("__k"))
          .filter(trackedCols.map(c => !(col(c) <=> col(s"__t_$c"))).reduce(_ || _))
          .select(col(key)).distinct()
        val closed = cur.join(changedKeys, Seq(key), "left_semi")
          .withColumn("_valid_to", lit(now))
          .withColumn("_is_current", lit(false))
        val untouched = cur.join(changedKeys, Seq(key), "left_anti")
        val newKeyRows = stamped.join(cur.select(col(key)), Seq(key), "left_anti")
        val newVersions = stamped.join(changedKeys, Seq(key), "left_semi")
        val merged = hist
          .unionByName(closed, allowMissingColumns = true)
          .unionByName(untouched, allowMissingColumns = true)
          .unionByName(newKeyRows, allowMissingColumns = true)
          .unionByName(newVersions, allowMissingColumns = true)
        stagedWrite(merged, path)(merged.write.mode("overwrite").parquet)
    }
  }

  /** Interchange export (S1's write-side complement): parquet is the
    * native format, but downstream consumers ask for csv/jsonl — both
    * round-trip exactly for the primitive types the engine emits (longs,
    * doubles via shortest-repr strings, ISO timestamps).
    */
  def export(df: DataFrame, path: String, format: String): Unit = format match {
    case "csv" =>
      df.write.mode("overwrite").option("header", "true").csv(path)
    case "json" | "jsonl" =>
      df.write.mode("overwrite").json(path)
    case "parquet" =>
      df.write.mode("overwrite").parquet(path)
    case "orc" =>
      df.write.mode("overwrite").orc(path)
    case other => throw new IllegalArgumentException(s"unsupported export format: $other")
  }

  /** OPTIMIZE + ZORDER analog (SURVEY §4): compact to `numFiles` files,
    * range-partitioned and sorted by the clustering keys, so parquet
    * min/max column stats make key-filtered scans skip whole files — the
    * same file-pruning effect Liquid Clustering gives Databricks tables.
    * At 100 TB this is the difference between a point-lookup reading one
    * file and reading every file of the table.
    */
  def clusteredWrite(
      df: DataFrame,
      path: String,
      clusterCols: Seq[String],
      numFiles: Int): Unit =
    stagedWrite(df, path)(df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet)

  /** Z-order clustered write: multi-dimensional file clustering (the
    * OPTIMIZE ZORDER BY idea from the reference's Databricks notebook,
    * notebooks/databricks_data_flow.sql — re-expressed as a plain
    * Spark write). Each clustering column is scaled to a 16-bit integer
    * between its observed min/max (one aggregate pass), the bits are
    * interleaved into a Morton code, and files are range-partitioned +
    * sorted by that code. Rows close in ANY clustered dimension land in
    * few files, so single-column predicates on EITHER dimension skip
    * most files via parquet min/max stats — linear `clusteredWrite`
    * only does this for its leading column.
    *
    * Scaling is RANK-based, not min/max: each column's bucket is the
    * number of its 255 approx-quantile boundaries ≤ the value (one
    * sketch pass per write, Greenwald-Khanna under the hood), so buckets
    * are equi-DEPTH. Min/max scaling is skew-fragile — a single 1000×
    * outlier compresses every normal value into bucket 0 and that
    * dimension's bits stop discriminating; under rank scaling an outlier
    * just occupies the top bucket and the remaining 255 keep their
    * resolution. 8 bits/dimension is deliberate: pruning power is capped
    * by file count (16-256 files ⇒ 4-8 useful code bits) long before
    * 2⁸ buckets per dimension run out.
    */
  def zorderWrite(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      numFiles: Int): Unit = {
    require(zCols.size >= 2 && zCols.size <= 4, "zorder needs 2-4 columns")
    val bits = 8
    val maxv = (1 << bits) - 1
    val probs = (1 to maxv).map(_.toDouble / (maxv + 1)).toArray
    val boundaries = df.stat.approxQuantile(zCols.toArray, probs, 0.001)
    val scaled = zCols.zip(boundaries).map { case (c, qs) =>
      val qArr = array(qs.toIndexedSeq.map(lit): _*)
      // bucket = #boundaries ≤ v; nulls fold to bucket 0
      aggregate(qArr, lit(0L), (acc, q) =>
        acc + when(col(c).cast("double") >= q, lit(1L)).otherwise(lit(0L)))
    }
    val code = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (sc, ci)) =>
        a.bitwiseOR(shiftleft(shiftrightunsigned(sc, b).bitwiseAND(lit(1L)), b * zCols.size + ci))
      }
    }
    stagedWrite(df, path)(df.withColumn("__zcode", code)
      .repartitionByRange(numFiles, col("__zcode"))
      .sortWithinPartitions("__zcode")
      .drop("__zcode")
      .write.mode("overwrite").parquet)
  }

  /** Replace `path` with the staged table at `tmp`, so that a crash at
    * any point leaves a table at `path` or at `path__old`:
    *
    *  1. delete any stale `path__old`;
    *  2. rename the target to `path__old`;
    *  3. rename the staged table onto the target;
    *  4. delete `path__old`.
    *
    * A crash between 2 and 3 leaves the old table at `path__old`, which
    * [[readTarget]] renames back. A missing staged table throws before
    * anything moves; a failed step 3 moves the old table back and throws.
    * A concurrent reader can still find `path` missing between steps 2
    * and 3; a commit log (ROADMAP item 3) closes that gap.
    */
  private[exec] def swap(spark: SparkSession, tmp: String, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staged, target, old) = (new Path(tmp), new Path(path), new Path(path + "__old"))
    if (!fs.exists(staged))
      throw new FileNotFoundException(s"staged table $tmp does not exist; $path left as is")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new IOException(s"could not move $path aside to $old")
    if (!fs.rename(staged, target)) {
      if (fs.exists(old)) fs.rename(old, target)
      throw new IOException(s"could not rename staged table $tmp to $path")
    }
    fs.delete(old, true)
  }
}
