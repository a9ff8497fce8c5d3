package perfbench

import java.io.File
import graft.SparkEntry
import graft.exec.Pipeline
import graft.queries.Q
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}

object Workloads {

  /** Eight ops queries, chosen so that their build-phase jobs reach every
    * module the per-layer metrics name: q199 (a derived store and
    * `streaming`, the suite's costliest), q140 (`ops.Dedup`, `ops.Cluster`,
    * `exec.PrefixSum`), q192 (`ops.Corpus`, `ops.Mining`), q186
    * (`ops.Multimodal`, execution-heavy), q202 (`ops.ForgetOps`), q173
    * (`ops.TextOps`, `exec.PrefixSum`), q107 (`ops.Similarity`) and q110 (`ops.Sketches`).
    */
  val CurationIds: Seq[String] =
    Seq("q199", "q140", "q192", "q186", "q202", "q173", "q107", "q110")

  def curation(spark: SparkSession, dir: String, expected: Map[String, (Long, Long)]) = {
    val byId = SparkEntry.allQ.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    new Queries("curation", spark, dir, CurationIds.map(byId), expected)
  }

  /** `Bench.force`'s full-output fold, plus the row count: xxhash64 over
    * every column, XOR-folded. Output types the hash rejects fall back to
    * the row count alone, as in `Bench`.
    */
  def checksumFrame(df: DataFrame): DataFrame =
    try df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1)))
    catch { case _: AnalysisException => df.agg(lit(0L), count(lit(1))) }

  def checksum(df: DataFrame): (Long, Long) = fold(checksumFrame(df).collect()(0))

  /** The (xor, count) pair of a [[checksumFrame]] row; an empty frame folds to 0. */
  def fold(r: Row): (Long, Long) = (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))

  /** Total bytes of the regular files under `f`. */
  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A query workload: each op builds one query (`Q.fn`), plans its
  * checksum action and executes it. Every execution's checksum must equal
  * the recorded one.
  */
final class Queries(val name: String, spark: SparkSession, dir: String, qs: Seq[Q],
    expected: Map[String, (Long, Long)]) extends Workload {

  val inputBytes: Long = Workloads.du(new File(dir))

  /** A first pass: it builds the derived stores, which live under the
    * process's own `java.io.tmpdir`, and warms the JIT.
    */
  def setup(rec: Recorder): Unit = pass(0, rec)

  def pass(p: Int, rec: Recorder): Unit = qs.foreach { q =>
    rec.op(q.name) {
      val df = rec.phase("build")(q.fn(spark, dir))
      val action = rec.phase("plan") {
        val c = Workloads.checksumFrame(df)
        c.queryExecution.executedPlan
        c
      }
      check(q.name, Workloads.fold(rec.phase("exec")(action.collect()(0))))
    }
  }

  private def check(q: String, got: (Long, Long)): Unit = {
    expected.get(q) match {
      case Some(want) if want == got => ()
      case Some(want) => problems += s"$q checksum $got, expected $want"
      case None => problems += s"$q has no recorded checksum (got $got)"
    }
  }

  def storedBytes: Long = Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
    .filter(_.getName.startsWith("graft")).map(Workloads.du).sum
}

/** The paper's lifecycle, `Pipeline.run` over generated IoT seeds, as one
  * chain of runs on one warehouse. Setup is the full-refresh load of batch
  * 0. Each timed pass lands the next batch incrementally, then rebuilds the
  * same snapshot with a full refresh into a second warehouse.
  *
  * Gates: every run must build gold with all 54 checks passing, and after
  * each pass the incremental warehouse's silver and gold tables must equal
  * the full refresh's (clock columns aside).
  */
final class Medallion(spark: SparkSession, root: File, seed: Long) extends Workload {
  val name = "medallion"
  private val batches = IotSeeds.write(new File(root, "seeds"), seed, Medallion.Spec)
  private val threads = math.min(4, Runtime.getRuntime.availableProcessors())
  private val wh = new File(root, "warehouse")
  private val ref = new File(root, "full-refresh")
  private var next = 0
  private var timedInput = Seq.empty[Long]
  private var filesWritten = 0L
  private var fullRefreshS = Seq.empty[Double]

  override def more: Boolean = next < batches.size
  override def sampled(op: String): Boolean = op != "full_refresh"
  def inputBytes: Long = timedInput.sum / math.max(timedInput.size, 1)

  def setup(rec: Recorder): Unit = {
    land(rec, wh, next, fullRefresh = true)
    next += 1
  }

  def pass(p: Int, rec: Recorder): Unit = {
    val k = next
    next += 1
    timedInput :+= Workloads.du(batches(k))
    val inc = land(rec, wh, k, fullRefresh = false)
    Workloads.deleteTree(ref)
    val full = land(rec, ref, k, fullRefresh = true)
    if (!inc.ok || !full.ok) problems += s"batch $k: a pipeline run failed"
    else {
      fullRefreshS :+= full.secs
      val all = Medallion.Silver ++ Medallion.Gold
      val got = Medallion.tables(spark, wh, all)
      val want = Medallion.tables(spark, ref, all)
      if (got != want) problems += s"batch $k: incremental tables $got differ from full refresh $want"
    }
  }

  /** Runs the pipeline on batch `k` into `dir` and applies the check gate. */
  private def land(rec: Recorder, dir: File, k: Int, fullRefresh: Boolean): rec.Span = {
    val t0 = System.currentTimeMillis()
    var res: Option[Pipeline.Result] = None
    val span = rec.op(if (fullRefresh) "full_refresh" else s"batch_$k") {
      res = Some(Pipeline.run(spark, dir.getAbsolutePath, batches(k).getAbsolutePath,
        IotSeeds.config(k), fullRefresh = fullRefresh, threads = threads))
    }
    res.foreach { r =>
      if (rec.counting)
        filesWritten += Medallion.partFiles(dir).count(_.lastModified() >= t0 - 1000)
      if (!r.goldBuilt || !r.allPassed) {
        val bad = (r.silverChecks ++ r.goldChecks).filterNot(_.passed)
          .map(c => s"${c.model}:${c.test}=${c.violations}")
        problems += s"batch $k: goldBuilt=${r.goldBuilt} failed checks ${bad.mkString(", ")}"
      }
    }
    span
  }

  def storedBytes: Long = Workloads.du(wh)

  override def layerMetrics(passes: Int): Map[String, Double] = Map(
    "exec.Materializer.files_written" -> filesWritten.toDouble / passes,
    "full_refresh_s" -> Stats.median(fullRefreshS))
}

object Medallion {
  /** Batch 0 lands in setup; the rest are there for timed passes. */
  val Spec: IotSeeds.Spec = IotSeeds.Spec(devices = 40, batches = 6)
  val Silver: Seq[String] =
    Seq("int_sensor_readings_cleaned", "int_device_health", "int_alerts_enriched").map("silver/" + _)
  val Gold: Seq[String] =
    Seq("fct_hourly_metrics", "fct_device_summary", "fct_anomaly_events", "dim_devices").map("gold/" + _)

  /** Columns stamped from the run clock; they differ between an
    * incremental chain and a full refresh by design.
    */
  def clockColumn(c: String): Boolean = c.startsWith("_dbt_") || c.startsWith("_valid_")

  /** Checksum of each table, over its non-clock columns in name order. */
  def tables(spark: SparkSession, wh: File, names: Seq[String]): Map[String, (Long, Long)] =
    names.map { t =>
      val df = spark.read.parquet(new File(wh, t).getAbsolutePath)
      t -> Workloads.checksum(df.select(df.columns.filterNot(clockColumn).sorted.map(col): _*))
    }.toMap

  def partFiles(dir: File): Seq[File] =
    if (dir.isFile) { if (dir.getName.startsWith("part-")) Seq(dir) else Nil }
    else Option(dir.listFiles()).toSeq.flatten.flatMap(partFiles)
}
