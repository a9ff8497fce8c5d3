package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Peak resident set of this process, in MiB. */
  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Runs setup, the timed passes and the gates of one workload, and builds
  * the result object.
  */
final class Runner(spark: SparkSession, tracer: Tracer, wl: Workload, a: Main.Args,
    cores: Int, sessionS: Double) {

  /** Layer metrics named by module; each is reported per timed pass. */
  val JobModules: Seq[String] = Seq("Catalog") ++
    Seq("Dedup", "Mining", "Similarity", "Cluster", "Corpus", "ForgetOps", "TextOps",
      "Sketches", "Multimodal").map("ops." + _) ++
    Seq("exec.PrefixSum", "exec.Materializer", "quality.Checks", "streaming")

  private val rec = new Recorder
  private val tmpRoot = new File(sys.props("java.io.tmpdir"))

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    rec.span("setup", "setup")(wl.setup(rec))
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupFailed = rec.spans.exists(s => s.kind == "op" && !s.ok)

    tracer.drain(spark)
    val storesBefore = storeEntries
    tracer.detail = a.trace
    val busyBefore = tracer.busy
    rec.counting = true
    val windowStart = System.currentTimeMillis()
    val passes = scala.collection.mutable.ArrayBuffer[rec.Span]()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var p = 1
    while (passes.isEmpty || (System.nanoTime() < deadline && wl.more)) {
      passes += rec.span("pass", s"pass-$p") { wl.pass(p, rec); lastPass }
      p += 1
    }
    val windowEnd = System.currentTimeMillis()
    rec.counting = false
    tracer.drain(spark)
    tracer.detail = false
    val listenerNs = tracer.busy
    val storeBuilds = (storeEntries -- storesBefore).size
    val stored = wl.storedBytes

    val n = passes.size
    val timedOps = rec.spans.filter(s => s.kind == "op" && passes.exists(ps => contains(ps, s)))
    val lat = timedOps.filter(s => s.ok && wl.sampled(s.name)).map(_.secs)
    val passS = passes.map(opTime)
    val windowStages = tracer.synchronized(
      tracer.stages.filter(s => s.end >= windowStart && s.end <= windowEnd).toList)
    val written = windowStages.map(_.written).sum.toDouble / n

    val problems = wl.problems.toList ++
      (if (setupFailed) Seq("an op failed during setup") else Nil) ++
      timedOps.filterNot(_.ok).map(s => s"op ${s.name} failed in a timed pass: ${s.error}") ++
      (if (lat.isEmpty) Seq("no timed op succeeded") else Nil) ++
      (if (storeBuilds > 0) Seq(s"$storeBuilds derived stores were built in timed passes") else Nil)
    problems.distinct.take(20).foreach(p => System.err.println(s"[perfbench] FAIL $p"))

    val metrics: ListMap[String, Double] =
      if (!a.trace) ListMap(
        "setup_s" -> (sessionS + setupS),
        "pass_s" -> Stats.median(passS.toSeq),
        "op_p50_s" -> Stats.quantile(lat.toSeq, 0.5),
        "peak_rss_mb" -> Stats.peakRssMb,
        "bytes_written_per_input_byte" -> written / wl.inputBytes)
      else layers(passes.toSeq, windowStart, windowEnd, windowStages) ++ ListMap(
        "op_samples" -> lat.size.toDouble,
        "store.builds" -> storeBuilds.toDouble,
        "store.bytes" -> storeEntries.toSeq.map(p => Workloads.du(new File(p))).sum.toDouble,
        "failed_ops_ratio" -> rec.failed.toDouble / math.max(rec.attempted, 1),
        "bytes_stored_per_input_byte" -> stored.toDouble / wl.inputBytes,
        // Tracing overhead: pass_s under tracing, against pass_s of untraced
        // runs, and the listener's own time.
        "trace.pass_s" -> Stats.median(passS.toSeq),
        "trace.listener_s" -> (listenerNs - busyBefore) / 1e9 / n) ++
        Seq("exec.Materializer.files_written", "full_refresh_s")
          .map(_ -> 0.0) ++ wl.layerMetrics(n)

    a.traceOut.filter(_ => a.trace).foreach(writeTrace(_, windowStart, windowEnd))
    System.err.println(f"[perfbench] ${wl.name}: session $sessionS%.2fs, setup $setupS%.2fs, " +
      s"$n passes " + passS.map(s => f"$s%.2f").mkString(","))

    def unit(k: String): String =
      if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MiB"
      else if (k.contains("per_input_byte") || k.endsWith("ratio") || k.endsWith("util") ||
        k.endsWith("overlap")) "ratio"
      else if (k.contains("bytes")) "B" else "count"
    ListMap(
      "correct" -> problems.isEmpty,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> ListMap("value" -> (if (v.isNaN) 0.0 else v), "unit" -> unit(k))
      })
  }

  /** The pass span currently open (the innermost "pass" span). */
  private def lastPass: rec.Span = rec.spans.filter(_.kind == "pass").last

  /** A pass's own time: the sum of its successful ops, so that neither
    * verification work between ops nor a failing op is counted.
    */
  private def opTime(pass: rec.Span): Double =
    rec.spans.filter(s => s.kind == "op" && s.ok && contains(pass, s)).map(_.secs).sum

  private def contains(outer: rec.Span, inner: rec.Span): Boolean =
    inner.start >= outer.start && inner.end <= outer.end

  /** Derived-store roots: the `graft*` entries of the run's temp directory. */
  private def storeEntries: Set[String] =
    Option(tmpRoot.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft"))
      .map(_.getPath).toSet

  /** Per-layer figures over the traced passes, each per pass. */
  private def layers(passes: Seq[rec.Span], from: Long, to: Long,
      stages: List[tracer.StageRun]): ListMap[String, Double] = {
    val n = passes.size.toDouble
    val jobs = tracer.synchronized(tracer.jobs.values.filter(j => j.start >= from && j.start <= to).toList)
    val phases = rec.spans.filter(s => s.kind == "phase" && passes.exists(contains(_, s)))
    def phaseS(name: String) = phases.filter(_.name == name).map(_.secs).sum / n
    val byJob = stages.groupBy(_.job)
    def stagesOf(js: Seq[tracer.Job]) = js.flatMap(j => byJob.getOrElse(Some(j.id), Nil))
    val moduleMetrics = JobModules.flatMap { m =>
      val js = jobs.filter(_.site.contains(m))
      val base = Seq(s"$m.jobs" -> js.size / n, s"$m.job_s" -> js.map(_.secs).sum / n)
      val extra = m match {
        case "exec.Materializer" => Seq(
          "exec.Materializer.bytes_written" -> stagesOf(js).map(_.outBytes).sum / n)
        case _ => Nil
      }
      base ++ extra
    }
    // The Pipeline DAG: wall time covered by jobs launched from DAG nodes,
    // and how many of them ran at once on average.
    val dag = jobs.filter(_.dag).map(j => (j.start, j.end)).sortBy(_._1)
    val dagWall = dag.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
    }._1
    val dagBusy = dag.map { case (s, e) => e - s }.sum
    val wallMs = (to - from).toDouble
    ListMap(
      "build_s" -> phaseS("build"),
      "spark.plan_s" -> phaseS("plan"),
      "spark.exec_s" -> phaseS("exec"),
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.size / n,
      "spark.tasks" -> stages.map(_.tasks).sum / n,
      "spark.one_task_stages" -> stages.count(_.tasks == 1) / n,
      "spark.core_util" -> stages.map(_.runMs).sum / (wallMs * cores),
      "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3 / n,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> stages.map(_.spill).sum / n,
      // Catalog's own jobs read parquet footers only; the table scans run
      // inside the jobs of whoever consumes the tables, so scan volume is
      // counted over every stage.
      "spark.input_bytes" -> stages.map(_.inBytes).sum / n,
      "spark.input_records" -> stages.map(_.inRecords).sum / n) ++
      moduleMetrics ++ ListMap(
        "exec.Pipeline.dag_s" -> dagWall / 1e3 / n,
        "exec.Pipeline.dag_overlap" -> (if (dagWall > 0) dagBusy.toDouble / dagWall else 0.0))
  }

  /** Spans nest workload → pass → op → phase → Spark job; written once. */
  private def writeTrace(f: File, from: Long, to: Long): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
      rec.spans.foreach { s =>
        w.println(Main.json(ListMap("span" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> (s.start + epochOffset) / 1000000L,
          "secs" -> s.secs, "ok" -> s.ok, "error" -> s.error)))
      }
      tracer.synchronized(tracer.jobs.values.filter(j => j.start >= from && j.start <= to).toList)
        .foreach { j =>
          val startNs = j.start * 1000000L - epochOffset
          val parent = rec.spans.filter(s => s.start <= startNs && s.end >= startNs)
            .lastOption.fold(-1)(_.id)
          w.println(Main.json(ListMap("kind" -> "job", "parent" -> parent, "job" -> j.id,
            "start_ms" -> j.start,
            "secs" -> j.secs, "site" -> j.site.getOrElse(""), "dag" -> j.dag)))
        }
    } finally w.close()
  }
}
