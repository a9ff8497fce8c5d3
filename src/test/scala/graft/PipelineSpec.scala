package graft

import graft.exec.Pipeline
import graft.models.Medallion
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def wh(): String = tmpDir("graft_wh")

  /** `MedallionFixture.clean` written as a seed directory. */
  private def seeds(): String =
    MedallionFixture.clean.writeSeeds(tmpDir("graft_seeds"))

  test("end-to-end: seed -> bronze -> silver -> tests -> gold, all green") {
    ReferenceSeeds.assumePresent()
    val dir = wh()
    val res = Pipeline.run(spark, dir, ReferenceSeeds.dir)
    assert(res.goldBuilt)
    assert(res.allPassed)
    assert(res.silverChecks.length === 35) // 19 staging + 15 intermediate + orphan singular
    assert(res.goldChecks.length === 19)
    assert(spark.read.parquet(s"$dir/silver/int_sensor_readings_cleaned").count() === 209)
    assert(spark.read.parquet(s"$dir/gold/dim_devices").count() === 10)
    assert(spark.read.parquet(s"$dir/gold/fct_device_summary").count() === 10)
  }

  test("incremental re-run is a no-op (watermark filters everything out)") {
    val dir = wh(); val src = seeds()
    Pipeline.run(spark, dir, src)
    val before = spark.read.parquet(s"$dir/silver/int_sensor_readings_cleaned")
      .orderBy("reading_id").collect().toSeq
    val res2 = Pipeline.run(spark, dir, src) // same seeds, same frozen clock
    assert(res2.goldBuilt)
    val after = spark.read.parquet(s"$dir/silver/int_sensor_readings_cleaned")
      .orderBy("reading_id").collect().toSeq
    assert(before === after)
  }

  test("full refresh rebuilds and matches the incremental result") {
    val dir = wh(); val src = seeds()
    Pipeline.run(spark, dir, src)
    val incr = spark.read.parquet(s"$dir/silver/int_device_health")
      .orderBy("device_health_key").collect().toSeq
    Pipeline.run(spark, dir, src, fullRefresh = true)
    val full = spark.read.parquet(s"$dir/silver/int_device_health")
      .orderBy("device_health_key").collect().toSeq
    assert(incr === full)
  }

  test("conditional refresh branches on the anomaly-count scalar") {
    val dir = wh(); val src = seeds()
    // threshold 0: any anomaly forces the full-refresh branch; just assert it runs green
    Pipeline.run(spark, dir, src)
    val res = Pipeline.runWithConditionalRefresh(spark, dir, src, anomalyThreshold = 0)
    assert(res.goldBuilt)
  }

  test("forEachPlant fans out over distinct locations with bounded concurrency") {
    ReferenceSeeds.assumePresent()
    val m = Medallion.fromSeeds(spark, ReferenceSeeds.dir)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val results = Pipeline.forEachPlant(m.stgDevices) { loc =>
      seen.add(loc)
      m.fctDeviceSummary.filter(col("plant_location") === loc).count()
    }
    assert(results.map(_._1).sorted === Seq("Plant-Austin", "Plant-Chicago", "Plant-Detroit"))
    assert(results.forall(_._2.isSuccess))
    assert(results.map(_._2.get).sum === 10)
  }

  test("forEachPlant on MedallionFixture: one device-day per plant") {
    val m = MedallionFixture.clean.medallion(spark)
    val results = Pipeline.forEachPlant(m.stgDevices) { loc =>
      m.fctDeviceSummary.filter(col("plant_location") === loc).count()
    }
    assert(results.map(_._1).sorted === Seq("Plant-Austin", "Plant-Chicago", "Plant-Detroit"))
    assert(results.forall(_._2.isSuccess))
    assert(results.map(_._2.get).sum === 3) // 3 devices, all readings on 2025-01-15
  }

  test("retry retries transient failures then succeeds") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val v = Pipeline.retry(maxRetries = 3, intervalMs = 1) {
      if (attempts.incrementAndGet() < 3) sys.error("transient") else 42
    }
    assert(v === 42)
    assert(attempts.get() === 3)
    intercept[RuntimeException] {
      Pipeline.retry(maxRetries = 1, intervalMs = 1)(sys.error("always"))
    }
  }

  test("runDag: independent nodes genuinely overlap on the pool") {
    // Each body blocks until BOTH bodies have started — completes only if
    // the scheduler has the two independent nodes in flight at once. A
    // sequential scheduler would park forever; the await timeout turns
    // that into a latch failure rather than a hung suite.
    val bothStarted = new java.util.concurrent.CountDownLatch(2)
    val overlapped = new java.util.concurrent.atomic.AtomicInteger(0)
    def body(): Unit = {
      bothStarted.countDown()
      if (bothStarted.await(10, java.util.concurrent.TimeUnit.SECONDS))
        overlapped.incrementAndGet()
    }
    Pipeline.runDag(Seq(
      Pipeline.DagNode("a", Nil)(() => body()),
      Pipeline.DagNode("b", Nil)(() => body())), threads = 4)
    assert(overlapped.get() === 2, "independent models must build concurrently")
  }

  test("runDag: dependencies gate start order; unknown deps rejected; failures propagate") {
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Pipeline.runDag(Seq(
      Pipeline.DagNode("up", Nil)(() => { Thread.sleep(50); order.add("up") }),
      Pipeline.DagNode("down", Seq("up"))(() => order.add("down"))), threads = 4)
    assert(order.toArray.toSeq === Seq("up", "down"))
    intercept[IllegalArgumentException] {
      Pipeline.runDag(Seq(Pipeline.DagNode("x", Seq("missing"))(() => ())))
    }
    intercept[RuntimeException] {
      Pipeline.runDag(Seq(Pipeline.DagNode("boom", Nil)(() => sys.error("model failed"))))
    }
  }

  test("threads=1 and threads=4 lifecycles produce identical tables and checks") {
    val d1 = wh(); val d4 = wh(); val src = seeds()
    val r1 = Pipeline.run(spark, d1, src, threads = 1)
    val r4 = Pipeline.run(spark, d4, src, threads = 4)
    assert(r1 === r4)
    for (t <- Seq("silver/int_sensor_readings_cleaned", "silver/int_device_health",
        "silver/int_alerts_enriched", "gold/fct_hourly_metrics",
        "gold/fct_device_summary", "gold/fct_anomaly_events", "gold/dim_devices")) {
      val a = spark.read.parquet(s"$d1/$t")
      val b = spark.read.parquet(s"$d4/$t")
      assert(a.schema === b.schema, t)
      val cols = a.columns.toSeq.map(col)
      assert(a.orderBy(cols: _*).collect().toSeq === b.orderBy(cols: _*).collect().toSeq, t)
    }
  }

  test("lineage manifest: declared DAG matches Medallion wiring, acyclic, schemas real") {
    val m = MedallionFixture.clean.medallion(spark)
    val names = m.byName.map(_._1)
    // every model has a declared dependency entry and vice versa
    assert(graft.exec.Lineage.dependencies.keySet === names.toSet)
    // declared deps reference only models or sources
    graft.exec.Lineage.dependencies.foreach { case (model, deps) =>
      deps.foreach(d => assert(names.contains(d) || d.startsWith("source."),
        s"$model depends on unknown node $d"))
    }
    // Kahn order exists (acyclic); every model appears after its model deps
    val order = graft.exec.Lineage.topologicalOrder()
    val pos = order.zipWithIndex.toMap
    graft.exec.Lineage.dependencies.foreach { case (model, deps) =>
      deps.filter(pos.contains).foreach(d =>
        assert(pos(d) < pos(model), s"$d must precede $model"))
    }
    // manifest carries the ACTUAL resolved output columns
    val manifest = graft.exec.Lineage.manifest(m)
    assert(manifest.contains("\"reading_id\""))
    assert(manifest.contains("\"is_anomaly\""))
    assert(manifest.contains("\"materialization\":\"incremental\""))
    // a wired cycle is rejected
    intercept[IllegalArgumentException] {
      graft.exec.Lineage.topologicalOrder(Map("a" -> Seq("b"), "b" -> Seq("a")))
    }
  }

  test("SLA: duration alert fires on a slow-but-successful run, with the measured duration") {
    // fake clock: t0=0ms at entry, 901_000ms when the body completes —
    // one tick past the reference's 900 s alert threshold
    val ticks = Iterator(0L, 901000L, 901000L)
    val alerts = scala.collection.mutable.ArrayBuffer[Pipeline.SlaReport]()
    val sla = Pipeline.Sla(clock = () => ticks.next(), onAlert = alerts += _)
    val out = Pipeline.withSla("dbt_run", sla) { 42 }
    assert(out === 42, "an SLA breach alerts but still returns the result")
    assert(alerts.toSeq === Seq(Pipeline.SlaReport("dbt_run", 901000L, 900000L, timedOut = false)))
    // under-threshold run: no alert
    val quiet = scala.collection.mutable.ArrayBuffer[Pipeline.SlaReport]()
    val fast = Iterator(0L, 1000L)
    assert(Pipeline.withSla("dbt_run",
      Pipeline.Sla(clock = () => fast.next(), onAlert = quiet += _)) { 7 } === 7)
    assert(quiet.isEmpty)
  }

  test("SLA: task timeout cancels the body and raises SlaTimeoutException") {
    val alerts = scala.collection.mutable.ArrayBuffer[Pipeline.SlaReport]()
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[Pipeline.SlaTimeoutException] {
      Pipeline.withSla("stuck_model", Pipeline.Sla(timeoutMs = 200, onAlert = alerts += _)) {
        try Thread.sleep(30000)
        catch { case _: InterruptedException => interrupted.set(true); throw new RuntimeException("killed") }
      }
    }
    assert(e.report.task === "stuck_model" && e.report.timedOut)
    assert(alerts.exists(_.timedOut), "timeout also pages")
    // the body's thread actually received the interrupt (hard kill, not abandonment)
    val deadline = System.currentTimeMillis() + 5000
    while (!interrupted.get() && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(interrupted.get(), "cancel(true) must interrupt the running body")
    // body failures propagate as themselves, not wrapped in ExecutionException
    val boom = intercept[IllegalStateException] {
      Pipeline.withSla("failing_model")(throw new IllegalStateException("model failed"))
    }
    assert(boom.getMessage === "model failed")
  }

  test("CorpusRun: the one-command curation lifecycle passes every cross-stage invariant") {
    val out = tmpDir("graft-corpus-run")
    val stages = CorpusRun.run(spark, "/root/testdata/sf0.001", out)
    assert(stages.map(_.name) ===
      Seq("curation", "decontamination", "leak_repair", "packing", "ordering",
        "schedule", "selection", "fluency", "reweighting", "diversity",
        "dedup_weighting", "holdout", "crossmodal", "maintenance", "forget",
        "retention", "epoch_banding", "family_retention", "amendment",
        "schema_evolution"))
    // every stage carries its measured wall time
    stages.foreach(st => assert(st.secs > 0.0, s"stage ${st.name} missing wall time"))
    stages.foreach(st => assert(st.ok, s"stage ${st.name} failed: ${st.detail}"))
    // every stage left its artifact behind, readable
    Seq("curation_rates", "scrub_report", "leak_repair",
        "training_shards", "curriculum_manifest", "epoch_pack_order",
        "renorm_schedule", "selection_recipe", "fluency_buckets",
        "domain_weights", "diversity", "dup_weighted_mixture",
        "eval_holdout", "crossmodal_audit", "retention_audit",
        "wincur_decisions", "wincur_shards", "wincur_schedule",
        "asset_audit", "amendment_ledger", "evolved_stats").foreach { a =>
      assert(spark.read.parquet(s"$out/$a").count() > 0, s"artifact $a missing/empty")
    }
    // re-running is idempotent: marker-committed stores are reused and
    // the stage summaries are identical (wall times vary, outcomes don't).
    // The maintenance stage's delta counts legitimately differ — the
    // first pass folds the trend store's history batch into the base —
    // but its invariants (pin-clamped fold, served trend bit-identical)
    // must hold on EVERY pass.
    val again = CorpusRun.run(spark, "/root/testdata/sf0.001", out)
    assert(again.map(_.copy(secs = 0.0)).filterNot(_.name == "maintenance") ===
      stages.map(_.copy(secs = 0.0)).filterNot(_.name == "maintenance"))
    assert(again.find(_.name == "maintenance").get.ok,
      s"maintenance re-pass failed: ${again.find(_.name == "maintenance").get.detail}")
    Seq("forget", "retention", "epoch_banding", "family_retention",
        "amendment", "schema_evolution").foreach { n =>
      val st = again.find(_.name == n).get
      assert(st.ok, s"$n re-pass failed: ${st.detail}")
    }
  }
}
