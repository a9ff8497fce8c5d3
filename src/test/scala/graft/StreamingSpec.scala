package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.models.Staging
import graft.streaming.{CellStore, CorpusStream, DriftStream, EmbeddingStream, OrderStream, ShardStream, StreamingIngest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming specs (SURVEY §2.8 parity-plus): file-source
  * ingest driving the shared Silver upsert path, watermarked streaming
  * dedup, tumbling-window aggregation, and flatMapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  import spark.implicits._

  private val csvHeader = "reading_id,device_id,metric_name,metric_value,reading_ts,ingested_at"

  private def writeLanding(dir: String, name: String, rows: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, name),
      (csvHeader +: rows).mkString("\n").getBytes("UTF-8"))

  /** stg_devices over `MedallionFixture.clean` (DEV001-DEV003). */
  private def fixtureDevices() = Staging.stgDevices(
    MedallionFixture.frame(spark, MedallionFixture.clean.devices, Catalog.devicesSchema),
    RunConfig.frozen)

  test("file-source stream -> foreachBatch upsert: idempotent re-ingestion across batches") {
    val landing = tmpDir("graft-landing")
    val target = tmpDir("graft-silver") + "/readings"
    val checkpoint = tmpDir("graft-ckpt")
    val devices = fixtureDevices()

    writeLanding(landing, "batch1.csv", Seq(
      "R001,DEV001,temperature,72.5,2024-01-15 08:00:00,2024-01-15 08:01:00",
      "R002,DEV002,humidity,45.0,2024-01-15 08:00:00,2024-01-15 08:01:00"))
    val q1 = StreamingIngest.silverUpsertSink(
      StreamingIngest.readSensorStream(spark, landing), devices, target, checkpoint)
    q1.awaitTermination()

    val after1 = spark.read.parquet(target)
    assert(after1.count() === 2)

    // re-deliver R001 with a later ingest and changed value, plus a new row
    writeLanding(landing, "batch2.csv", Seq(
      "R001,DEV001,temperature,99.9,2024-01-15 08:00:00,2024-01-15 09:30:00",
      "R003,DEV001,pressure,1001.0,2024-01-15 09:00:00,2024-01-15 09:30:00"))
    val q2 = StreamingIngest.silverUpsertSink(
      StreamingIngest.readSensorStream(spark, landing), devices, target, checkpoint)
    q2.awaitTermination()

    val after2 = spark.read.parquet(target)
    assert(after2.count() === 3, "one row per reading_id after upsert")
    val r001 = after2.filter(col("reading_id") === "R001").collect()
    assert(r001.length === 1)
    assert(r001.head.getAs[Double]("metric_value") === 99.9f.toDouble)
    assert(r001.head.getAs[Boolean]("is_anomaly"), "99.9 exceeds the temperature threshold")
    // enrichment joined device metadata in
    assert(r001.head.getAs[String]("plant_location") !== null)
  }

  test("corpus ingest stream: gate + dedup-vs-history matches the batch pipeline and is idempotent") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-doc-landing")
    val history = tmpDir("graft-doc-hist") + "/fps"
    val checkpoint = tmpDir("graft-doc-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    // the file source lists FILES, not nested write.parquet directories —
    // land each chunk as a single moved part file
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-doc-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // two id-ordered landing files -> two micro-batches in arrival order
    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    CorpusStream.ingestSink(
      CorpusStream.readDocStream(spark, landing), history, checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    CorpusStream.ingestSink(
      CorpusStream.readDocStream(spark, landing), history, checkpoint).awaitTermination()

    // batch reference: gate-keepers, min doc_id per fingerprint. The landing
    // files are id-ranges, so first-arrival == global min and the streamed
    // store must match the batch answer EXACTLY.
    val expected = CorpusStream.gatedFingerprints(docs)
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(history).collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("doc_id")).toMap
    assert(got === expected, "streamed history must equal the batch gate+dedup result")

    // re-deliver the same content under a new file name: fp anti-join makes it a no-op
    land(docs.filter(col("doc_id") >= cut), "f3.parquet")
    CorpusStream.ingestSink(
      CorpusStream.readDocStream(spark, landing), history, checkpoint).awaitTermination()
    assert(spark.read.parquet(history).count() === expected.size,
      "re-delivered documents must not grow the history store")
  }

  test("embedding ingest stream: frozen-cluster SemDeDup matches the one-shot batch scoring") {
    import graft.streaming.EmbeddingStream
    val landing = tmpDir("graft-emb-landing")
    val history = tmpDir("graft-emb-hist") + "/vecs"
    val decisions = tmpDir("graft-emb-dec") + "/rows"
    val checkpoint = tmpDir("graft-emb-ckpt")
    val sf = "/root/testdata/sf0.001"
    val emb = Catalog.table(spark, sf, "embeddings")
    val centroidPath = ops.Similarity.buildIvfIndex(spark, sf)
    val ids = emb.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-emb-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // two id-ordered landing files -> two micro-batches in arrival order
    land(emb.filter(col("vec_id") < cut), "f1.parquet")
    EmbeddingStream.dedupSink(EmbeddingStream.readEmbStream(spark, landing),
      centroidPath, history, decisions, checkpoint).awaitTermination()
    land(emb.filter(col("vec_id") >= cut), "f2.parquet")
    EmbeddingStream.dedupSink(EmbeddingStream.readEmbStream(spark, landing),
      centroidPath, history, decisions, checkpoint).awaitTermination()

    // batch reference: the SAME shared projections applied in one shot —
    // id-ordered arrival makes streamed "earlier" == batch "lower id", so
    // verdicts, attributions, and similarities must match bit-for-bit
    val asgAll = EmbeddingStream.assignFrozen(emb, spark.read.parquet(centroidPath))
    val expected = EmbeddingStream
      .scoreBatch(asgAll, asgAll.filter(lit(false)))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Double]("max_prior_sim"),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("is_semantic_dup"))))
      .toMap
    val got = spark.read.parquet(decisions).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Double]("max_prior_sim"),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("is_semantic_dup"))))
      .toMap
    assert(got.size === ids.length, "one decision per vector, none re-emitted")
    assert(got === expected, "streamed SemDeDup must equal the one-shot batch scoring")

    // history carries every vector (dups included) so future batches see
    // the same prior set a batch run would
    assert(spark.read.parquet(history).count() === ids.length)

    // SEMANTIC AUDIT SERVED OFF THE STORE: the history rows carry label
    // and the double-cast vector, so q145's leak matrix computed from the
    // store alone must equal the batch query — zero embeddings scans
    val splits = Catalog.table(spark, sf, "documents")
      .select(col("doc_id"), graft.ops.TextOps.splitAssignment(col("text")).as("split"))
    def mRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("split_a", "split_b").collect().map(_.toSeq).toSeq
    val served = EmbeddingStream.semanticAuditFromHistory(spark, history, splits)
    assert(mRows(served) === mRows(ops.Similarity.q145.fn(spark, sf)),
      "the audit off the sink-written history must equal batch q145")
    val servedPlan = served.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!servedPlan.contains("embeddings.parquet"),
      s"the served audit must never re-read embeddings:\n$servedPlan")
  }

  test("embedding SemDeDup under OUT-OF-ORDER arrival: first-seen wins, the late lower-id twin is the dup") {
    import graft.streaming.EmbeddingStream
    val landing = tmpDir("graft-embooo-landing")
    val history = tmpDir("graft-embooo-hist") + "/vecs"
    val decisions = tmpDir("graft-embooo-dec") + "/rows"
    val checkpoint = tmpDir("graft-embooo-ckpt")
    val sf = "/root/testdata/sf0.001"
    val emb = Catalog.table(spark, sf, "embeddings")
    val centroidPath = ops.Similarity.buildIvfIndex(spark, sf)
    val ids = emb.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    val maxId = ids.last
    val x = ids.head
    // the planted HIGH-id exact twin of low vector x arrives FIRST
    val planted = emb.filter(col("vec_id") === x)
      .select(lit(maxId + 1).as("vec_id"), col("embedding"), col("label"))
    val all = emb.unionByName(planted).localCheckpoint()

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-embooo-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }
    land(all.filter(col("vec_id") >= cut), "f1.parquet")
    EmbeddingStream.dedupSink(EmbeddingStream.readEmbStream(spark, landing),
      centroidPath, history, decisions, checkpoint).awaitTermination()
    land(all.filter(col("vec_id") < cut), "f2.parquet")
    EmbeddingStream.dedupSink(EmbeddingStream.readEmbStream(spark, landing),
      centroidPath, history, decisions, checkpoint).awaitTermination()

    // first-seen reference over the arrival key, with the SAME shared
    // projections the sink applies — bit-equal sims by construction
    val cents = spark.read.parquet(centroidPath)
    val ab = when(col("vec_id") >= cut, 0).otherwise(1)
    val a = EmbeddingStream.assignFrozen(all, cents)
      .withColumn("nn", sqrt(ops.Similarity.dot(col("v"), col("v"))))
      .withColumn("ab", ab)
    val cand = a.select(col("vec_id").as("b_id"), col("cluster").as("bc"),
      col("v").as("bv"), col("nn").as("bn"), col("ab").as("ab_b"))
    val best = a.join(cand, col("cluster") === col("bc") &&
        (col("ab_b") < col("ab") ||
          (col("ab_b") === col("ab") && col("b_id") < col("vec_id"))))
      .select(col("vec_id"),
        (ops.Similarity.dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"),
        col("b_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("vec_id"), col("m.sim").as("sim"), (-col("m.nb")).as("b_id"))
    def decMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Double]("max_prior_sim"),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getAs[Boolean]("is_semantic_dup"))))
      .toMap
    val expected = decMap(a.select(col("vec_id"), col("cluster"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("sim"), lit(0.0)).as("max_prior_sim"),
        col("b_id").as("dup_of"),
        (coalesce(col("sim"), lit(0.0)) >= ops.Similarity.SemDupThreshold)
          .as("is_semantic_dup")))
    val got = decMap(spark.read.parquet(decisions)
      .select("vec_id", "cluster", "max_prior_sim", "dup_of", "is_semantic_dup"))
    assert(got === expected,
      "streamed verdicts under reversed arrival must equal the first-seen scoring")
    // the planted pair: first arrival survives, the late lower id points
    // at its first-seen twin (the old `<`-only rule let BOTH survive)
    assert(got(x)._4 === true && got(x)._3 === Some(maxId + 1),
      s"the late lower-id twin must be the duplicate: ${got(x)}")
    assert(got(maxId + 1)._3 !== Some(x),
      "the first arrival can never point at a vector it had not seen")
  }

  test("consolidated embedding curation: one assignment pass feeds dedup verdicts, occupancy cells, and the expectations split") {
    import graft.streaming.EmbeddingStream
    import graft.ops.{Dedup, Similarity}
    val landing = tmpDir("graft-ecur-landing")
    val history = tmpDir("graft-ecur-hist") + "/vecs"
    val decisions = tmpDir("graft-ecur-dec") + "/rows"
    val occ = tmpDir("graft-ecur-occ") + "/cells"
    val accepted = tmpDir("graft-ecur-acc") + "/vecs"
    val quarantine = tmpDir("graft-ecur-quar") + "/vecs"
    val checkpoint = tmpDir("graft-ecur-ckpt")
    val sf = "/root/testdata/sf0.001"
    val centroidPath = Similarity.buildIvfIndex(spark, sf)
    val tagged = Catalog.table(spark, sf, "embeddings")
      .withColumn("snapshot_id",
        Dedup.h60Col(concat(lit("ecur:"), col("vec_id").cast("string"))) % 2)
      .localCheckpoint()
    val ids = tagged.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-ecur-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    def runSink(): Unit =
      EmbeddingStream.curationSink(
        EmbeddingStream.readSnapshotEmbStream(spark, landing),
        centroidPath, history, decisions, occ, checkpoint,
        Some(accepted), Some(quarantine)).awaitTermination()
    land(tagged.filter(col("vec_id") < cut), "f1.parquet")
    runSink()
    land(tagged.filter(col("vec_id") >= cut), "f2.parquet")
    runSink()

    // dedup verdicts ≡ the one-shot batch scoring (id-ordered arrival)
    val asgAll = EmbeddingStream.assignFrozen(tagged, spark.read.parquet(centroidPath))
      .localCheckpoint()
    def dMap(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cluster", "max_prior_sim", "dup_of", "is_semantic_dup")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Double]("max_prior_sim"),
          Option(r.getAs[java.lang.Long]("dup_of")),
          r.getAs[Boolean]("is_semantic_dup"))))
      .toMap
    val expected = dMap(EmbeddingStream.scoreBatch(asgAll, asgAll.filter(lit(false))))
    assert(dMap(spark.read.parquet(decisions)) === expected,
      "consolidated verdicts must equal the one-shot batch scoring")

    // occupancy cells ≡ the batch aggregation over the same assignment
    val occServed = spark.read.parquet(occ)
      .groupBy("snapshot_id", "cluster").agg(sum(col("o")).cast("long").as("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val occExpected = asgAll
      .join(tagged.select("vec_id", "snapshot_id"), Seq("vec_id"))
      .groupBy("snapshot_id", "cluster").agg(count(lit(1)).as("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(occServed === occExpected,
      "occupancy cells must equal the batch aggregation over one frozen assignment")
    // and the drift serving path works off this sink's store too
    assert(EmbeddingStream.occupancyRegistry(spark, occ)
      .collect().map(_.getAs[Long]("snapshot_id")).toSet === Set(0L, 1L))

    // expectations split: accepted ∪ quarantine partitions the corpus
    val accIds = spark.read.parquet(accepted).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val quarRows = spark.read.parquet(quarantine).select("vec_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(accIds.intersect(quarRows.keySet).isEmpty)
    assert((accIds ++ quarRows.keySet) === ids.toSet,
      "every vector lands in exactly one store")
    assert(accIds === expected.collect { case (id, (_, _, _, false)) => id }.toSet,
      "accepted = vectors that are not semantic dups")
    assert(quarRows.values.toSet.subsetOf(Set("semantic_dup")))

    // replay pin: re-running the last batch fold is a no-op everywhere
    val occBefore = occServed
    EmbeddingStream.curationProcessBatch(tagged.filter(col("vec_id") >= cut),
      centroidPath, history, decisions, occ, 1L, Some(accepted), Some(quarantine))
    assert(dMap(spark.read.parquet(decisions)) === expected)
    assert(spark.read.parquet(occ)
      .groupBy("snapshot_id", "cluster").agg(sum(col("o")).cast("long").as("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap === occBefore,
      "a replayed consolidated batch must not move any store")
  }

  test("streaming dedup: duplicate reading_id within the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, Double, Timestamp)]
    val df = mem.toDF().toDF("reading_id", "device_id", "metric_value", "ingested_at")
    val deduped = StreamingIngest.dedupWithinWatermark(df)
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        ("R1", "D1", 1.0, Timestamp.valueOf("2024-01-15 08:00:00")),
        ("R2", "D1", 2.0, Timestamp.valueOf("2024-01-15 08:05:00")))
      q.processAllAvailable()
      mem.addData(
        ("R1", "D1", 999.0, Timestamp.valueOf("2024-01-15 08:10:00")), // dup id
        ("R3", "D1", 3.0, Timestamp.valueOf("2024-01-15 08:15:00")))
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect()
      assert(out.length === 3, s"dup must be dropped, got ${out.toSeq}")
      assert(out.count(_.getString(0) == "R1") === 1)
      // first arrival wins in streaming dedup (state holds the first R1)
      val r1 = out.find(_.getString(0) == "R1").get
      assert(r1.getAs[Double]("metric_value") === 1.0)
    } finally q.stop()
  }

  test("tumbling-window hourly aggregation finalizes when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, Double, Timestamp)]
    val df = mem.toDF().toDF("device_id", "metric_name", "metric_value", "reading_ts")
    val hourly = StreamingIngest.hourlyHealthStream(df)
    val q = hourly.writeStream.format("memory").queryName("hourly_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        ("D1", "temperature", 70.0, Timestamp.valueOf("2024-01-15 08:00:00")),
        ("D1", "temperature", 80.0, Timestamp.valueOf("2024-01-15 08:30:00")))
      q.processAllAvailable()
      // advance event time far enough that the 08:00 window closes
      // (watermark = max ts - 2h must pass 09:00)
      mem.addData(("D1", "temperature", 60.0, Timestamp.valueOf("2024-01-15 12:00:00")))
      q.processAllAvailable()
      mem.addData(("D9", "humidity", 1.0, Timestamp.valueOf("2024-01-15 13:00:00")))
      q.processAllAvailable()
      val out = spark.table("hourly_out").collect()
      val h8 = out.find(r => r.getAs[String]("device_id") == "D1" &&
        r.getAs[Timestamp]("reading_hour") == Timestamp.valueOf("2024-01-15 08:00:00"))
      assert(h8.isDefined, s"08:00 window must be finalized, got ${out.toSeq}")
      assert(h8.get.getAs[Long]("reading_count") === 2)
      assert(h8.get.getAs[Double]("avg_value") === 75.0)
      assert(h8.get.getAs[Double]("min_value") === 70.0)
      assert(h8.get.getAs[Double]("max_value") === 80.0)
    } finally q.stop()
  }

  test("session_window: gap merge within a session, close after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val sessions = StreamingIngest.sessionizeStream(df)
    val q = sessions.writeStream.format("memory").queryName("session_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2024-01-15 08:00:00")),
        (1L, Timestamp.valueOf("2024-01-15 08:20:00")), // same session (gap 20m < 30m)
        (1L, Timestamp.valueOf("2024-01-15 09:30:00"))) // new session (gap 70m)
      q.processAllAvailable()
      // push the watermark far past both sessions so they finalize
      mem.addData((2L, Timestamp.valueOf("2024-01-15 13:00:00")))
      q.processAllAvailable()
      mem.addData((3L, Timestamp.valueOf("2024-01-15 15:00:00")))
      q.processAllAvailable()
      val u1 = spark.table("session_out").filter(col("user_id") === 1)
        .orderBy("session_start").collect()
      assert(u1.length === 2, s"two sessions expected, got ${u1.toSeq}")
      assert(u1(0).getAs[Long]("n_events") === 2)
      assert(u1(0).getAs[Timestamp]("last_event_ts") === Timestamp.valueOf("2024-01-15 08:20:00"))
      assert(u1(1).getAs[Long]("n_events") === 1)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch binned range join") {
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val eMem = MemoryStream[(Long, Long, Timestamp)]
    val purchases = pMem.toDF().toDF("event_id", "user_id", "ts")
    val errors = eMem.toDF().toDF("err_event_id", "err_user_id", "err_ts")
    val joined = StreamingIngest.recentErrorsJoin(purchases, errors)
      .select("event_id", "err_event_id")
    val q = joined.writeStream.format("memory").queryName("ss_join_out")
      .outputMode(OutputMode.Append).start()
    try {
      val pRows = Seq(
        (100L, 1L, Timestamp.valueOf("2024-01-15 08:30:00")), // 30m after err 1 -> match
        (101L, 1L, Timestamp.valueOf("2024-01-15 09:30:00")), // 90m after err 1 -> no
        (102L, 2L, Timestamp.valueOf("2024-01-15 08:10:00"))) // other user
      val eRows = Seq(
        (200L, 1L, Timestamp.valueOf("2024-01-15 08:00:00")),
        (201L, 2L, Timestamp.valueOf("2024-01-15 08:10:00"))) // equal ts -> match (>=)
      pMem.addData(pRows: _*)
      eMem.addData(eRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ss_join_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the batch binned range join over the same rows must agree
      val pDf = pRows.toDF("event_id", "user_id", "ts")
      val iDf = eRows.toDF("err_event_id", "user_id", "err_start")
        .withColumn("err_end", col("err_start") + expr("INTERVAL 1 HOUR"))
      val batch = graft.ops.RangeJoin.pointInInterval(pDf, iDf,
        "user_id", "ts", "err_start", "err_end", binSeconds = 3600L)
        .select("event_id", "err_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch, s"stream=$streamed batch=$batch")
      assert(streamed === Set((100L, 200L), (102L, 201L)))
    } finally q.stop()
  }

  test("stream-static join: stream enriches from the batch dim and matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val devices = fixtureDevices()
    val mem = MemoryStream[(String, Timestamp, Double)]
    val readings = mem.toDF().toDF("device_id", "reading_ts", "temperature")
    val enriched = StreamingIngest.enrichWithDevices(readings, devices)
      .select("device_id", "plant_location", "device_type")
    val q = enriched.writeStream.format("memory").queryName("ss_static_out")
      .outputMode(OutputMode.Append).start()
    try {
      val known = devices.select("device_id").limit(2).collect().map(_.getString(0))
      val rows = Seq(
        (known(0), Timestamp.valueOf("2024-01-15 08:00:00"), 20.0),
        (known(1), Timestamp.valueOf("2024-01-15 08:01:00"), 21.0),
        ("no-such-device", Timestamp.valueOf("2024-01-15 08:02:00"), 22.0))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ss_static_out").collect()
        .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
      val batch = StreamingIngest.enrichWithDevices(
          rows.toDF("device_id", "reading_ts", "temperature"), devices)
        .select("device_id", "plant_location", "device_type").collect()
        .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2)))).toSet
      assert(streamed === batch, s"stream=$streamed batch=$batch")
      // left join: the unknown device survives with null enrichment
      assert(streamed.exists(t => t._1 == "no-such-device" && t._2.isEmpty))
    } finally q.stop()
  }

  test("transformWithState: RocksDB-backed running stats persist across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(String, Double)]
    val ds = mem.toDS().map { case (d, v) => StreamingIngest.MetricReading(d, v) }
    val q = StreamingIngest.deviceRunningStats(ds).toDF()
      .writeStream.format("memory").queryName("tws_out")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(("D1", 10.0), ("D1", 20.0), ("D2", 5.0))
      q.processAllAvailable()
      mem.addData(("D1", 15.0), ("D3", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      // batch 1 snapshots
      assert(rows.contains(("D1", 2L, 20.0)))
      assert(rows.contains(("D2", 1L, 5.0)))
      // batch 2: D1's state carried over (count 3, max still 20), D3 fresh
      assert(rows.contains(("D1", 3L, 20.0)), s"state must persist, got ${rows.toSeq}")
      assert(rows.contains(("D3", 1L, 1.0)))
    } finally {
      q.stop()
      prev match { case Some(p) => spark.conf.set(key, p); case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState timers: a device going quiet fires exactly one idle alert") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(String, Double)]
    val ds = mem.toDS().map { case (d, v) => StreamingIngest.MetricReading(d, v) }
    val q = StreamingIngest.idleDeviceAlerts(ds, idleMs = 800).toDF()
      .writeStream.format("memory").queryName("idle_out")
      .outputMode(OutputMode.Update).start()
    try {
      // NOTE: never processAllAvailable() on a ProcessingTime-timer query —
      // pending timers keep the engine scheduling batches, so quiescence
      // never arrives and the call blocks forever. Poll the sink instead.
      mem.addData(("D1", 42.0), ("D2", 7.0))
      def d1Alerts() = spark.table("idle_out").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .filter(_._1 == "D1") // D2 assertions would race its own idle timer
      val deadline = System.currentTimeMillis() + 20000
      while (d1Alerts().isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        mem.addData(("D2", 8.0)) // D2 stays chatty; D1 goes silent past 800ms
      }
      assert(d1Alerts().toSeq === Seq(("D1", 42.0, 800L)),
        "exactly one alert for the silent key, carrying its last value")
      // the alert cleared D1's state: continued silence fires nothing further
      Thread.sleep(1500)
      assert(d1Alerts().length === 1)
    } finally {
      q.stop()
      prev match { case Some(p) => spark.conf.set(key, p); case None => spark.conf.unset(key) }
    }
  }

  test("flatMapGroupsWithState: anomaly streaks persist across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingIngest.Reading]
    val streaks = StreamingIngest.anomalyStreaks(mem.toDS())
    val q = streaks.writeStream.format("memory").queryName("streak_out")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        StreamingIngest.Reading("D1", Timestamp.valueOf("2024-01-15 08:00:00"), true),
        StreamingIngest.Reading("D1", Timestamp.valueOf("2024-01-15 08:15:00"), true),
        StreamingIngest.Reading("D2", Timestamp.valueOf("2024-01-15 08:00:00"), true))
      q.processAllAvailable()
      mem.addData(
        StreamingIngest.Reading("D1", Timestamp.valueOf("2024-01-15 08:30:00"), true), // streak 3
        StreamingIngest.Reading("D2", Timestamp.valueOf("2024-01-15 08:15:00"), false), // reset
        StreamingIngest.Reading("D2", Timestamp.valueOf("2024-01-15 08:30:00"), true)) // streak 1
      q.processAllAvailable()
      val out = spark.table("streak_out").as[StreamingIngest.StreakEvent].collect()
      val d1 = out.filter(_.device_id == "D1").sortBy(_.reading_ts.getTime).map(_.streak).toSeq
      assert(d1 === Seq(1, 2, 3), s"state must carry across batches: $d1")
      val d2Last = out.filter(_.device_id == "D2").maxBy(_.reading_ts.getTime)
      assert(d2Last.streak === 1, "normal reading must reset the streak")
    } finally q.stop()
  }

  test("volume parity: sf0.01 events streamed in hourly windows equal the batch rollup") {
    // end-to-end at driver-testdata volume (10k events over ~30 days, ~3.4k
    // hourly windows): the full corpus flows through the watermarked
    // tumbling aggregation in time-ordered micro-batches, every window is
    // closed by a sentinel, and the appended output must equal the batch
    // groupBy(window) bit-for-bit (counts + fixed-point value sums — the
    // associative-exact form, since double sums are order-sensitive).
    implicit val sqlCtx = spark.sqlContext
    val ev = Catalog.table(spark, "/root/testdata/sf0.01", "events")
      .select(col("ts"), col("event_type"), col("value"))
    val rows = ev.collect()
      .map(r => (r.getTimestamp(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1.getTime)
    val mem = MemoryStream[(Timestamp, String, Option[Double])]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    def hourlyAgg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value").isNotNull,
            floor(col("value") * 10000.0).cast("long")).otherwise(0L)).as("value_fp"))
        .select(col("w.start").as("hour"), col("event_type"), col("n_events"), col("value_fp"))
    val q = hourlyAgg(stream.withWatermark("ts", "48 hours"))
      .writeStream.format("memory").queryName("vol_out")
      .outputMode(OutputMode.Append).start()
    try {
      rows.grouped(2500).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
      // two sentinel batches: the first pushes the watermark past every real
      // window, the second triggers the flush of the now-closed state
      mem.addData(Seq((Timestamp.valueOf("2024-06-01 00:00:00"), "zz_sentinel", None)))
      q.processAllAvailable()
      mem.addData(Seq((Timestamp.valueOf("2024-06-02 00:00:00"), "zz_sentinel", None)))
      q.processAllAvailable()
      val streamed = spark.table("vol_out")
        .filter(col("event_type") =!= "zz_sentinel")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val batch = hourlyAgg(ev).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed.size === batch.size, s"${batch.size} windows expected, got ${streamed.size}")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("sketch stream: micro-batch register folds equal the one-shot batch sketch, re-delivery is a no-op") {
    import graft.streaming.SketchStream
    import graft.ops.Sketches
    val landing = tmpDir("graft-hll-landing")
    val artifact = tmpDir("graft-hll-art") + "/regs"
    val checkpoint = tmpDir("graft-hll-ckpt")
    val sf = "/root/testdata/sf0.001"
    val ev = Catalog.table(spark, sf, "events")
    val ids = ev.select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-hll-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // three landing files, sink run after each -> three incremental folds
    land(ev.filter(col("event_id") < cut1), "f1.parquet")
    SketchStream.sketchSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint).awaitTermination()
    land(ev.filter(col("event_id") >= cut1 && col("event_id") < cut2), "f2.parquet")
    SketchStream.sketchSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint).awaitTermination()
    land(ev.filter(col("event_id") >= cut2), "f3.parquet")
    SketchStream.sketchSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint).awaitTermination()

    def regMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket")) -> r.getAs[Int]("r"))
      .toMap
    val batchRegs = Sketches.hllRegisters(ev, Seq("event_type"), SketchStream.userDayKey, 6)
    assert(regMap(spark.read.parquet(artifact)) === regMap(batchRegs),
      "maintained registers must equal the one-shot batch registers")

    // estimates served off the artifact are bit-equal to the batch fold
    val served = SketchStream.estimates(spark, artifact).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("hll_estimate")).toMap
    val batchEst = Sketches.hllEstimate(batchRegs, Seq("event_type"), 6).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("hll_estimate")).toMap
    assert(served === batchEst)

    // re-deliver the last chunk under a new name: register max-merge makes
    // the fold idempotent — the artifact must not change
    land(ev.filter(col("event_id") >= cut2), "f4.parquet")
    SketchStream.sketchSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint).awaitTermination()
    assert(regMap(spark.read.parquet(artifact)) === regMap(batchRegs),
      "re-delivered content must not move any register")
  }

  test("KMV stream: incremental k-min folds equal the one-shot batch sketch") {
    import graft.streaming.SketchStream
    val landing = tmpDir("graft-kmv-landing")
    val artifact = tmpDir("graft-kmv-art") + "/sk"
    val checkpoint = tmpDir("graft-kmv-ckpt")
    val sf = "/root/testdata/sf0.001"
    val ev = Catalog.table(spark, sf, "events")
    val ids = ev.select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-kmv-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(ev.filter(col("event_id") < cut), "f1.parquet")
    SketchStream.kmvSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint, k = 64).awaitTermination()
    land(ev.filter(col("event_id") >= cut), "f2.parquet")
    SketchStream.kmvSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint, k = 64).awaitTermination()

    val batch = ev
      .select(col("event_type"), ops.Dedup.h60Col(SketchStream.userDayKey).as("h"))
      .groupBy("event_type")
      .agg(functions.KmvMin.kmvMin(64)(col("h")).as("mins"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getSeq[Long](1)).toMap
    val got = spark.read.parquet(artifact).collect()
      .map(r => r.getAs[String]("event_type") -> r.getSeq[Long](1)).toMap
    assert(got === batch, "maintained KMV sketches must equal the one-shot batch sketches")
  }

  test("KMV overlap served off the maintained artifact equals q110's in-query estimates") {
    import graft.streaming.SketchStream
    val landing = tmpDir("graft-kmvov-landing")
    val artifact = tmpDir("graft-kmvov-art") + "/sk"
    val checkpoint = tmpDir("graft-kmvov-ckpt")
    val sf = "/root/testdata/sf0.001"
    val ev = Catalog.table(spark, sf, "events")
    val ids = ev.select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-kmvov-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // stream the SAME corpus q110 queries, at q110's k, in two chunks
    land(ev.filter(col("event_id") < cut), "f1.parquet")
    SketchStream.kmvSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint, k = ops.Sketches.KmvK).awaitTermination()
    land(ev.filter(col("event_id") >= cut), "f2.parquet")
    SketchStream.kmvSink(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint, k = ops.Sketches.KmvK).awaitTermination()

    def estMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Double]("kmv_union_est"), r.getAs[Double]("kmv_jaccard"),
          r.getAs[Double]("kmv_inter_est")))).toMap
    val served = estMap(SketchStream.overlapFromArtifact(spark, artifact))
    val inQuery = estMap(ops.Sketches.q110.fn(spark, sf)
      .select("type_a", "type_b", "kmv_union_est", "kmv_jaccard", "kmv_inter_est"))
    // bit-equal doubles: both paths run Sketches.kmvPairEstimates over
    // identical folded sketches
    assert(served === inQuery,
      "artifact-served overlap estimates must equal q110's in-query estimates")
  }

  test("partitioned register artifact: fold equals batch, one-group serving prunes to one partition") {
    import graft.streaming.SketchStream
    import graft.ops.Sketches
    val landing = tmpDir("graft-hllp-landing")
    val artifact = tmpDir("graft-hllp-art") + "/regs"
    val checkpoint = tmpDir("graft-hllp-ckpt")
    val sf = "/root/testdata/sf0.001"
    val ev = Catalog.table(spark, sf, "events")
    val ids = ev.select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-hllp-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(ev.filter(col("event_id") < cut), "f1.parquet")
    SketchStream.sketchSinkPartitioned(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint).awaitTermination()
    land(ev.filter(col("event_id") >= cut), "f2.parquet")
    SketchStream.sketchSinkPartitioned(SketchStream.readEventStream(spark, landing),
      artifact, checkpoint).awaitTermination()

    // the partitioned fold carries the same registers as the batch build
    def regMap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("bucket"), col("r").cast("int"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket")) -> r.getInt(2))
      .toMap
    val batchRegs = Sketches.hllRegisters(ev, Seq("event_type"), SketchStream.userDayKey, 6)
    assert(regMap(spark.read.parquet(artifact)) === regMap(batchRegs))

    // serving one group: the scan prunes to that group's partition — the
    // probe that estimate-serving touches ONLY artifact register rows
    val group = ev.select("event_type").distinct().orderBy("event_type")
      .head().getString(0)
    val served = SketchStream.estimateFor(spark, artifact, group)
    // inputFiles reports the UNPRUNED file index, so probe the physical
    // scan: the group equality must land in PartitionFilters (directory
    // pruning — one event_type=… partition listed, not filtered rows),
    // and the read schema must be the register column alone
    val plan = served.queryExecution.executedPlan.toString
    assert(raw"PartitionFilters: \[[^\]]*event_type#\d+ = $group".r
        .findFirstIn(plan).isDefined,
      s"group equality must prune as a partition filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<r:int>"),
      s"serving must read only the register rows of the artifact:\n$plan")

    // and the served value is the production (corrected) batch estimate
    val expected = Sketches.hllEstimateCorrected(
      batchRegs.filter(col("event_type") === group), Seq("event_type"), 6)
      .head().getAs[Double]("hll_corrected")
    assert(served.head().getAs[Double]("hll_corrected") == expected)
  }

  test("shard manifest stream: per-batch delta folds equal batch q123; replayed deltas are no-ops") {
    import graft.streaming.ShardStream
    val landing = tmpDir("graft-shard-landing")
    val deltas = tmpDir("graft-shard-art") + "/deltas"
    val checkpoint = tmpDir("graft-shard-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-shard-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // three landing files, sink run after each -> three delta partitions
    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    ShardStream.manifestStore(deltas).sink(ShardStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    ShardStream.manifestStore(deltas).sink(ShardStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    ShardStream.manifestStore(deltas).sink(ShardStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def maniMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("shard_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"),
          r.getAs[Long]("checksum"), r.getAs[Long]("min_doc_id"),
          r.getAs[Long]("max_doc_id"))))
      .toMap
    // the folded deltas must equal the one-shot batch manifest (q123):
    // every manifest column is an associative-commutative merge
    val batch = maniMap(ops.Mining.q123.fn(spark, sf))
    assert(maniMap(ShardStream.manifestFromDeltas(spark, deltas)) === batch,
      "served manifest must equal batch q123 over the landed corpus")

    // replay pin: foreachBatch is at-least-once — re-writing the SAME
    // batchId delta overwrites its partition, so XOR/SUM never double-fold
    val replay = docs.filter(col("doc_id") < cut1)
    ShardStream.manifestStore(deltas).land(replay, 0L)
    ShardStream.manifestStore(deltas).land(replay, 0L)
    assert(maniMap(ShardStream.manifestFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the served manifest")

    // retention pin: folding old deltas into the base reassociates the
    // same algebra — the served manifest must not move, and the store
    // must shrink to base + the still-replayable tail
    ShardStream.manifestStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(maniMap(ShardStream.manifestFromDeltas(spark, deltas)) === batch,
      "compaction must not move the served manifest")
  }

  test("curriculum cell stream: folded deltas serve the exact batch q151 manifest; replay and compaction are no-ops") {
    import graft.streaming.OrderStream
    val landing = tmpDir("graft-order-landing")
    val deltas = tmpDir("graft-order-art") + "/deltas"
    val checkpoint = tmpDir("graft-order-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-order-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    OrderStream.curriculumStore(deltas).sink(OrderStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    OrderStream.curriculumStore(deltas).sink(OrderStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    OrderStream.curriculumStore(deltas).sink(OrderStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def maniMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("phase"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("first_pos"), r.getAs[Long]("last_pos"))))
      .toMap
    val batch = maniMap(ops.Mining.q151.fn(spark, sf))
    assert(maniMap(OrderStream.manifestFromDeltas(spark, deltas)) === batch,
      "served manifest must equal batch q151 over the landed corpus")

    // serving reads the delta store only — never corpus text
    val servedPlan = OrderStream.manifestFromDeltas(spark, deltas)
      .queryExecution.executedPlan.toString
    assert(!servedPlan.contains("documents.parquet"),
      s"manifest serving must not rescan documents:\n$servedPlan")

    // replay pin: SUM cells are not idempotent — the per-batchId
    // overwrite is what makes a re-delivered batch a no-op
    val replay = docs.filter(col("doc_id") < cut1)
    OrderStream.curriculumStore(deltas).land(replay, 0L)
    OrderStream.curriculumStore(deltas).land(replay, 0L)
    assert(maniMap(OrderStream.manifestFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the served manifest")

    // retention pin: folding old deltas into the base reassociates the
    // same SUM algebra — the served manifest must not move
    OrderStream.curriculumStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(maniMap(OrderStream.manifestFromDeltas(spark, deltas)) === batch,
      "compaction must not move the served manifest")

    // arrival-order invariance: cells are commutative SUMs with no
    // first-seen semantics, so REVERSED chunk delivery must serve the
    // identical manifest (no reconciliation pass needed — unlike the
    // fp/band stores, where ownership depends on arrival order)
    val landing2 = tmpDir("graft-order-landing2")
    val deltas2 = tmpDir("graft-order-art2") + "/deltas"
    val checkpoint2 = tmpDir("graft-order-ckpt2")
    def land2(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-order-stage2")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing2, name))
    }
    Seq(
      docs.filter(col("doc_id") >= cut2) -> "r1.parquet",
      docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2) -> "r2.parquet",
      docs.filter(col("doc_id") < cut1) -> "r3.parquet"
    ).foreach { case (chunk, name) =>
      land2(chunk, name)
      OrderStream.curriculumStore(deltas2).sink(OrderStream.readDocStream(spark, landing2),
        checkpoint2).awaitTermination()
    }
    assert(maniMap(OrderStream.manifestFromDeltas(spark, deltas2)) === batch,
      "reversed arrival order must serve the identical manifest")
  }

  test("renorm mass-cell stream: folded per-source masses serve the exact batch q158 segment manifest; replay and compaction are no-ops") {
    import graft.streaming.OrderStream
    val landing = tmpDir("graft-mass-landing")
    val deltas = tmpDir("graft-mass-art") + "/deltas"
    val checkpoint = tmpDir("graft-mass-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-mass-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    OrderStream.massStore(deltas).sink(OrderStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    OrderStream.massStore(deltas).sink(OrderStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    OrderStream.massStore(deltas).sink(OrderStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def segMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("seg_idx") ->
        ((r.getAs[Long]("first_cycle"), r.getAs[Long]("end_cycle"),
          r.getAs[Long]("len_cycle"), r.getAs[Long]("n_active"),
          r.getAs[Long]("first_slot"), r.getAs[Long]("n_slots"))))
      .toMap
    val batch = segMap(ops.Mining.q158.fn(spark, sf))
    assert(segMap(OrderStream.segmentManifestFromDeltas(spark, deltas)) === batch,
      "served segment manifest must equal batch q158 over the landed corpus")

    // serving folds ≤|sources| cell rows — never corpus text
    val servedPlan = OrderStream.segmentManifestFromDeltas(spark, deltas)
      .queryExecution.executedPlan.toString
    assert(!servedPlan.contains("documents.parquet"),
      s"segment-manifest serving must not rescan documents:\n$servedPlan")

    // replay: per-batchId overwrite keeps SUM cells idempotent
    val replay = docs.filter(col("doc_id") < cut1)
    OrderStream.massStore(deltas).land(replay, 0L)
    OrderStream.massStore(deltas).land(replay, 0L)
    assert(segMap(OrderStream.segmentManifestFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the served manifest")

    // retention: the fold algebra is the serving algebra
    OrderStream.massStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(segMap(OrderStream.segmentManifestFromDeltas(spark, deltas)) === batch,
      "compaction must not move the served manifest")
  }

  test("classifier-eval cell stream: folded cells serve the exact batch q163 table; replay and compaction are no-ops") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-eval-landing")
    val deltas = tmpDir("graft-eval-art") + "/deltas"
    val checkpoint = tmpDir("graft-eval-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-eval-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    CorpusStream.evalStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CorpusStream.evalStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    CorpusStream.evalStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def tblMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("band") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"),
          r.getAs[Long]("keep_rate_bp"), r.getAs[Long]("cum_docs"),
          r.getAs[Long]("cum_keep"), r.getAs[Long]("cum_precision_bp"),
          r.getAs[Long]("cum_recall_bp"))))
      .toMap
    val batch = tblMap(ops.Mining.q163.fn(spark, sf))
    assert(tblMap(CorpusStream.evalTableFromDeltas(spark, deltas)) === batch,
      "served eval table must equal batch q163 over the landed corpus")

    // serving folds <=|bands|+1 cell rows — never corpus text
    val servedPlan = CorpusStream.evalTableFromDeltas(spark, deltas)
      .queryExecution.executedPlan.toString
    assert(!servedPlan.contains("documents.parquet"),
      s"eval-table serving must not rescan documents:\n$servedPlan")

    // replay: per-batchId overwrite keeps SUM cells idempotent
    val replay = docs.filter(col("doc_id") < cut1)
    CorpusStream.evalStore(deltas).land(replay, 0L)
    CorpusStream.evalStore(deltas).land(replay, 0L)
    assert(tblMap(CorpusStream.evalTableFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the served table")

    // retention: the fold algebra is the serving algebra
    CorpusStream.evalStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(tblMap(CorpusStream.evalTableFromDeltas(spark, deltas)) === batch,
      "compaction must not move the served table")
  }

  test("MW loss-cell stream: the reweighting table off folded cells equals batch q175; replay and compaction are no-ops") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-mw-landing")
    val deltas = tmpDir("graft-mw-art") + "/deltas"
    val checkpoint = tmpDir("graft-mw-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-mw-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    CorpusStream.mwStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CorpusStream.mwStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    CorpusStream.mwStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def tblMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("mean_cpt_fp"),
          r.getAs[Long]("excess_bp"), r.getAs[Long]("w1_ppm"),
          r.getAs[Long]("w2_ppm"), r.getAs[Long]("w3_ppm"),
          r.getAs[Long]("w4_ppm"), r.getAs[Long]("docs_alloc"))))
      .toMap
    val batch = tblMap(ops.Mining.q175.fn(spark, sf))
    assert(tblMap(CorpusStream.reweightingFromDeltas(spark, deltas)) === batch,
      "served reweighting table must equal batch q175 over the landed corpus")

    // serving folds <=|sources| cell rows per batch — never corpus text
    val servedPlan = CorpusStream.reweightingFromDeltas(spark, deltas)
      .queryExecution.executedPlan.toString
    assert(!servedPlan.contains("documents.parquet"),
      s"reweighting serving must not rescan documents:\n$servedPlan")

    // replay: per-batchId overwrite keeps SUM cells idempotent
    val replay = docs.filter(col("doc_id") < cut1)
    CorpusStream.mwStore(deltas).land(replay, 0L)
    CorpusStream.mwStore(deltas).land(replay, 0L)
    assert(tblMap(CorpusStream.reweightingFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the served table")

    // retention: the fold algebra is the serving algebra
    CorpusStream.mwStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(tblMap(CorpusStream.reweightingFromDeltas(spark, deltas)) === batch,
      "compaction must not move the served table")
  }

  test("selection feature-cell stream: the ratio table off folded cells scores exactly like batch q164; replay and compaction are no-ops") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-feat-landing")
    val deltas = tmpDir("graft-feat-art") + "/deltas"
    val checkpoint = tmpDir("graft-feat-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-feat-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    CorpusStream.featureStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CorpusStream.featureStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    CorpusStream.featureStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def scoreMap(ratio: Map[Long, Long]) = ops.Mining
      .applyRatio(ops.Mining.bigramBuckets(docs), ratio)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("score_sum"),
          r.getAs[Long]("score_mean_fp")))).toMap
    val batch = ops.Mining.q164.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("score_sum"),
          r.getAs[Long]("score_mean_fp")))).toMap
    assert(scoreMap(CorpusStream.ratioFromDeltas(spark, deltas)) === batch,
      "scoring with the streamed-trained ratio table must equal batch q164")

    // replay: per-batchId overwrite keeps SUM cells idempotent
    val replay = docs.filter(col("doc_id") < cut1)
    CorpusStream.featureStore(deltas).land(replay, 0L)
    CorpusStream.featureStore(deltas).land(replay, 0L)
    assert(scoreMap(CorpusStream.ratioFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the trained table")

    // retention: the fold algebra is the serving algebra
    CorpusStream.featureStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(scoreMap(CorpusStream.ratioFromDeltas(spark, deltas)) === batch,
      "compaction must not move the trained table")

    // the SAME (compacted) store serves both q169 release tables:
    // scoring with them reproduces the batch rotation frame per doc
    val (rt1, rt2) = CorpusStream.releaseRatiosFromDeltas(spark, deltas)
    def served(rt: Map[Long, Long]) = ops.Mining
      .applyRatio(ops.Mining.bigramBuckets(docs), rt)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_sum")).toMap
    val (s1Served, s2Served) = (served(rt1), served(rt2))
    ops.Mining.releaseDeltaScores(spark, sf).collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(s1Served(id) === r.getAs[Long]("s1"),
        s"doc $id: served v1 table must reproduce the batch rotation frame")
      assert(s2Served(id) === r.getAs[Long]("s2"),
        s"doc $id: served v2 table must reproduce the batch rotation frame")
    }
  }

  test("bigram novelty served off the release-pinned LM store equals batch q183") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-nov-landing")
    val deltas = tmpDir("graft-nov-art") + "/deltas"
    val checkpoint = tmpDir("graft-nov-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    // q183's release boundary: the v1 model is everything below max/2
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-nov-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // batch 0 = the v1 release, batch 1 = the new half
    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    CorpusStream.lmStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    CorpusStream.lmStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def tblMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val batch = tblMap(ops.TextOps.q183.fn(spark, sf))
    // the v1 vocabulary is the release pin upto = 0: batch 1 never folds
    assert(tblMap(CorpusStream.noveltyFromDeltas(spark, deltas, docs, cut, upto = 0L))
      === batch,
      "novelty off the release-pinned store must equal batch q183")
    // pinning at the full store instead makes every post-cut bigram known
    val full = CorpusStream.noveltyFromDeltas(spark, deltas, docs, cut)
      .agg(sum(col("n_new_instances"))).head().getLong(0)
    assert(full === 0L, "against its own release, nothing is novel")
  }

  test("bigram-LM cell stream: served fluency and tertile buckets equal batch q101/q170; replay and compaction are no-ops") {
    import graft.streaming.CorpusStream
    import graft.ops.TextOps
    val landing = tmpDir("graft-lm-landing")
    val deltas = tmpDir("graft-lm-art") + "/deltas"
    val checkpoint = tmpDir("graft-lm-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-lm-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    CorpusStream.lmStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CorpusStream.lmStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    CorpusStream.lmStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def servedMap() = CorpusStream.fluencyFromDeltas(spark, deltas, docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_fp")))).toMap
    val batch = TextOps.fluencyScored(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_fp")))).toMap
    assert(servedMap() === batch,
      "scores off the streamed-trained count table must equal batch q101 exactly")

    // the downstream tertile cut is a pure function of the scored frame:
    // served scores reproduce the whole q170 bucket table
    val servedBuckets = TextOps.tertileBuckets(
        CorpusStream.fluencyFromDeltas(spark, deltas, docs))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket"),
        r.getAs[Long]("src_rank"), r.getAs[Boolean]("kept"))).toSeq
    val batchBuckets = TextOps.q170.fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket"),
        r.getAs[Long]("src_rank"), r.getAs[Boolean]("kept"))).toSeq
    assert(servedBuckets === batchBuckets,
      "tertile buckets off served scores must equal batch q170")

    // release pinning: batches <= 1 are the docs below cut2, so the
    // pinned table must score exactly like a batch model trained on them
    val pinned = CorpusStream.fluencyFromDeltas(spark, deltas, docs,
        upto = 1L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_fp")))).toMap
    val v1Batch = TextOps.fluencyScoredFromCounts(docs,
        Some(TextOps.bigramRows(docs.filter(col("doc_id") < cut2))
          .groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c12"))))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_fp")))).toMap
    assert(pinned === v1Batch,
      "a release-pinned table must equal the batch model trained on those landings")

    // replay: per-batchId overwrite keeps SUM cells idempotent
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") < cut1), 0L)
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") < cut1), 0L)
    assert(servedMap() === batch,
      "a replayed delta write must not move the count table")

    // retention: the fold algebra is the serving algebra
    CorpusStream.lmStore(deltas).compact(spark, upto = 1L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(servedMap() === batch,
      "compaction must not move the count table")
  }

  test("image band stream: phash signatures ride the text band store unchanged; streamed keep-earliest equals batch") {
    import graft.streaming.LshStream
    import graft.ops.Multimodal
    val landing = tmpDir("graft-phash-landing")
    val index = tmpDir("graft-phash-art") + "/index"
    val decisions = tmpDir("graft-phash-art2") + "/decisions"
    val checkpoint = tmpDir("graft-phash-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-phash-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint, Multimodal.phashBandFamily).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint, Multimodal.phashBandFamily).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint, Multimodal.phashBandFamily).awaitTermination()

    def decMap() = LshStream.decisions(spark, decisions).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_earlier"), Option(r.get(r.fieldIndex("dup_of")))
          .map(_.asInstanceOf[Long]), r.getAs[Boolean]("is_band_dup"))))
      .toMap
    // batch anchor: the same keep-earliest rule over the full corpus's
    // image bands in one pass
    val allBands = Multimodal.phashBands(docs)
    val batch = graft.ops.Dedup.keepEarliestVerdicts(docs.select("doc_id"),
        graft.ops.Dedup.firstSeenBandPartners(allBands, allBands.filter(lit(false))))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_earlier"), Option(r.get(r.fieldIndex("dup_of")))
          .map(_.asInstanceOf[Long]), r.getAs[Boolean]("is_band_dup"))))
      .toMap
    assert(decMap() === batch,
      "streamed image keep-earliest must equal the batch computation")
    // the planted families surface through the store: every non-first
    // family variant is flagged with an earlier partner (bands 2-3 are
    // family-invariant, so recall is structural; variant-0 docs may still
    // collide across families — 15-bit buckets at this corpus size — so
    // only the batch equality above constrains them)
    val nDocs = ids.length
    decMap().foreach { case (id, (_, dupOf, isDup)) =>
      if (id < (nDocs / 4) * 4 && id % 4 != 0) {
        assert(isDup, s"doc $id is a planted image near-dup")
        assert(dupOf.exists(_ < id), s"doc $id must point at an earlier doc, got $dupOf")
      }
    }
    // replay: per-batchId overwrite keeps both stores idempotent
    LshStream.processBatch(docs.filter(col("doc_id") < cut1), index, decisions, 0L,
      Multimodal.phashBandFamily)
    assert(decMap() === batch, "a replayed batch must not move the decisions")

    // PER-MODALITY config markers: the image store persisted the phash
    // family's own fingerprint — a landing or windowed serve under
    // another family's constants (text minhash here) merges without
    // structural error and silently misses every cross-config duplicate,
    // so both refuse loudly
    assert(new java.io.File(index, "_band_conf").exists(),
      "the first landing must persist the modality's own band config")
    assert(intercept[IllegalStateException] {
      LshStream.processBatch(docs.filter(col("doc_id") < cut1), index,
        decisions, 3L) // default = text family
    }.getMessage.contains("banding configuration"),
      "a text-family landing into the image store must refuse")
    assert(intercept[IllegalStateException] {
      LshStream.windowedDecisions(spark, index, docs.select("doc_id"),
        lo = 0L) // default text conf against the image store
    }.getMessage.contains("banding configuration"),
      "a windowed serve under another family's config must refuse")
    // the RIGHT config serves: one in-window election over the image
    // bands equals the batch anchor
    val win = LshStream.windowedDecisions(spark, index, docs.select("doc_id"),
        lo = 0L, conf = Multimodal.phashBandConfigFingerprint)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_earlier"), Option(r.get(r.fieldIndex("dup_of")))
          .map(_.asInstanceOf[Long]), r.getAs[Boolean]("is_band_dup"))))
      .toMap
    assert(win === batch,
      "the windowed election under the right config must equal the batch anchor")
  }

  test("audio probe stream: envelope codes ride the band store; streamed keep-earliest equals batch and q176") {
    import graft.streaming.LshStream
    import graft.ops.Multimodal
    val landing = tmpDir("graft-audio-landing")
    val index = tmpDir("graft-audio-art") + "/index"
    val decisions = tmpDir("graft-audio-art2") + "/decisions"
    val checkpoint = tmpDir("graft-audio-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-audio-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint, Multimodal.audioBandFamily).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint, Multimodal.audioBandFamily).awaitTermination()

    def decMap() = LshStream.decisions(spark, decisions).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_earlier"), Option(r.get(r.fieldIndex("dup_of")))
          .map(_.asInstanceOf[Long]), r.getAs[Boolean]("is_band_dup"))))
      .toMap
    val allBands = Multimodal.audioBands(docs)
    val batch = graft.ops.Dedup.keepEarliestVerdicts(docs.select("doc_id"),
        graft.ops.Dedup.firstSeenBandPartners(allBands, allBands.filter(lit(false))))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_earlier"), Option(r.get(r.fieldIndex("dup_of")))
          .map(_.asInstanceOf[Long]), r.getAs[Boolean]("is_band_dup"))))
      .toMap
    assert(decMap() === batch,
      "streamed audio keep-earliest must equal the batch computation")
    // on this fixture a 48-bit code match is the verified verdict: the
    // band store's dup flag must agree with q176's L1-verified keep
    val verified = Multimodal.audioReport(Multimodal.audioCodes(docs)).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    decMap().foreach { case (id, (_, _, isDup)) =>
      assert(isDup === !verified(id),
        s"doc $id: band verdict must match the verified q176 verdict")
    }

    // the serving-time L1 verify is a no-op on the collision-free
    // fixture (every band match is a true near-dup)...
    def vMap(dir: String) = Multimodal.audioDecisionsVerified(spark, dir, docs)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_earlier"), Option(r.get(r.fieldIndex("dup_of")))
          .map(_.asInstanceOf[Long]), r.getAs[Boolean]("is_band_dup"))))
      .toMap
    assert(vMap(decisions) === batch,
      "the L1 verify must not move a single verdict on the collision-free fixture")

    // the audio store carries the AUDIO family's own config marker:
    // an image-family (or text-family) landing refuses loudly
    assert(intercept[IllegalStateException] {
      LshStream.processBatch(docs.filter(col("doc_id") < cut), index,
        decisions, 2L, Multimodal.phashBandFamily)
    }.getMessage.contains("banding configuration"),
      "an image-family landing into the audio store must refuse")

    // ...and CLEARS a planted cross-family code collision: fabricate a
    // decision row marking two unrelated docs as band-dups — exactly what
    // a 2⁻⁴⁸ collision would write — and the verified read must flip it
    val nonDups = batch.filter(!_._2._3).keys.toSeq.sorted
    val (aId, bId) = (nonDups.head, nonDups.last)
    val forged = tmpDir("graft-audio-forged") + "/decisions"
    LshStream.decisions(spark, decisions)
      .withColumn("n_earlier",
        when(col("doc_id") === bId, lit(1L)).otherwise(col("n_earlier")))
      .withColumn("dup_of",
        when(col("doc_id") === bId, lit(aId)).otherwise(col("dup_of")))
      .withColumn("is_band_dup",
        when(col("doc_id") === bId, lit(true)).otherwise(col("is_band_dup")))
      .write.mode("overwrite").parquet(s"$forged/batch_id=0")
    val cleared = vMap(forged)
    assert(!cleared(bId)._3 && cleared(bId)._2.isEmpty,
      "a forged collision pair failing the L1 gate must be cleared at serving")
    assert(cleared - bId === batch - bId,
      "clearing a collision must not disturb any other verdict")
  }

  test("diversity cell stream: the q178 table off folded cells equals batch; replay and compaction are no-ops") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-div-landing")
    val dims = tmpDir("graft-div-art") + "/dims"
    val stats = tmpDir("graft-div-art2") + "/stats"
    val checkpoint = tmpDir("graft-div-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-div-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    CellStore.sink(CorpusStream.divStores(dims, stats), CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CellStore.sink(CorpusStream.divStores(dims, stats), CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    CellStore.sink(CorpusStream.divStores(dims, stats), CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def tblMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_sq"),
          r.getAs[Long]("cent_sq"), r.getAs[Long]("diversity_fp"),
          r.getAs[Long]("centroid_sq_fp"))))
      .toMap
    val batch = tblMap(ops.Similarity.q178.fn(spark, sf))
    assert(tblMap(CorpusStream.diversityFromDeltas(spark, dims, stats)) === batch,
      "served diversity table must equal batch q178 over the landed corpus")

    // replay: per-batchId overwrite keeps both stores idempotent
    CellStore.land(docs.filter(col("doc_id") < cut1), 0L, CorpusStream.divStores(dims, stats))
    CellStore.land(docs.filter(col("doc_id") < cut1), 0L, CorpusStream.divStores(dims, stats))
    assert(tblMap(CorpusStream.diversityFromDeltas(spark, dims, stats)) === batch,
      "a replayed delta write must not move the served table")

    // a snapshot pin serves diversity AS OF an earlier landing: the
    // upto = 0 fold must equal the batch metric over chunk 1 alone
    val pinned = tblMap(CorpusStream.diversityFromDeltas(spark, dims, stats, upto = 0L))
    val chunk1 = tblMap(ops.Similarity.diversityOf(docs.filter(col("doc_id") < cut1)))
    assert(pinned === chunk1, "the snapshot pin must replay the first landing's metric")

    // retention: the fold algebra is the serving algebra, on both stores
    CorpusStream.divStores(dims, stats).foreach(_.compact(spark, upto = 1L))
    assert(tblMap(CorpusStream.diversityFromDeltas(spark, dims, stats)) === batch,
      "compaction must not move the served table")
  }

  test("a diversity landing guards its stat store: the cell schema registers, and a replay of a batch folded into the stat store alone is refused") {
    import graft.streaming.StoreCompaction
    val docs = Catalog.table(spark, "/root/testdata/sf0.001", "documents")
    val root = tmpDir("graft-div-guard")
    val (dims, stats) = (s"$root/dims", s"$root/stats")
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    val first = docs.filter(col("doc_id") < cut)
    CellStore.land(first, 0L, CorpusStream.divStores(dims, stats))
    CellStore.land(docs.filter(col("doc_id") >= cut), 1L, CorpusStream.divStores(dims, stats))
    assert(StoreCompaction.cellSchemaOf(stats).isDefined,
      "the stat store must register its cell schema like every landing")
    // maintenance folds batch 0 into the stat store's base alone; a
    // replay of batch 0 would double-count beside the folded rows
    StoreCompaction.foldInto(spark, stats, upto = 0L)(identity)
    val ex = intercept[IllegalStateException] {
      CellStore.land(first, 0L, CorpusStream.divStores(dims, stats))
    }
    assert(ex.getMessage.contains("keepLatestDeltas") && ex.getMessage.contains(stats),
      s"the replay must refuse on the folded stat store: ${ex.getMessage}")
  }

  test("every CellStore declaration keeps the store laws: a replay changes nothing, compaction keeps pinned serves, the full window equals the unpinned serve, and whole-wave erasure equals landing only the survivors") {
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
      .withColumn("snapshot_id", col("doc_id") % 2).localCheckpoint()
    val vecs = Catalog.table(spark, sf, "embeddings")
      .withColumn("snapshot_id", col("vec_id") % 2).localCheckpoint()
    val centroidPath = ops.Similarity.buildIvfIndex(spark, sf)
    // (name, the declaration under a root, its input, the id column,
    // whether the store is an erasure target) — a new store is one row
    val laws: Seq[(String, String => Seq[CellStore], org.apache.spark.sql.DataFrame,
        String, Boolean)] = Seq(
      ("eval", r => Seq(CorpusStream.evalStore(r)), docs, "doc_id", true),
      ("feature", r => Seq(CorpusStream.featureStore(r)), docs, "doc_id", true),
      ("lm", r => Seq(CorpusStream.lmStore(r)), docs, "doc_id", true),
      ("mw", r => Seq(CorpusStream.mwStore(r)), docs, "doc_id", true),
      ("div", r => CorpusStream.divStores(s"$r/dims", s"$r/stats"), docs, "doc_id", true),
      ("kanon", r => Seq(CorpusStream.kAnonStore(r)), docs, "doc_id", true),
      ("span", r => Seq(CorpusStream.spanStore(r)), docs, "doc_id", false),
      ("cdc", r => CorpusStream.cdcStores(s"$r/chunks", s"$r/docs"), docs, "doc_id", true),
      ("drift", r => Seq(DriftStream.driftStore(r)), docs, "doc_id", false),
      ("snapdrift", r => Seq(DriftStream.snapshotStore(r)), docs, "doc_id", false),
      ("curriculum", r => Seq(OrderStream.curriculumStore(r)), docs, "doc_id", false),
      ("mass", r => Seq(OrderStream.massStore(r)), docs, "doc_id", false),
      ("shard", r => Seq(ShardStream.manifestStore(r)), docs, "doc_id", false),
      ("occupancy", r => Seq(EmbeddingStream.occupancyStore(r, centroidPath)), vecs,
        "vec_id", true))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    def nonZero(t: CellStore, df: org.apache.spark.sql.DataFrame) =
      rows(df.filter(!t.measures.collect { case (c, CellStore.Sum) => col(c) === 0L }
        .reduce(_ && _)))
    val root = tmpDir("graft-cellstore-laws")
    laws.foreach { case (name, declare, input, id, erasable) =>
      val ids = input.select(id).orderBy(id).collect().map(_.getLong(0))
      val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
      def slices(d: org.apache.spark.sql.DataFrame) = Seq(d.filter(col(id) < cuts(0)),
        d.filter(col(id) >= cuts(0) && col(id) < cuts(1)), d.filter(col(id) >= cuts(1)))
      def landAll(stores: Seq[CellStore], d: org.apache.spark.sql.DataFrame): Unit =
        slices(d).zipWithIndex.foreach { case (sl, k) => CellStore.land(sl, k.toLong, stores) }
      val stores = declare(s"$root/$name/laws")
      landAll(stores, input)
      val served = stores.map(t => rows(t.servedAt(spark)))
      CellStore.land(slices(input)(1), 1L, stores)
      assert(stores.map(t => rows(t.servedAt(spark))) === served,
        s"$name: a replayed landing must change nothing")
      assert(stores.map(t => rows(t.servedWindow(spark, lo = 0L))) === served,
        s"$name: the window over every landing must equal the unpinned serve")
      val pinned = stores.map(t => rows(t.servedAt(spark, upto = 1L)))
      stores.foreach(_.compact(spark, upto = 1L))
      assert(stores.map(t => rows(t.servedAt(spark, upto = 1L))) === pinned,
        s"$name: compaction must not move the pinned serve")
      assert(stores.map(t => rows(t.servedAt(spark))) === served,
        s"$name: compaction must not move the unpinned serve")
      if (erasable) {
        val forgetPred = pmod(col(id), lit(7L)) === lit(3L)
        val (erased, survivors) =
          (declare(s"$root/$name/erased"), declare(s"$root/$name/survivors"))
        landAll(erased, input)
        CellStore.forget(input.filter(forgetPred), -1000L, erased)
        landAll(survivors, input.filter(!forgetPred))
        erased.zip(survivors).foreach { case (e, sv) =>
          assert(nonZero(e, e.servedAt(spark)) === nonZero(sv, sv.servedAt(spark)),
            s"$name (${e.family}): whole-wave erasure must equal landing only the survivors")
        }
      }
    }
  }

  test("shingle-index stream: containment served off landed deltas equals batch q185") {
    import graft.streaming.ScrubStream
    import graft.ops.Dedup
    val landing = tmpDir("graft-shidx-landing")
    val deltas = tmpDir("graft-shidx-art") + "/deltas"
    val checkpoint = tmpDir("graft-shidx-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-shidx-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    ScrubStream.shingleIndexSink(ScrubStream.readDocStream(spark, landing),
      deltas, checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    ScrubStream.shingleIndexSink(ScrubStream.readDocStream(spark, landing),
      deltas, checkpoint).awaitTermination()

    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    val spine = docs.filter(col("doc_id") >= 50)
    val served = toMap(ScrubStream.containmentFromDeltas(spark, deltas, spine))
    val batch = toMap(Dedup.q185.fn(spark, sf))
    assert(served === batch,
      "containment off the streamed index must equal the store-served batch query")

    // a release pin serves containment AS OF the first landing: the
    // upto = 0 fold must equal the batch rollup over chunk 1 alone
    val spine1 = docs.filter(col("doc_id") >= 50 && col("doc_id") < cut)
    val pinned = toMap(ScrubStream.containmentFromDeltas(spark, deltas, spine1, upto = 0L))
    val chunk1 = toMap(Dedup.containmentBest(
      Dedup.jaccardPairs(spine1.filter(
        org.apache.spark.sql.functions.size(graft.ops.TextOps.tokens(col("text"))) >= 3)
        .select("doc_id", "text")),
      spine1))
    assert(pinned === chunk1, "the release pin must replay the first landing's table")

    // replay: the index is add-only state, per-batchId overwrite absorbs it
    ScrubStream.writeShingleDelta(docs.filter(col("doc_id") < cut), deltas, 0L)
    assert(toMap(ScrubStream.containmentFromDeltas(spark, deltas, spine)) === batch,
      "a replayed delta must not move a single verdict")
  }

  test("release pins are ENFORCED: folds past a live pin refuse, legal compaction keeps pinned serving bit-identical, retroactive pins refuse") {
    import graft.streaming.{CorpusStream, StoreCompaction}
    val deltas = tmpDir("graft-pinlaw-art") + "/deltas"
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))
    // four landings, batch ids 0..3
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") < cuts(0)), 0L)
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") >= cuts(0) && col("doc_id") < cuts(
      1)), 1L)
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") >= cuts(1) && col("doc_id") < cuts(
      2)), 2L)
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") >= cuts(2)), 3L)

    def counts(upto: Long) = CorpusStream.lmStore(deltas).servedAt(spark, upto)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def partitions() = new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq

    // a live release at batch 1 — written through the registry
    StoreCompaction.registerPin(deltas, "release_v1", 1L)
    assert(StoreCompaction.livePins(deltas) === Map("release_v1" -> 1L))
    val pinnedBefore = counts(1L)
    val fullBefore = counts(Long.MaxValue)

    // an illegal fold (past the pin) REFUSES and leaves the store untouched
    val ex1 = intercept[IllegalStateException] {
      CorpusStream.lmStore(deltas).compact(spark, upto = 2L)
    }
    assert(ex1.getMessage.contains("release_v1"))
    assert(partitions() ===
      Seq("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"))
    val ex2 = intercept[IllegalStateException] {
      StoreCompaction.appendInto(spark, deltas, 3L, Seq("w1", "w2"))
    }
    assert(ex2.getMessage.contains("release_v1"))
    assert(partitions() ===
      Seq("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"))

    // the clamp a maintenance policy uses: as far as legal, never past a pin
    assert(StoreCompaction.maxFoldableUpto(deltas, 3L) === 1L)
    assert(StoreCompaction.maxFoldableUpto(deltas, 0L) === 0L)

    // a legal fold AT the pin: pinned serving bit-identical across it
    CorpusStream.lmStore(deltas).compact(spark, StoreCompaction.maxFoldableUpto(deltas, 3L))
    assert(partitions() === Seq("batch_id=-1", "batch_id=2", "batch_id=3"))
    assert(counts(1L) === pinnedBefore,
      "pinned serving must be bit-identical across a legal compaction")
    assert(counts(Long.MaxValue) === fullBefore)

    // horizon recorded; a retroactive pin BEHIND it refuses, and a
    // pinned read behind it fails loudly instead of over-including base rows
    assert(StoreCompaction.compactionHorizon(deltas) === Some(1L))
    intercept[IllegalStateException] {
      StoreCompaction.registerPin(deltas, "late_pin", 0L)
    }
    intercept[IllegalStateException] {
      CorpusStream.lmStore(deltas).servedAt(spark, upto = 0L)
    }
    // re-pinning AT the horizon is fine (the fold stopped exactly there)
    StoreCompaction.registerPin(deltas, "release_v1", 1L)

    // releasing the pin makes the fold legal; full serving never moves
    StoreCompaction.releasePin(deltas, "release_v1")
    assert(StoreCompaction.livePins(deltas) === Map.empty)
    CorpusStream.lmStore(deltas).compact(spark, upto = 2L)
    assert(partitions() === Seq("batch_id=-1", "batch_id=3"))
    assert(counts(Long.MaxValue) === fullBefore,
      "unpinned serving must be bit-identical across the released fold")
    // and the horizon advanced with it
    assert(StoreCompaction.compactionHorizon(deltas) === Some(2L))
  }

  test("sink maintenance generalized: every delta-sink family converges under the threshold policy with serving bit-identical to the raw twin store") {
    import graft.streaming.{CorpusStream, DriftStream, OrderStream,
      ScrubStream, ShardStream, StoreCompaction}
    import StoreCompaction.MaintenancePolicy
    val sf = "/root/testdata/sf0.001"
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val ids = full.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 8
    val policy = MaintenancePolicy(minorAtDeltas = 3, keepLatestDeltas = 1,
      maxFilesPerBucket = 2, nBuckets = 4)
    def slice(k: Int) = {
      val lo = ids(k * ids.length / nLandings)
      val hi = if (k == nLandings - 1) Long.MaxValue
        else ids((k + 1) * ids.length / nLandings)
      full.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
    def snap(df: org.apache.spark.sql.DataFrame): Any =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString())

    // each family: (name, writeDelta into root, maintained (dir, buckets)
    // pairs, serve off root) — the writeDelta + sinkMaintain sequence is
    // LITERALLY the sink's foreachBatch body, so this harness pins the
    // maintained sinks without spinning 13 streaming queries
    type W = (org.apache.spark.sql.DataFrame, String, Long) => Unit
    val families: Seq[(String, W, String => Seq[(String, Seq[String])],
        String => Any)] = Seq(
      ("eval",
        (b, r, i) => CorpusStream.evalStore(r).land(b, i),
        r => Seq(r -> Seq("band")),
        r => snap(CorpusStream.evalTableFromDeltas(spark, r))),
      ("feature",
        (b, r, i) => CorpusStream.featureStore(r).land(b, i),
        r => Seq(r -> Seq("f")),
        r => CorpusStream.ratioFromDeltas(spark, r)),
      ("mw",
        (b, r, i) => CorpusStream.mwStore(r).land(b, i),
        r => Seq(r -> Seq("source")),
        r => snap(CorpusStream.reweightingFromDeltas(spark, r))),
      ("div",
        (b, r, i) => CellStore.land(b, i, CorpusStream.divStores(s"$r/dims", s"$r/stats")),
        r => Seq(s"$r/dims" -> Seq("source", "d"), s"$r/stats" -> Seq("source")),
        r => snap(CorpusStream.diversityFromDeltas(spark, s"$r/dims", s"$r/stats"))),
      ("kanon",
        (b, r, i) => CorpusStream.kAnonStore(r).land(b, i),
        r => Seq(r -> Seq("source", "lang", "len_bucket")),
        r => snap(CorpusStream.kAnonymityFromDeltas(spark, r))),
      ("cs",
        (b, r, i) => CorpusStream.writeCsDelta(b, r, i),
        r => Seq(r -> Seq("doc_id")),
        r => snap(CorpusStream.codeSwitchFromDeltas(spark, r, full.select("doc_id")))),
      ("span",
        (b, r, i) => CorpusStream.spanStore(r).land(b, i),
        r => Seq(r -> Seq("h")),
        r => snap(CorpusStream.spanScrubFromDeltas(spark, r,
          full.select("doc_id", "text")))),
      ("cdc",
        (b, r, i) => CellStore.land(b, i, CorpusStream.cdcStores(s"$r/chunks", s"$r/docs")),
        r => Seq(s"$r/chunks" -> Seq("fp"), s"$r/docs" -> Seq("source")),
        r => snap(CorpusStream.cdcReportFromDeltas(spark, s"$r/chunks", s"$r/docs"))),
      ("shingle",
        (b, r, i) => ScrubStream.writeShingleDelta(b, r, i),
        r => Seq(r -> Seq("h")),
        r => snap(ScrubStream.containmentFromDeltas(spark, r,
          full.filter(col("doc_id") >= 50).select("doc_id")))),
      ("drift",
        (b, r, i) => DriftStream.driftStore(r).land(b, i),
        r => Seq(r -> Seq("source", "bin")),
        r => snap(DriftStream.driftFromDeltas(spark, r))),
      ("snapdrift",
        (b, r, i) => DriftStream.snapshotStore(r).land(b.withColumn("snapshot_id", lit(i % 2)), i),
        r => Seq(r -> Seq("snapshot_id", "source", "bin")),
        r => snap(spark.read.parquet(r).groupBy("snapshot_id", "source", "bin")
          .agg(sum(col("o")).cast("long").as("o")))),
      ("curriculum",
        (b, r, i) => OrderStream.curriculumStore(r).land(b, i),
        r => Seq(r -> Seq("phase", "shard")),
        r => snap(OrderStream.manifestFromDeltas(spark, r))),
      ("mass",
        (b, r, i) => OrderStream.massStore(r).land(b, i),
        r => Seq(r -> Seq("source", "w")),
        r => snap(OrderStream.segmentManifestFromDeltas(spark, r))),
      ("shard",
        (b, r, i) => ShardStream.manifestStore(r).land(b, i),
        r => Seq(r -> Seq("shard_id")),
        r => snap(ShardStream.manifestFromDeltas(spark, r))))

    val base = tmpDir("graft-sink-maint")
    families.foreach { case (name, write, stores, serve) =>
      val (mRoot, rRoot) = (s"$base/$name/maintained", s"$base/$name/raw")
      (0 until nLandings).foreach { k =>
        write(slice(k), mRoot, k.toLong)
        write(slice(k), rRoot, k.toLong)
        // the sink's own hook, verbatim
        StoreCompaction.sinkMaintain(spark, stores(mRoot), Some(policy))
      }
      stores(mRoot).map(_._1).foreach { dir =>
        val tail = new java.io.File(dir).listFiles()
          .map(_.getName).count(n => n.startsWith("batch_id=") &&
            n != "batch_id=-1")
        assert(tail < policy.minorAtDeltas + policy.keepLatestDeltas,
          s"$name($dir): the policy must bound the delta tail, got $tail")
        val baseFiles = Option(new java.io.File(dir, "batch_id=-1").listFiles())
          .toSeq.flatten.count(_.getName.endsWith(".parquet"))
        assert(baseFiles <= policy.nBuckets * policy.maxFilesPerBucket,
          s"$name($dir): per-bucket major must bound base files, got $baseFiles")
      }
      assert(serve(mRoot) === serve(rRoot),
        s"$name: maintained serving must equal the raw union of all landings")
    }
  }

  test("maintenance report honesty: a pin clamping below every eligible delta folds nothing and reports minorUpto=None (clamp flag still set)") {
    import graft.streaming.{CorpusStream, StoreCompaction}
    import StoreCompaction.{MaintenancePolicy, maintain}
    val deltas = tmpDir("graft-maint-honest") + "/deltas"
    val docs = Catalog.table(spark, "/root/testdata/sf0.001", "documents")
    // four landings 10..13, pin at 5 — every eligible delta is past the pin
    (10 to 13).foreach(k => CorpusStream.lmStore(deltas).land(docs.filter(pmod(col("doc_id"),
      lit(4L)) === lit((k - 10).toLong)), k.toLong))
    StoreCompaction.registerPin(deltas, "rel", 5L)
    val before = new java.io.File(deltas).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    val rep = maintain(spark, deltas,
      Seq("w1"), MaintenancePolicy(minorAtDeltas = 2, keepLatestDeltas = 1))
    assert(rep.minorUpto === None,
      "no appendInto ran, so the report must not claim a fold boundary")
    assert(rep.clampedByPins, "the wanted fold WAS clamped — flag stays")
    assert(rep.filesAppended === 0L)
    assert(new java.io.File(deltas).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq === before,
      "a fully-clamped pass must not move a partition")
  }

  test("maintenance policy: threshold-driven passes converge a long landing sequence with serving bit-identical, pin-clamped, bounded base files") {
    import graft.streaming.{CorpusStream, StoreCompaction}
    import StoreCompaction.{MaintenancePolicy, maintain}
    val deltas = tmpDir("graft-maint-art") + "/deltas"
    val raw = tmpDir("graft-maint-raw") + "/deltas"
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 16
    val policy = MaintenancePolicy(minorAtDeltas = 4, keepLatestDeltas = 1,
      maxFilesPerBucket = 2, nBuckets = 4)
    def slice(k: Int) = {
      val lo = ids(k * ids.length / nLandings)
      val hi = if (k == nLandings - 1) Long.MaxValue
        else ids((k + 1) * ids.length / nLandings)
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
    def counts(dir: String) = CorpusStream.lmStore(dir).servedAt(spark)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def deltaPartitions() = new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName)
      .filterNot(_ == "batch_id=-1").length

    // a release pin goes live at landing 5 and is dropped after landing 11
    var reports = Vector.empty[StoreCompaction.MaintenanceReport]
    (0 until nLandings).foreach { k =>
      CorpusStream.lmStore(deltas).land(slice(k), k.toLong)
      CorpusStream.lmStore(raw).land(slice(k), k.toLong)
      if (k == 5) StoreCompaction.registerPin(deltas, "rel", 5L)
      if (k == 11) StoreCompaction.releasePin(deltas, "rel")
      reports :+= maintain(spark, deltas, Seq("w1", "w2"), policy)
    }
    // while the pin was live, folds clamped AT it (partitions 6..k stayed)
    assert(reports.slice(8, 11).exists(_.clampedByPins),
      "a fold wanting to cross the live pin must report the clamp")
    assert(reports.forall(r => r.minorUpto.forall(_ >= 0L)),
      "clamped folds never go negative")
    // converged layout: base + a small tail (below the minor threshold +
    // replay margin), never one-partition-per-landing
    assert(deltaPartitions() < policy.minorAtDeltas + policy.keepLatestDeltas,
      s"the policy must keep the delta tail bounded, got ${deltaPartitions()}")
    // serving is bit-identical to the never-maintained twin store
    assert(counts(deltas) === counts(raw),
      "maintained serving must equal the raw union of all landings")
    // base file count is bounded by the bucket layout
    val baseFiles = Option(new java.io.File(deltas, "batch_id=-1").listFiles())
      .toSeq.flatten.count(f => f.getName.endsWith(".parquet"))
    assert(baseFiles <= policy.nBuckets * policy.maxFilesPerBucket,
      s"per-bucket major must bound base files, got $baseFiles")
    // and a pass with nothing eligible is a no-op
    val idle = maintain(spark, deltas, Seq("w1", "w2"), policy)
    assert(idle.filesAppended === 0L && idle.bucketsRewritten === 0L)
    assert(counts(deltas) === counts(raw))
  }

  test("q198 through a compact-then-serve cycle: the registered store pin refuses the fold that would break the release") {
    import graft.streaming.{ScrubStream, StoreCompaction}
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
    // a private copy of q198's release-delta store, pinned like the real one
    val deltas = tmpDir("graft-pin198-art") + "/deltas"
    ScrubStream.writeShingleDelta(docs.filter(col("doc_id") < cut), deltas, 0L)
    ScrubStream.writeShingleDelta(docs.filter(col("doc_id") >= cut), deltas, 1L)
    StoreCompaction.registerPin(deltas, "release_0", 0L)

    val spine = docs.filter(col("doc_id") >= 50 && col("doc_id") < cut)
    def served() = ScrubStream.containmentFromDeltas(spark, deltas, spine, upto = 0L)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    val before = served()
    // the q198 surface itself agrees with this store (its own pin is
    // registered by buildShingleDeltaStore — written through the registry)
    val q198Rows = graft.ops.Dedup.q198.fn(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(before === q198Rows)

    // the fold that would silently break the release REFUSES
    intercept[IllegalStateException] {
      StoreCompaction.foldInto(spark, deltas, 1L)(_.distinct())
    }
    // a legal fold (at the pin) keeps q198's pinned table bit-identical
    StoreCompaction.foldInto(spark, deltas, 0L)(_.distinct())
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=1"))
    assert(served() === before,
      "q198's release table must be bit-identical through a legal compaction")
  }

  test("window-majority cell stream: q195 and q196 served off landed cells equal batch") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-cs-landing")
    val deltas = tmpDir("graft-cs-art") + "/deltas"
    val checkpoint = tmpDir("graft-cs-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-cs-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    CorpusStream.csCellSink(CorpusStream.readDocStream(spark, landing),
      deltas, checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    CorpusStream.csCellSink(CorpusStream.readDocStream(spark, landing),
      deltas, checkpoint).awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(CorpusStream.codeSwitchFromDeltas(spark, deltas, docs.select("doc_id")))
      === rows(ops.TextOps.q195.fn(spark, sf)),
      "q195 off the landed cells must equal batch")
    assert(rows(CorpusStream.salvageFromDeltas(spark, deltas,
        docs.select(col("doc_id"), col("source"))))
      === rows(ops.TextOps.q196.fn(spark, sf)),
      "q196 off the landed cells must equal batch")

    // replay: add-only state, per-batchId overwrite absorbs it
    CorpusStream.writeCsDelta(docs.filter(col("doc_id") < cut), deltas, 0L)
    assert(rows(CorpusStream.codeSwitchFromDeltas(spark, deltas, docs.select("doc_id")))
      === rows(ops.TextOps.q195.fn(spark, sf)),
      "a replayed delta must not move the served table")
  }

  test("cross-modal decisions off the three streamed stores equal the batch composition") {
    import graft.streaming.{CurationStream, LshStream}
    import graft.ops.{Dedup, Multimodal}
    val landing = tmpDir("graft-xm-landing")
    val fps = tmpDir("graft-xm-fps") + "/fps"
    val tIndex = tmpDir("graft-xm-tidx") + "/bands"
    val tDec = tmpDir("graft-xm-tdec") + "/rows"
    val iIndex = tmpDir("graft-xm-iidx") + "/bands"
    val iDec = tmpDir("graft-xm-idec") + "/rows"
    val aIndex = tmpDir("graft-xm-aidx") + "/bands"
    val aDec = tmpDir("graft-xm-adec") + "/rows"
    val (ck1, ck2, ck3) = (tmpDir("graft-xm-ck1"), tmpDir("graft-xm-ck2"),
      tmpDir("graft-xm-ck3"))
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-xm-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    Seq(docs.filter(col("doc_id") < cut) -> "f1.parquet",
        docs.filter(col("doc_id") >= cut) -> "f2.parquet").foreach { case (df, f) =>
      land(df, f)
      CurationStream.curationSink(CurationStream.readDocStream(spark, landing),
        fps, tIndex, tDec, ck1).awaitTermination()
      LshStream.dedupSink(LshStream.readDocStream(spark, landing),
        iIndex, iDec, ck2, Multimodal.phashBandFamilySparse).awaitTermination()
      LshStream.dedupSink(LshStream.readDocStream(spark, landing),
        aIndex, aDec, ck3, Multimodal.audioBandFamilySparse).awaitTermination()
    }

    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[String]("reason")), r.getAs[Boolean]("accepted"))))
      .toMap
    val got = toMap(CurationStream.crossModalDecisions(spark, tDec, iDec, aDec))
    // the DEFAULT serving path: audio leg L1-VERIFIED against content —
    // on an honest fixture (no half-code collisions) the verify changes
    // nothing, so band-only and verified serving agree exactly
    assert(toMap(CurationStream.crossModalDecisions(spark, tDec, iDec, aDec,
        audioContent = Some(docs), audioFixtureId = Multimodal.sparseAudId))
      === got,
      "L1-verified audio serving must equal band serving on an honest fixture")

    // batch anchor: the identical first-failing composition from the
    // oracled text verdicts (q127) + batch keep-earliest image/audio bands
    val textB = Dedup.q127.fn(spark, sf)
      .select(col("doc_id"), col("is_exact_dup"), col("is_band_dup"),
        lit(true).as("in_text"))
    val iBands = Multimodal.phashBandFamilySparse.bandsOf(docs)
    val imgB = Dedup.keepEarliestVerdicts(docs.select("doc_id"),
        Dedup.firstSeenBandPartners(iBands, iBands.filter(lit(false))))
      .select(col("doc_id"), col("is_band_dup").as("img_dup"))
    val aBands = Multimodal.audioBandFamilySparse.bandsOf(docs)
    val audB = Dedup.keepEarliestVerdicts(docs.select("doc_id"),
        Dedup.firstSeenBandPartners(aBands, aBands.filter(lit(false))))
      .select(col("doc_id"), col("is_band_dup").as("aud_dup"))
    val expected = toMap(imgB.join(audB, Seq("doc_id"))
      .join(textB, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("in_text").isNull, lit("gate"))
          .when(col("is_exact_dup"), lit("text_exact"))
          .when(coalesce(col("is_band_dup"), lit(false)), lit("text_near"))
          .when(col("img_dup"), lit("image_near"))
          .when(col("aud_dup"), lit("audio_near"))
          .as("reason"))
      .withColumn("accepted", col("reason").isNull))
    assert(got === expected,
      "cross-modal verdicts off the streamed stores must equal the batch composition")
    // the composition is not vacuous: image and audio stages both fire,
    // and most docs are accepted
    val reasons = got.values.flatMap(_._1).toSet
    assert(reasons.contains("image_near") && reasons.contains("audio_near"),
      s"multimodal stages must contribute reasons, got $reasons")
    assert(got.values.count(_._2) > got.size / 4, "acceptance must be non-trivial")

    // a lagging modality SURFACES, never vanishes: serve with an audio
    // store that missed the second landing — every doc the audio sink
    // hasn't covered must come back as an explicit missing_modality row
    val aDecLag = tmpDir("graft-xm-adeclag") + "/rows"
    spark.read.parquet(aDec).filter(col("doc_id") < cut)
      .write.partitionBy("batch_id").mode("overwrite").parquet(aDecLag)
    val lagged = toMap(CurationStream.crossModalDecisions(spark, tDec, iDec, aDecLag))
    assert(lagged.keySet === got.keySet,
      "the verdict spine must not shrink when a modality store lags")
    val laggedIds = lagged.filter(_._2._1.contains("missing_modality")).keySet
    assert(laggedIds === got.keySet.filter(_ >= cut),
      "exactly the uncovered docs must surface as missing_modality")
    assert(laggedIds.forall(id => !lagged(id)._2),
      "missing_modality rows must not be accepted")
    assert(lagged.filter(_._1 < cut) === got.filter(_._1 < cut),
      "covered docs' verdicts must be unchanged by the lag")
    // the lag surfaces identically through the VERIFIED leg (the verify
    // only touches flagged pairs, never the spine)
    assert(toMap(CurationStream.crossModalDecisions(spark, tDec, iDec, aDecLag,
        audioContent = Some(docs), audioFixtureId = Multimodal.sparseAudId))
      === lagged,
      "missing_modality semantics must survive the L1-verified leg")
  }

  test("cross-modal serving clears a forged audio half-code collision: the L1 verify refutes the band verdict the raw store would ship") {
    import graft.streaming.CurationStream
    import graft.ops.Multimodal
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    // two UNRELATED docs (different synth envelopes): forge the band
    // store's conclusion that 53 duplicates 51 — the 2^-48 half-code
    // collision materialized as a decisions row
    val (x, y) = (51L, 53L)
    val root = tmpDir("graft-xm-forged")
    val (tDec, iDec, aDec) = (s"$root/tdec", s"$root/idec", s"$root/adec")
    val two = Seq(x, y)
    Seq((x, false, Option.empty[Long], 0L, Option.empty[Long], false),
        (y, false, Option.empty[Long], 0L, Option.empty[Long], false))
      .toDF("doc_id", "is_exact_dup", "exact_dup_of", "n_earlier", "dup_of",
        "is_band_dup")
      .write.mode("overwrite").parquet(s"$tDec/batch_id=0")
    Seq((x, 0L, Option.empty[Long], false), (y, 0L, Option.empty[Long], false))
      .toDF("doc_id", "n_earlier", "dup_of", "is_band_dup")
      .write.mode("overwrite").parquet(s"$iDec/batch_id=0")
    Seq((x, 0L, Option.empty[Long], false), (y, 1L, Some(x), true))
      .toDF("doc_id", "n_earlier", "dup_of", "is_band_dup")
      .write.mode("overwrite").parquet(s"$aDec/batch_id=0")
    val content = docs.filter(col("doc_id").isin(two: _*))

    def reasonOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[String]("reason")), r.getAs[Boolean]("accepted"))))
      .toMap
    // the raw band path ships the forged verdict
    val raw = reasonOf(CurationStream.crossModalDecisions(spark, tDec, iDec, aDec))
    assert(raw(y) === ((Some("audio_near"), false)),
      "the unverified path must ship the collision (that is the hazard)")
    // the verified path recomputes the pair's envelopes, the L1 refutes
    // the match, and the doc is accepted — batch q176 semantics streamed
    val verified = reasonOf(CurationStream.crossModalDecisions(spark,
      tDec, iDec, aDec,
      audioContent = Some(content), audioFixtureId = Multimodal.sparseAudId))
    assert(verified(y) === ((None, true)),
      "the L1 verify must clear the forged collision")
    assert(verified(x) === raw(x), "unflagged docs are untouched by the verify")
  }

  test("k-anonymity cell stream: the audit off folded cells equals batch q189, with the k test on the union") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-kanon-landing")
    val deltas = tmpDir("graft-kanon-art") + "/deltas"
    val checkpoint = tmpDir("graft-kanon-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-kanon-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // split by PARITY, not by range: every QI group straddles both
    // batches, so a per-batch k test would misflag large groups — only
    // the folded sizes give the right audit
    land(docs.filter(col("doc_id") % 2 === 0), "f1.parquet")
    CorpusStream.kAnonStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") % 2 === 1), "f2.parquet")
    CorpusStream.kAnonStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def tblMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_groups"),
          r.getAs[Long]("n_small_groups"), r.getAs[Long]("n_suppressed"),
          r.getAs[Long]("suppressed_bp"))))
      .toMap
    val batch = tblMap(ops.TextOps.q189.fn(spark, sf))
    assert(tblMap(CorpusStream.kAnonymityFromDeltas(spark, deltas)) === batch,
      "served audit must equal batch q189 over the landed corpus")
    // the parity split actually bit: some QI group is under k in the
    // first batch alone but at/over k once folded — a per-batch k test
    // would have misflagged it
    val evenSizes = ops.TextOps.kAnonCells(docs.filter(col("doc_id") % 2 === 0))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    val foldedSizes = spark.read.parquet(deltas)
      .groupBy("source", "lang", "len_bucket")
      .agg(org.apache.spark.sql.functions.sum("gsz").cast("long").as("gsz"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(foldedSizes.exists { case (k, n) =>
      n >= 5L && evenSizes.getOrElse(k, 0L) < 5L },
      "the split must produce a group that only the folded sizes clear")

    // replay: per-batchId overwrite keeps the store idempotent
    CorpusStream.kAnonStore(deltas).land(docs.filter(col("doc_id") % 2 === 0), 0L)
    assert(tblMap(CorpusStream.kAnonymityFromDeltas(spark, deltas)) === batch,
      "a replayed delta write must not move the served audit")

    // retention: the fold algebra is the serving algebra
    CorpusStream.kAnonStore(deltas).compact(spark, upto = 1L)
    assert(tblMap(CorpusStream.kAnonymityFromDeltas(spark, deltas)) === batch,
      "compaction must not move the served audit")
  }

  test("span window-cell stream: the scrub plan off folded cells equals batch q182 under any arrival order") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-span-landing")
    val deltas = tmpDir("graft-span-art") + "/deltas"
    val checkpoint = tmpDir("graft-span-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-span-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // REVERSED arrival order: the highest-id chunk lands first — the MIN
    // fold must still recover the global first-occurrence attribution
    land(docs.filter(col("doc_id") >= cut2), "f1.parquet")
    CorpusStream.spanStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CorpusStream.spanStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") < cut1), "f3.parquet")
    CorpusStream.spanStore(deltas).sink(CorpusStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def tblMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    val batch = tblMap(ops.Mining.q182.fn(spark, sf))
    assert(tblMap(CorpusStream.spanScrubFromDeltas(spark, deltas, docs)) === batch,
      "served scrub plan must equal batch q182 despite reversed arrival")

    // replay: per-batchId overwrite keeps SUM/MIN cells idempotent
    CorpusStream.spanStore(deltas).land(docs.filter(col("doc_id") >= cut2), 0L)
    CorpusStream.spanStore(deltas).land(docs.filter(col("doc_id") >= cut2), 0L)
    assert(tblMap(CorpusStream.spanScrubFromDeltas(spark, deltas, docs)) === batch,
      "a replayed delta write must not move the served plan")

    // retention: the fold algebra is the serving algebra
    CorpusStream.spanStore(deltas).compact(spark, upto = 1L)
    assert(tblMap(CorpusStream.spanScrubFromDeltas(spark, deltas, docs)) === batch,
      "compaction must not move the served plan")
  }

  test("CDC chunk-cell stream: the dup report off folded cells equals batch q171; replay and compaction are no-ops") {
    import graft.streaming.CorpusStream
    val landing = tmpDir("graft-cdc-landing")
    val chunks = tmpDir("graft-cdc-art") + "/chunks"
    val dcount = tmpDir("graft-cdc-art2") + "/docs"
    val checkpoint = tmpDir("graft-cdc-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-cdc-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    CellStore.sink(CorpusStream.cdcStores(chunks, dcount), CorpusStream.readDocStream(spark,
      landing), checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    CellStore.sink(CorpusStream.cdcStores(chunks, dcount), CorpusStream.readDocStream(spark,
      landing), checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    CellStore.sink(CorpusStream.cdcStores(chunks, dcount), CorpusStream.readDocStream(spark,
      landing), checkpoint).awaitTermination()

    def servedRows() = CorpusStream.cdcReportFromDeltas(spark, chunks, dcount)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("sum_chunk_tokens"),
        r.getAs[Long]("n_dup_instances"), r.getAs[Long]("dup_token_share_bp"))).toSeq
    val batch = ops.Dedup.q171.fn(spark, sf)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("sum_chunk_tokens"),
        r.getAs[Long]("n_dup_instances"), r.getAs[Long]("dup_token_share_bp"))).toSeq
    assert(servedRows() === batch,
      "the dup report off the streamed chunk cells must equal batch q171 exactly")

    // replay: per-batchId overwrite keeps both stores idempotent
    CellStore.land(docs.filter(col("doc_id") < cut1), 0L, CorpusStream.cdcStores(chunks, dcount))
    CellStore.land(docs.filter(col("doc_id") < cut1), 0L, CorpusStream.cdcStores(chunks, dcount))
    assert(servedRows() === batch, "a replayed delta write must not move the report")

    // retention: the fold algebra is the serving algebra, on both stores
    CorpusStream.cdcStores(chunks, dcount).foreach(_.compact(spark, upto = 1L))
    Seq(chunks, dcount).foreach { d =>
      assert(new java.io.File(d).listFiles()
        .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
        Seq("batch_id=-1", "batch_id=2"), s"$d must fold to base + live tail")
    }
    assert(servedRows() === batch, "compaction must not move the report")
  }

  test("LSH band-index stream: streamed keep-earliest decisions equal batch q124; batch replay is a no-op") {
    import graft.streaming.LshStream
    val landing = tmpDir("graft-lsh-landing")
    val index = tmpDir("graft-lsh-idx") + "/bands"
    val decisions = tmpDir("graft-lsh-dec") + "/rows"
    val checkpoint = tmpDir("graft-lsh-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (cut1, cut2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-lsh-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // three id-ordered landing files -> three micro-batches; streamed
    // "earlier" (history + own lower ids) == batch "lower id"
    land(docs.filter(col("doc_id") < cut1), "f1.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "f2.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut2), "f3.parquet")
    LshStream.dedupSink(LshStream.readDocStream(spark, landing),
      index, decisions, checkpoint).awaitTermination()

    def decMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_earlier"),
          Option(r.getAs[java.lang.Long]("dup_of")),
          r.getAs[Boolean]("is_band_dup"))))
      .toMap
    val expected = decMap(ops.Dedup.q124.fn(spark, sf))
    assert(decMap(LshStream.decisions(spark, decisions)) === expected,
      "streamed keep-earliest verdicts must equal the one-shot q124 run")
    // every doc's bands are in the index — dups included, as in batch
    assert(spark.read.parquet(index).select("doc_id").distinct().count() === docs.count())

    // replay pin: re-running a batch fold under its own batchId rewrites
    // both per-batchId partitions — decisions and index are unchanged
    LshStream.processBatch(docs.filter(col("doc_id") < cut1), index, decisions, 0L)
    assert(decMap(LshStream.decisions(spark, decisions)) === expected,
      "a replayed batch must not change any verdict")
    assert(spark.read.parquet(index).count() === docs.count() * 16,
      "a replayed batch must not grow the band index")
  }

  test("consolidated curation stream: gate + exact-first + band verdicts equal the batch composition") {
    import graft.streaming.{CurationStream, LshStream}
    import graft.ops.{Corpus, Dedup, TextOps}
    val landing = tmpDir("graft-cur-landing")
    val fps = tmpDir("graft-cur-fps") + "/fps"
    val index = tmpDir("graft-cur-idx") + "/bands"
    val decisions = tmpDir("graft-cur-dec") + "/rows"
    val checkpoint = tmpDir("graft-cur-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-cur-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    val accepted = tmpDir("graft-cur-acc") + "/docs"
    val quarantine = tmpDir("graft-cur-quar") + "/docs"
    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    CurationStream.curationSink(CurationStream.readDocStream(spark, landing),
      fps, index, decisions, checkpoint,
      Some(accepted), Some(quarantine)).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    CurationStream.curationSink(CurationStream.readDocStream(spark, landing),
      fps, index, decisions, checkpoint,
      Some(accepted), Some(quarantine)).awaitTermination()

    // batch reference: the same composition in one shot — gate, global
    // first-owner-per-fingerprint, band verdicts among representatives
    val keepers = docs
      .join(Corpus.gateFrame(docs).select(col("doc_id"), col("keep")), Seq("doc_id"))
      .filter(col("keep"))
      .select(col("doc_id"), col("text"),
        md5(TextOps.normalized(col("text"))).as("fp"))
    val firstOwner = keepers.groupBy("fp").agg(min(col("doc_id")).as("first"))
    val exactRef = keepers.join(firstOwner, Seq("fp"))
      .select(col("doc_id"), (col("first") < col("doc_id")).as("is_exact_dup"),
        when(col("first") < col("doc_id"), col("first")).as("exact_dup_of"))
    val reps = keepers.join(firstOwner,
      keepers("doc_id") === firstOwner("first"), "left_semi")
    val bandsR = LshStream.batchBands(reps)
    val bandRef = Dedup.keepEarliestVerdicts(reps.select("doc_id"),
      Dedup.earlierBandPartners(bandsR, bandsR))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_exact_dup"),
          Option(r.getAs[java.lang.Long]("exact_dup_of")),
          Option(r.getAs[java.lang.Long]("n_earlier")),
          Option(r.getAs[java.lang.Long]("dup_of")),
          Option(r.getAs[java.lang.Boolean]("is_band_dup")))))
      .toMap
    val expected = toMap(exactRef.join(bandRef, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"), col("exact_dup_of"),
        col("n_earlier"), col("dup_of"), col("is_band_dup")))
    val got = toMap(CurationStream.decisions(spark, decisions))
    assert(got === expected,
      "streamed consolidated verdicts must equal the batch gate->exact->band composition")
    // and the DRIVER-GREEN anchor: q127 is this composition as one oracled query
    assert(got === toMap(ops.Dedup.q127.fn(spark, sf)),
      "streamed decisions must equal the oracled q127 curation table")

    // expectations write path: accepted ∪ quarantined partitions the batch
    // docs exactly, with first-failing-stage reasons
    val accIds = spark.read.parquet(accepted).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val quarRows = spark.read.parquet(quarantine).select("doc_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(accIds.intersect(quarRows.keySet).isEmpty)
    assert((accIds ++ quarRows.keySet) ===
      docs.select("doc_id").collect().map(_.getLong(0)).toSet,
      "every document lands in exactly one store")
    val expAccepted = expected.collect {
      case (id, (false, _, _, _, band)) if band.exists(_ == false) => id }.toSet
    assert(accIds === expAccepted,
      "accepted store = gate-keepers with both verdicts false")
    expected.foreach {
      case (id, (true, _, _, _, _)) =>
        assert(quarRows(id) === "exact_dup", s"doc $id")
      case (id, (false, _, _, _, band)) if band.exists(_ == true) =>
        assert(quarRows(id) === "near_dup", s"doc $id")
      case _ => ()
    }
    assert(quarRows.values.toSet.subsetOf(Set("gate", "exact_dup", "near_dup")))
    // exact dups never reach the band index (the occupancy law)
    val nReps = reps.count()
    assert(spark.read.parquet(index).select("doc_id").distinct().count() === nReps,
      "only fingerprint representatives may be banded")

    // replay pin: re-running the last batch fold is a no-op everywhere
    val nFps = spark.read.parquet(fps).count()
    CurationStream.processBatch(docs.filter(col("doc_id") >= cut), fps, index, decisions, 1L)
    assert(toMap(CurationStream.decisions(spark, decisions)) === expected,
      "a replayed batch must not change any verdict")
    assert(spark.read.parquet(fps).count() === nFps,
      "a replayed batch must not grow the fingerprint store")

    // q133 parity: the quarantine-rates report computed off the STREAMED
    // stores equals the oracled batch report over the same corpus
    def rateMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("reason")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_source"), r.getAs[Long]("share_bp"))))
      .toMap
    assert(rateMap(Dedup.quarantineRates(
        spark.read.parquet(accepted), spark.read.parquet(quarantine)))
      === rateMap(Dedup.q133.fn(spark, sf)),
      "streamed stores must serve the identical oracled rates report")

    // q134 parity: training-shard packing off the STREAMED accepted
    // store equals the oracled batch packing (kernel shared)
    def packMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("pack_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("pack_tokens"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"),
          r.getAs[Long]("fill_bp"))))
      .toMap
    assert(packMap(Dedup.packAccepted(spark.read.parquet(accepted)))
      === packMap(Dedup.q134.fn(spark, sf)),
      "streamed accepted store must pack into the identical oracled shards")
  }

  test("curation under OUT-OF-ORDER arrival: first-seen wins, decisions final, anchor divergence is exactly the cross-boundary collision set") {
    import graft.streaming.{CurationStream, LshStream}
    import graft.ops.{Corpus, Dedup, TextOps}
    val landing = tmpDir("graft-ooo-landing")
    val fps = tmpDir("graft-ooo-fps") + "/fps"
    val index = tmpDir("graft-ooo-idx") + "/bands"
    val decisions = tmpDir("graft-ooo-dec") + "/rows"
    val checkpoint = tmpDir("graft-ooo-ckpt")
    val sf = "/root/testdata/sf0.001"
    val raw = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text", "source")
    val ids = raw.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    val maxId = ids.last

    // pick two LOW-half gate-keepers with a unique fingerprint and no
    // band collider anywhere — their planted HIGH-id twins then create
    // the only new collision structure, and it spans the arrival cut
    val gateIds = Corpus.gateFrame(raw).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fpCount = raw
      .groupBy(md5(TextOps.normalized(col("text"))).as("fp"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .collect().map(_.getAs[scala.collection.Seq[Long]]("ds"))
    val uniqueFp = fpCount.filter(_.size == 1).map(_.head).toSet
    val bandsRaw = LshStream.batchBands(raw).localCheckpoint()
    val colliding = bandsRaw.join(
        bandsRaw.select(col("doc_id").as("b"),
          col("band_idx").as("bi"), col("band_hash").as("bh")),
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("doc_id") =!= col("b"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val clean = ids.filter(d => d < cut && gateIds(d) && uniqueFp(d) && !colliding(d))
    assert(clean.length >= 2, "fixture needs two clean low-half keepers")
    val lk1 = clean(0)
    val lk2 = clean(1)
    def textOf(id: Long) =
      raw.filter(col("doc_id") === id).select("text").head().getString(0)
    val planted = Seq(
      (maxId + 1, textOf(lk1), "planted"),              // exact twin of lk1
      (maxId + 2, textOf(lk2) + " qqxyzzy", "planted")) // near twin of lk2
      .toDF("doc_id", "text", "source")
    val docs = raw.unionByName(planted).localCheckpoint()

    // HIGH half (with the planted twins) lands FIRST, low half second —
    // the reversed-arrival case the id-ordered fixtures never exercise
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-ooo-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }
    land(docs.filter(col("doc_id") >= cut), "f1.parquet")
    CurationStream.curationSink(CurationStream.readDocStream(spark, landing),
      fps, index, decisions, checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") < cut), "f2.parquet")
    CurationStream.curationSink(CurationStream.readDocStream(spark, landing),
      fps, index, decisions, checkpoint).awaitTermination()

    // FIRST-SEEN reference, computed in batch over the arrival key
    // (arrival_batch, doc_id): ownership goes to the earliest arrival,
    // band partners are cross-batch colliders (any id) plus same-batch
    // lower ids — the semantics the sink must realize under ANY order
    val ab = when(col("doc_id") >= cut, 0).otherwise(1)
    val keepers = docs
      .join(Corpus.gateFrame(docs).filter(col("keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), ab.as("ab"),
        md5(TextOps.normalized(col("text"))).as("fp"))
      .localCheckpoint()
    assert(Seq(lk1, lk2, maxId + 1, maxId + 2).forall(
      keepers.select("doc_id").collect().map(_.getLong(0)).toSet),
      "planted twins and their anchors must all pass the gate")
    val owner = keepers.groupBy("fp")
      .agg(min(struct(col("ab"), col("doc_id"))).as("o"))
      .select(col("fp"), col("o.doc_id").as("owner"))
    val exactRef = keepers.join(owner, Seq("fp"))
      .select(col("doc_id"), (col("owner") =!= col("doc_id")).as("is_exact_dup"),
        when(col("owner") =!= col("doc_id"), col("owner")).as("exact_dup_of"))
    val reps = keepers.join(owner, keepers("doc_id") === owner("owner"), "left_semi")
    val rb = LshStream.batchBands(reps)
      .join(keepers.select(col("doc_id"), col("ab")), Seq("doc_id"))
    val partnersRef = rb.join(
        rb.select(col("doc_id").as("doc_b"), col("band_idx").as("bi"),
          col("band_hash").as("bh"), col("ab").as("ab_b")),
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          (col("ab_b") < col("ab") ||
            (col("ab_b") === col("ab") && col("doc_b") < col("doc_id"))))
      .select("doc_id", "doc_b").distinct()
    val bandRef = Dedup.keepEarliestVerdicts(reps.select("doc_id"), partnersRef)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_exact_dup"),
          Option(r.getAs[java.lang.Long]("exact_dup_of")),
          Option(r.getAs[java.lang.Long]("n_earlier")),
          Option(r.getAs[java.lang.Long]("dup_of")),
          Option(r.getAs[java.lang.Boolean]("is_band_dup")))))
      .toMap
    val expected = toMap(exactRef.join(bandRef, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"), col("exact_dup_of"),
        col("n_earlier"), col("dup_of"), col("is_band_dup")))
    val got = toMap(CurationStream.decisions(spark, decisions))
    assert(got === expected,
      "streamed verdicts under reversed arrival must equal the first-seen composition")

    // id-order ANCHOR (q127's composition over the same augmented corpus)
    val anchorOwner = keepers.groupBy("fp").agg(min(col("doc_id")).as("owner"))
    val anchorExact = keepers.join(anchorOwner, Seq("fp"))
      .select(col("doc_id"), (col("owner") =!= col("doc_id")).as("is_exact_dup"),
        when(col("owner") =!= col("doc_id"), col("owner")).as("exact_dup_of"))
    val anchorReps = keepers.join(anchorOwner,
      keepers("doc_id") === anchorOwner("owner"), "left_semi")
    val abands = LshStream.batchBands(anchorReps)
    val anchorBand = Dedup.keepEarliestVerdicts(anchorReps.select("doc_id"),
      Dedup.earlierBandPartners(abands, abands))
    val anchor = toMap(anchorExact.join(anchorBand, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"), col("exact_dup_of"),
        col("n_earlier"), col("dup_of"), col("is_band_dup")))

    // the planted EXACT pair: the anchor keeps the low id; first-seen
    // keeps the high id that arrived first and marks the low id the dup
    assert(anchor(lk1) === ((false, None, Some(0L), None, Some(false))))
    assert(anchor(maxId + 1)._1 === true &&
      anchor(maxId + 1)._2 === Some(lk1))
    assert(got(maxId + 1) === ((false, None, Some(0L), None, Some(false))))
    assert(got(lk1)._1 === true && got(lk1)._2 === Some(maxId + 1))
    // the planted NEAR pair: distinct fingerprints, so both are reps in
    // both orders — only the band verdict flips direction
    assert(anchor(lk2)._5 === Some(false) &&
      anchor(maxId + 2)._5 === Some(true) && anchor(maxId + 2)._4 === Some(lk2),
      s"planted near twin must band-collide in the anchor: ${anchor(maxId + 2)}")
    assert(got(maxId + 2)._5 === Some(false),
      "the first-arrived near twin must survive")
    assert(got(lk2)._5 === Some(true) && got(lk2)._4 === Some(maxId + 2),
      "the late lower-id near twin must point at its first-seen partner")

    // the divergence from the anchor is EXACTLY the cross-boundary
    // collision set: every doc whose verdict changed belongs to an
    // fp-group spanning the cut, or collides (symmetrically, via the
    // all-docs band table) with a doc or fp-group member across the cut
    val divergent = expected.keySet.filter(d => anchor(d) != expected(d))
    assert(divergent.nonEmpty, "the fixture must force real divergence")
    assert(Seq(lk1, lk2, maxId + 1, maxId + 2).forall(divergent),
      "every member of the two planted cross-boundary pairs flips")
    val bandsAug = LshStream.batchBands(docs)
    val fpGroups = keepers.groupBy("fp").agg(collect_list(col("doc_id")).as("ds"))
      .collect().map(_.getAs[scala.collection.Seq[Long]]("ds").toSet)
    val spanningFp = fpGroups.filter(g =>
      g.exists(_ < cut) && g.exists(_ >= cut)).flatten.toSet
    val sym = bandsAug.join(
        bandsAug.select(col("doc_id").as("b"),
          col("band_idx").as("bi"), col("band_hash").as("bh")),
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("doc_id") =!= col("b"))
      .select("doc_id", "b").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val collidesAcross = sym.filter { case (a, b) =>
      ((a < cut) != (b < cut)) || spanningFp(b) }.map(_._1).toSet
    assert(divergent.subsetOf(spanningFp ++ collidesAcross),
      s"divergence must be explained by cross-boundary collisions: " +
        s"${divergent -- spanningFp -- collidesAcross}")

    // decision FINALITY: re-delivering the low half under a new name
    // changes no published verdict
    land(docs.filter(col("doc_id") < cut), "f2-redelivered.parquet")
    CurationStream.curationSink(CurationStream.readDocStream(spark, landing),
      fps, index, decisions, checkpoint).awaitTermination()
    assert(toMap(CurationStream.decisions(spark, decisions)) === expected,
      "a re-delivered file must never revise a published decision")
  }

  test("drift stream: folded histogram cells serve q126's statistics bit-for-bit; replay is a no-op") {
    import graft.streaming.DriftStream
    val landing = tmpDir("graft-drift-landing")
    val deltas = tmpDir("graft-drift-art") + "/cells"
    val checkpoint = tmpDir("graft-drift-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-drift-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(docs.filter(col("doc_id") < cut), "f1.parquet")
    DriftStream.driftStore(deltas).sink(DriftStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(docs.filter(col("doc_id") >= cut), "f2.parquet")
    DriftStream.driftStore(deltas).sink(DriftStream.readDocStream(spark, landing),
      checkpoint).awaitTermination()

    def repMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("chi2_fp"),
          r.getAs[Long]("df"), r.getAs[Boolean]("elevated"))))
      .toMap
    val expected = repMap(ops.Corpus.q126.fn(spark, sf))
    assert(repMap(DriftStream.driftFromDeltas(spark, deltas)) === expected,
      "served drift statistics must equal batch q126 bit-for-bit")

    // replay pin: SUM is not idempotent — the per-batchId overwrite is
    // what keeps a replayed fold from double-counting
    DriftStream.driftStore(deltas).land(docs.filter(col("doc_id") < cut), 0L)
    assert(repMap(DriftStream.driftFromDeltas(spark, deltas)) === expected,
      "a replayed delta write must not move any statistic")
  }

  test("compacted band index: same verdicts, index side joins with no exchange") {
    import graft.streaming.LshStream
    val deltaDir = tmpDir("graft-lshc-idx") + "/bands"
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(2 * ids.length / 3)

    // two delta partitions stand in for a streamed history; compact them
    val hist = docs.filter(col("doc_id") < cut)
    LshStream.batchBands(hist.filter(col("doc_id") < ids(ids.length / 3)))
      .write.mode("overwrite").parquet(s"$deltaDir/batch_id=0")
    LshStream.batchBands(hist.filter(col("doc_id") >= ids(ids.length / 3)))
      .write.mode("overwrite").parquet(s"$deltaDir/batch_id=1")
    LshStream.compactIndex(spark, deltaDir, "b_lsh_index")
    try {
      val idx = spark.table("b_lsh_index")
      val batch3 = docs.filter(col("doc_id") >= cut)
      val got = LshStream.verdictsAgainstIndex(batch3, idx).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_earlier"),
            Option(r.getAs[java.lang.Long]("dup_of")),
            r.getAs[Boolean]("is_band_dup"))))
        .toMap
      val expected = ops.Dedup.q124.fn(spark, sf)
        .filter(col("doc_id") >= cut).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_earlier"),
            Option(r.getAs[java.lang.Long]("dup_of")),
            r.getAs[Boolean]("is_band_dup"))))
        .toMap
      assert(got === expected,
        "verdicts off the compacted index must equal batch q124 for the new docs")

      // the read-optimal claim: under the forced shuffle path, the bucketed
      // index side must reach its join with NO exchange (the bucket hash on
      // band_hash satisfies the (band_idx, band_hash) distribution)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.ops.Dedup.earlierBandPartners(
            LshStream.batchBands(batch3),
            idx.select("doc_id", "band_idx", "band_hash"))
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning(bh#"),
          s"the bucketed index side must not shuffle into the candidate join:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"the index scan must report its bucketed layout:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS b_lsh_index")
  }

  test("incremental band-index compaction: O(delta) appends, same verdicts, still exchange-free") {
    import graft.streaming.LshStream
    val deltaDir = tmpDir("graft-lshi-idx") + "/bands"
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (t1, t2, t3) = (ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))

    LshStream.batchBands(docs.filter(col("doc_id") < t1))
      .write.mode("overwrite").parquet(s"$deltaDir/batch_id=0")
    LshStream.batchBands(docs.filter(col("doc_id") >= t1 && col("doc_id") < t2))
      .write.mode("overwrite").parquet(s"$deltaDir/batch_id=1")
    try {
      // first call: no table yet -> full build (the major compaction)
      val n0 = LshStream.compactIndexIncremental(spark, deltaDir, "b_lsh_inc")
      assert(n0 === spark.read.parquet(deltaDir).count())

      // a third delta lands; the incremental call must append ONLY it
      LshStream.batchBands(docs.filter(col("doc_id") >= t2 && col("doc_id") < t3))
        .write.mode("overwrite").parquet(s"$deltaDir/batch_id=2")
      val delta2 = spark.read.parquet(s"$deltaDir/batch_id=2").count()
      assert(LshStream.compactIndexIncremental(spark, deltaDir, "b_lsh_inc") === delta2,
        "the second call must fold exactly the new delta partition")
      assert(spark.table("b_lsh_inc").count() === n0 + delta2)

      // nothing new -> a strict no-op (the in-table batch_id watermark)
      assert(LshStream.compactIndexIncremental(spark, deltaDir, "b_lsh_inc") === 0L)
      assert(spark.table("b_lsh_inc").count() === n0 + delta2)

      // verdicts off the incrementally-grown table equal batch q124
      val batch4 = docs.filter(col("doc_id") >= t3)
      def vMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_earlier"),
            Option(r.getAs[java.lang.Long]("dup_of")),
            r.getAs[Boolean]("is_band_dup"))))
        .toMap
      val got = vMap(LshStream.verdictsAgainstIndex(batch4, spark.table("b_lsh_inc")))
      val expected = vMap(ops.Dedup.q124.fn(spark, sf).filter(col("doc_id") >= t3))
      assert(got === expected,
        "verdicts off the incrementally compacted index must equal batch q124")

      // appended buckets (several files per bucket now) must STILL reach
      // the candidate join without an exchange on the index side
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = graft.ops.Dedup.earlierBandPartners(
            LshStream.batchBands(batch4),
            spark.table("b_lsh_inc").select("doc_id", "band_idx", "band_hash"))
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning(bh#"),
          s"the bucketed index side must not shuffle into the candidate join:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"the index scan must stay bucketed after appends:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

      // MINOR per-bucket compaction: appends piled several files onto some
      // buckets; rewrite ONLY those, leave the rest untouched
      val tableDir = new java.io.File(
        LshStream.tableLocation(spark, "b_lsh_inc").get)
      def bucketFiles() = tableDir.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .groupBy(_.getName.replaceAll(""".*_(\d+)(?:\..*)?$""", "$1").toInt)
        .view.mapValues(_.length).toMap
      val filesBefore = bucketFiles()
      assert(filesBefore.values.max > 1, "appends must have created multi-file buckets")
      val total = spark.table("b_lsh_inc").count()
      val nRewritten = LshStream.compactBuckets(spark, "b_lsh_inc", maxFilesPerBucket = 1)
      assert(nRewritten === filesBefore.count(_._2 > 1).toLong,
        "exactly the over-threshold buckets must be rewritten")
      assert(bucketFiles().values.forall(_ === 1),
        "every bucket must be back to one file")
      assert(spark.table("b_lsh_inc").count() === total,
        "minor compaction must not change the table contents")
      assert(vMap(LshStream.verdictsAgainstIndex(batch4, spark.table("b_lsh_inc")))
        === expected,
        "verdicts off the minor-compacted table must be unchanged")
      // back to one sorted file per bucket: the scan must again satisfy
      // the join with neither an exchange NOR a sort on the index side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan2 = graft.ops.Dedup.earlierBandPartners(
            LshStream.batchBands(batch4),
            spark.table("b_lsh_inc").select("doc_id", "band_idx", "band_hash"))
          .queryExecution.executedPlan.toString
        assert(plan2.contains("Bucketed: true"),
          s"the index scan must stay bucketed after minor compaction:\n$plan2")
        assert(!plan2.contains("Exchange hashpartitioning(bh#"),
          s"no index-side exchange after minor compaction:\n$plan2")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // idempotence: nothing left over the threshold
      assert(LshStream.compactBuckets(spark, "b_lsh_inc", maxFilesPerBucket = 1) === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS b_lsh_inc")
  }

  test("fp-history compaction folds deltas into a base partition; audit pruning drops expired partitions") {
    import graft.streaming.CurationStream
    val fps = tmpDir("graft-fpc") + "/fps"
    val index = tmpDir("graft-fpc-idx") + "/bands"
    val decisions = tmpDir("graft-fpc-dec") + "/rows"
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    CurationStream.processBatch(docs.filter(col("doc_id") < c1), fps, index, decisions, 0L)
    CurationStream.processBatch(
      docs.filter(col("doc_id") >= c1 && col("doc_id") < c2), fps, index, decisions, 1L)
    def fpSet() = spark.read.parquet(fps).select("fp", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def parts() = new java.io.File(fps).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    val before = fpSet()

    // an incomplete crashed staging dir (no _SUCCESS) must be discarded
    val stale = new java.io.File(fps, ".compact_tmp")
    stale.mkdirs()
    java.nio.file.Files.write(new java.io.File(stale, "garbage").toPath, "x".getBytes)

    // fold batch 0 only (upto = lastCommitted - 1): base + live delta
    CurationStream.compactFpHistory(spark, fps, upto = 0L)
    assert(parts() === Seq("batch_id=-1", "batch_id=1"))
    assert(fpSet() === before, "folding must not change the fingerprint set")
    assert(!stale.exists(), "incomplete staging must be cleaned up")

    // fold everything: one base partition, same rows
    CurationStream.compactFpHistory(spark, fps, upto = 1L)
    assert(parts() === Seq("batch_id=-1"))
    assert(fpSet() === before)
    // idempotent when there is nothing to fold
    CurationStream.compactFpHistory(spark, fps, upto = 1L)
    assert(parts() === Seq("batch_id=-1") && fpSet() === before)

    // the sink keeps working off the compacted store: re-delivered batch-0
    // text under new ids is all exact dups -> no new fingerprints
    CurationStream.processBatch(
      docs.filter(col("doc_id") < c1).withColumn("doc_id", col("doc_id") + 1000000L),
      fps, index, decisions, 2L)
    assert(fpSet() === before,
      "re-delivered content after compaction must stay a fingerprint no-op")
    val d2 = spark.read.parquet(decisions).filter(col("batch_id") === 2)
    assert(d2.filter(!col("is_exact_dup")).count() === 0,
      "every re-delivered doc must be flagged an exact dup against the base")

    // the probe-read cost law: history is SCANNED, never shuffled — the
    // slice plan must be a broadcast semi probe with zero exchanges on
    // the store side (the store side's only exchange would be a shuffle;
    // the batch side's broadcast shows as BroadcastExchange, not hash)
    val sliceBatch = docs.filter(col("doc_id") >= c2)
      .select(md5(graft.ops.TextOps.normalized(col("text"))).as("fp")).distinct()
    val slicePlan = CurationStream.fpHistorySlice(spark, fps, 3L, sliceBatch)
      .queryExecution.executedPlan.toString
    assert(slicePlan.contains("BroadcastHashJoin") && slicePlan.contains("LeftSemi"),
      s"the store must be probed with a broadcast semi-join:\n$slicePlan")
    // the STORE branch is everything above the batch side's
    // BroadcastExchange: it must carry no shuffle (the batch side may
    // shuffle its own batch-sized distinct — that is the small side)
    val storeBranch = slicePlan.linesIterator
      .takeWhile(!_.contains("BroadcastExchange")).mkString("\n")
    assert(storeBranch.contains("FileScan parquet") &&
      !storeBranch.contains("Exchange hashpartitioning"),
      s"the fp store must never shuffle for a batch probe:\n$slicePlan")

    // audit retention: partitions below the keep horizon are dropped
    assert(CurationStream.pruneAudit(decisions, keepFrom = 2L) === 2L)
    val left = spark.read.parquet(decisions).select("batch_id").distinct()
      .collect().map(_.get(0).toString.toLong).toSet
    assert(left === Set(2L), "only the kept audit partition may remain")
  }

  test("incremental fp-store fold: O(delta) bucket appends, per-bucket major compaction, store content invariant") {
    import graft.streaming.{CurationStream, StoreCompaction}
    val fps = tmpDir("graft-fpinc") + "/fps"
    val index = tmpDir("graft-fpinc-idx") + "/bands"
    val decisions = tmpDir("graft-fpinc-dec") + "/rows"
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents").select("doc_id", "text", "source")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    CurationStream.processBatch(docs.filter(col("doc_id") < c1), fps, index, decisions, 0L)
    CurationStream.processBatch(
      docs.filter(col("doc_id") >= c1 && col("doc_id") < c2), fps, index, decisions, 1L)
    CurationStream.processBatch(docs.filter(col("doc_id") >= c2), fps, index, decisions, 2L)
    def storeRows() = spark.read.parquet(fps)
      .select("fp", "doc_id", "source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val before = storeRows()
    val baseDir = new java.io.File(fps, "batch_id=-1")
    def baseFiles() = Option(baseDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet

    // minor fold 1: batches 0 and 1 move into the bucketed base
    val moved1 = CurationStream.appendFpHistory(spark, fps, upto = 1L)
    assert(moved1 > 0L)
    assert(!new java.io.File(fps, "batch_id=0").exists())
    assert(!new java.io.File(fps, "batch_id=1").exists())
    assert(new java.io.File(fps, "batch_id=2").exists(),
      "the unfolded delta must keep its own partition")
    assert(baseFiles().nonEmpty && baseFiles().forall(_.startsWith("append_b")),
      s"base files must carry their bucket tag: ${baseFiles()}")
    assert(storeRows() === before, "a minor fold must not change store content")

    // minor fold 2 is O(delta): every file of fold 1 survives UNTOUCHED
    val afterFold1 = baseFiles()
    CurationStream.appendFpHistory(spark, fps, upto = 2L)
    assert(afterFold1.subsetOf(baseFiles()),
      "an append-only fold must never rewrite earlier base files")
    assert(storeRows() === before)

    // per-bucket major: only over-threshold buckets rewrite, to one file
    val rewrote = StoreCompaction.compactBaseBuckets(spark, fps, maxFilesPerBucket = 1)
    assert(rewrote > 0L, "two folds must leave at least one multi-file bucket")
    val bucketRe = """append_b(\d+)_.*""".r
    val perBucket = baseFiles().groupBy { case bucketRe(b) => b.toInt; case _ => -1 }
    assert(perBucket.keySet.forall(_ >= 0))
    assert(perBucket.values.forall(_.size === 1),
      s"every bucket must be back to one file: $perBucket")
    assert(storeRows() === before, "the major fold must not change store content")

    // maintenance lease: a held lease fails a second writer fast; a
    // stale one is taken over; a finished fold always releases it
    val leaseFile = new java.io.File(fps, "_maintenance_lease")
    assert(!leaseFile.exists(), "a completed fold must release its lease")
    assert(leaseFile.createNewFile())
    intercept[IllegalStateException] {
      graft.streaming.StoreCompaction.compactBaseBuckets(spark, fps)
    }
    assert(leaseFile.setLastModified(
      System.currentTimeMillis() - 60L * 60L * 1000L))
    graft.streaming.StoreCompaction.compactBaseBuckets(spark, fps)
    assert(!leaseFile.exists(), "a stale lease is taken over, then released")

    // pipeline-scope lease window: wraps the self-leasing entry points
    // reentrantly and holds every store for the whole body
    graft.streaming.StoreCompaction.withLeases(Seq(fps, index)) {
      assert(leaseFile.exists() &&
        new java.io.File(index, "_maintenance_lease").exists(),
        "the window must hold every store's lease")
      graft.streaming.StoreCompaction.compactBaseBuckets(spark, fps)
      assert(leaseFile.exists(), "a nested maintainer must reuse the held lease")
    }
    assert(!leaseFile.exists() &&
      !new java.io.File(index, "_maintenance_lease").exists(),
      "the window must release every store's lease")

    // the probe read path serves identically off the folded layout
    val probeFps = spark.createDataset(before.toSeq.map(_._1).sorted.take(50))(
      org.apache.spark.sql.Encoders.STRING).toDF("fp")
    val slice = CurationStream.fpHistorySlice(spark, fps, 10L, probeFps)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedSlice = before.groupBy(_._1).view
      .mapValues(_.map(_._2).min).toMap
      .filter(kv => probeFps.collect().map(_.getString(0)).contains(kv._1))
    assert(slice === expectedSlice,
      "history probes must serve the same owners off any fold level")
  }

  test("snapshot-keyed drift stream: artifact-served pair drift equals batch q128 on a really-shifted fixture") {
    import graft.streaming.DriftStream
    import graft.ops.Corpus
    val landing = tmpDir("graft-snap-landing")
    val deltas = tmpDir("graft-snap-art") + "/cells"
    val checkpoint = tmpDir("graft-snap-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")

    // the multi-snapshot fixture with REAL distribution shift: snapshot 1
    // collapses DriftShiftSource's length histogram and drops
    // DriftDropSource entirely (Corpus.snapshotA/B — q128's exact split)
    val tagged = Corpus.snapshotA(docs).withColumn("snapshot_id", lit(0L))
      .unionByName(Corpus.snapshotB(docs).withColumn("snapshot_id", lit(1L)))
      .localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-snap-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // landing files split by doc_id RANGE, so every micro-batch mixes
    // snapshots — the key must travel in the data, not batch boundaries
    land(tagged.filter(col("doc_id") < c1), "f1.parquet")
    DriftStream.snapshotStore(deltas).sink(DriftStream.readSnapshotDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(tagged.filter(col("doc_id") >= c1 && col("doc_id") < c2), "f2.parquet")
    DriftStream.snapshotStore(deltas).sink(DriftStream.readSnapshotDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(tagged.filter(col("doc_id") >= c2), "f3.parquet")
    DriftStream.snapshotStore(deltas).sink(DriftStream.readSnapshotDocStream(spark, landing),
      checkpoint).awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        Option(r.getAs[java.lang.Long]("chi2_fp")), r.getAs[Long]("df"),
        r.getAs[Boolean]("shifted")))
      .toSeq
    val served = rows(DriftStream.pairDriftFromDeltas(spark, deltas, 0L, 1L))
    assert(served === rows(Corpus.q128.fn(spark, sf)),
      "artifact-served snapshot-pair drift must equal the oracled q128 bit-for-bit")

    // the fixture's injected shifts are actually detected
    val bySource = served.map(r => r._1 -> r).toMap
    val dropped = bySource(Corpus.DriftDropSource)
    assert(dropped._3 === 0L && dropped._4.isEmpty && dropped._6,
      "a source absent from snapshot B must be flagged via the degenerate branch")
    // the injected shape shift, read off the ARTIFACT itself (sample-size
    // independent, unlike the χ²>2df demo threshold at 25 docs/source):
    // snapshot 0 has ≥1-bin mass for the shifted source, snapshot 1 none
    def binMass(snap: Long) = DriftStream.cellsForSnapshot(spark, deltas, snap)
      .filter(col("source") === Corpus.DriftShiftSource && col("bin") >= 1)
      .agg(coalesce(sum(col("o")), lit(0L))).head.getLong(0)
    assert(binMass(0L) > 0L,
      "fixture must have long documents for the shifted source in snapshot A")
    assert(binMass(1L) === 0L,
      "snapshot B must have lost the shifted source's upper histogram bins")
    assert(bySource(Corpus.DriftShiftSource)._3 < bySource(Corpus.DriftShiftSource)._2,
      "the shifted source must have lost documents in snapshot B")

    // replay pin: rewriting a batch's delta partition changes nothing
    val before = served
    DriftStream.snapshotStore(deltas).land(tagged.filter(col("doc_id") >= c2), 2L)
    assert(rows(DriftStream.pairDriftFromDeltas(spark, deltas, 0L, 1L)) === before,
      "a replayed snapshot-cell delta must be a no-op")

    // snapshot lifecycle registry: derived from the store itself, it must
    // report exactly the two snapshots with their true document masses
    // and batch spans (pre-compaction: deltas still carry batches 0-2)
    val reg = DriftStream.snapshotRegistry(spark, deltas).collect()
      .map(r => r.getAs[Long]("snapshot_id") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("first_batch"),
          r.getAs[Long]("last_batch"))))
      .toMap
    assert(reg.keySet === Set(0L, 1L))
    assert(reg(0L)._1 === Corpus.snapshotA(docs).count())
    assert(reg(1L)._1 === Corpus.snapshotB(docs).count())
    assert(reg(0L)._2 === 0L && reg(0L)._3 === 2L,
      "snapshot 0 cells must span the three carrying batches")
    // the enumerated adjacent sweep is the same served pair statistic
    val adj = DriftStream.adjacentPairDrift(spark, deltas)
    assert(adj.select("snap_a", "snap_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 1L)))
    assert(rows(adj.drop("snap_a", "snap_b")) === before,
      "the adjacent-pair sweep must serve the identical statistic")

    // retention pin: cells fold by exact integer sums, so pair drift —
    // including for a long-closed snapshot — serves identically off the
    // compacted base partition (the registry keeps the snapshots, with
    // first_batch collapsing to the base id)
    DriftStream.snapshotStore(deltas).compact(spark, upto = 1L)
    assert(DriftStream.snapshotRegistry(spark, deltas)
      .collect().map(_.getAs[Long]("snapshot_id")).toSet === Set(0L, 1L),
      "compaction must not lose any snapshot from the registry")
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=2"))
    assert(rows(DriftStream.pairDriftFromDeltas(spark, deltas, 0L, 1L)) === before,
      "compaction must not move any served pair statistic")

    // and the mixture-share detector flags the dropped source too (q129)
    val q129BySource = Corpus.q129.fn(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_b"), r.getAs[Boolean]("shifted")))).toMap
    assert(q129BySource(Corpus.DriftDropSource) === ((0L, true)),
      "the dropped source's SHARE shift must be caught by the mixture test")
  }

  test("rolling drift off the artifact equals oracled q131: each snapshot vs its cumulative baseline") {
    import graft.streaming.DriftStream
    import graft.ops.Corpus
    val landing = tmpDir("graft-roll-landing")
    val deltas = tmpDir("graft-roll-art") + "/cells"
    val checkpoint = tmpDir("graft-roll-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    // the q131 fixture verbatim: 4-way h60 split, DriftDropSource gone
    // from the LAST snapshot only
    val tagged = Corpus.rollTagged(docs).localCheckpoint()
    val ids = tagged.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-roll-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // two id-range batches, each mixing all four snapshots
    land(tagged.filter(col("doc_id") < cut), "f1.parquet")
    DriftStream.snapshotStore(deltas).sink(DriftStream.readSnapshotDocStream(spark, landing),
      checkpoint).awaitTermination()
    land(tagged.filter(col("doc_id") >= cut), "f2.parquet")
    DriftStream.snapshotStore(deltas).sink(DriftStream.readSnapshotDocStream(spark, landing),
      checkpoint).awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("snap"), r.getAs[String]("source"),
        r.getAs[Long]("n_base"), r.getAs[Long]("n_snap"),
        Option(r.getAs[java.lang.Long]("chi2_fp")), r.getAs[Long]("df"),
        r.getAs[Boolean]("shifted")))
      .toSeq
    val served = rows(DriftStream.rollingDriftFromDeltas(spark, deltas))
    assert(served === rows(Corpus.q131.fn(spark, sf)),
      "artifact-served rolling drift must equal the oracled q131 bit-for-bit")

    // the dropped source is present in every pre-final baseline and snap,
    // and flagged via the zero-margin branch exactly at the last snapshot
    val dropRows = served.filter(_._2 === Corpus.DriftDropSource)
    assert(dropRows.map(_._1) === (1L until Corpus.RollSnapshots.toLong),
      "the dropped source must appear at every sweep step")
    dropRows.foreach { r =>
      if (r._1 < Corpus.RollSnapshots - 1)
        assert(r._4 > 0L, s"snap ${r._1}: source still present before the drop")
      else
        assert(r._4 === 0L && r._5.isEmpty && r._7,
          "the final snapshot must flag the vanished source degenerately")
    }
  }

  test("embedding occupancy stream: artifact-served snapshot-pair drift equals the frozen-cluster batch statistic") {
    import graft.streaming.EmbeddingStream
    import graft.ops.{Dedup, Similarity}
    val landing = tmpDir("graft-occ-landing")
    val deltas = tmpDir("graft-occ-art") + "/cells"
    val checkpoint = tmpDir("graft-occ-ckpt")
    val sf = "/root/testdata/sf0.001"
    val emb = Catalog.table(spark, sf, "embeddings")
    val centroidPath = Similarity.buildIvfIndex(spark, sf)
    val cents = spark.read.parquet(centroidPath)

    // multi-snapshot fixture with real embedding-space shift: snapshot 1
    // loses the min FROZEN cluster entirely (a region of space vanishes)
    val asgAll = EmbeddingStream.assignFrozen(emb, cents)
      .select("vec_id", "cluster").localCheckpoint()
    val minCluster = asgAll.agg(min(col("cluster"))).head.getLong(0)
    val tagged = emb
      .withColumn("snapshot_id",
        Dedup.h60Col(concat(lit("esnap:"), col("vec_id").cast("string"))) % 2)
      .join(asgAll, Seq("vec_id"))
      .filter(!(col("snapshot_id") === 1 && col("cluster") === minCluster))
      .select("vec_id", "embedding", "label", "snapshot_id")
      .localCheckpoint()
    val ids = tagged.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-occ-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // two landing files split by vec_id range: batches mix snapshots
    land(tagged.filter(col("vec_id") < cut), "f1.parquet")
    EmbeddingStream.occupancyStore(deltas, centroidPath).sink(
      EmbeddingStream.readSnapshotEmbStream(spark, landing), checkpoint).awaitTermination()
    land(tagged.filter(col("vec_id") >= cut), "f2.parquet")
    EmbeddingStream.occupancyStore(deltas, centroidPath).sink(
      EmbeddingStream.readSnapshotEmbStream(spark, landing), checkpoint).awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("cluster"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("share_a_bp"), r.getAs[Long]("share_b_bp"),
        r.getAs[Long]("contrib_fp"), r.getAs[Long]("chi2_fp"), r.getAs[Long]("df"),
        r.getAs[Boolean]("shifted")))
      .toSeq
    // batch twin: the same frozen assignment aggregated in one shot
    val occ = tagged.join(asgAll, Seq("vec_id"))
    val expected = rows(Similarity.occupancyPairChi2(
      occ.filter(col("snapshot_id") === 0).groupBy("cluster").agg(count(lit(1)).as("na")),
      occ.filter(col("snapshot_id") === 1).groupBy("cluster").agg(count(lit(1)).as("nb"))))
    val served = rows(EmbeddingStream.occupancyPairFromDeltas(spark,
      EmbeddingStream.occupancyStore(deltas, centroidPath), 0L, 1L))
    assert(served === expected,
      "artifact-served occupancy drift must equal the frozen-cluster batch statistic")

    // the vanished region is visible and attributed
    val dropRow = served.find(_._1 === minCluster).get
    assert(dropRow._2 > 0L && dropRow._3 === 0L,
      "the dropped cluster must appear with zero snapshot-B mass")

    // replay + compaction pins: both must leave every served number fixed
    EmbeddingStream.occupancyStore(deltas, centroidPath)
      .land(tagged.filter(col("vec_id") >= cut), 1L)
    assert(rows(EmbeddingStream.occupancyPairFromDeltas(spark,
      EmbeddingStream.occupancyStore(deltas, centroidPath), 0L, 1L)) === expected,
      "a replayed occupancy delta must be a no-op")
    EmbeddingStream.occupancyStore(deltas, centroidPath).compact(spark, upto = 0L)
    assert(new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq ===
      Seq("batch_id=-1", "batch_id=1"))
    assert(rows(EmbeddingStream.occupancyPairFromDeltas(spark,
      EmbeddingStream.occupancyStore(deltas, centroidPath), 0L, 1L)) === expected,
      "compaction must not move any served statistic")

    // ARRIVAL-ORDER invariance, stated explicitly: occupancy cells are
    // add-mergeable integer counts keyed by (snapshot, cluster), so a
    // REVERSED delivery of the same corpus serves the identical
    // statistic — unlike the dedup verdicts, no first-seen rule is even
    // needed here
    val landing2 = tmpDir("graft-occ2-landing")
    val deltas2 = tmpDir("graft-occ2-art") + "/cells"
    val checkpoint2 = tmpDir("graft-occ2-ckpt")
    def land2(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-occ2-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing2, name))
    }
    land2(tagged.filter(col("vec_id") >= cut), "f1.parquet")
    EmbeddingStream.occupancyStore(deltas2, centroidPath).sink(
      EmbeddingStream.readSnapshotEmbStream(spark, landing2), checkpoint2).awaitTermination()
    land2(tagged.filter(col("vec_id") < cut), "f2.parquet")
    EmbeddingStream.occupancyStore(deltas2, centroidPath).sink(
      EmbeddingStream.readSnapshotEmbStream(spark, landing2), checkpoint2).awaitTermination()
    assert(rows(EmbeddingStream.occupancyPairFromDeltas(spark,
      EmbeddingStream.occupancyStore(deltas2, centroidPath), 0L, 1L)) === expected,
      "reversed arrival must serve the identical occupancy statistic")
  }

  test("scrub stream: artifact-served verdicts equal batch q137; re-delivered files are a no-op") {
    import graft.streaming.ScrubStream
    import graft.ops.Dedup
    val landing = tmpDir("graft-scrub-landing")
    val store = tmpDir("graft-scrub-store") + "/rows"
    val index = tmpDir("graft-scrub-index") + "/pairs"
    val checkpoint = tmpDir("graft-scrub-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") >= 50)
    val ids = corpus.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    val benchRoot = ScrubStream.buildBenchArtifact(spark, sf)

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-scrub-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    land(corpus.filter(col("doc_id") < cut), "f1.parquet")
    ScrubStream.scrubSink(ScrubStream.readDocStream(spark, landing),
      benchRoot, store, checkpoint, Some(index)).awaitTermination()
    land(corpus.filter(col("doc_id") >= cut), "f2.parquet")
    ScrubStream.scrubSink(ScrubStream.readDocStream(spark, landing),
      benchRoot, store, checkpoint, Some(index)).awaitTermination()

    // the streamed store must carry EXACTLY the batch q137 verdicts
    // (kernel shared verbatim; the artifact hash set == the inline set)
    def vMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String, Boolean)] =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("scrubbed_fp"), r.getAs[Boolean]("was_contaminated")))).toMap
    val expected = vMap(Dedup.q137.fn(spark, sf))
    assert(vMap(spark.read.parquet(store)) === expected,
      "streamed scrub store must equal the one-shot q137 run")
    // and every row kept its source column for the store-served report
    assert(spark.read.parquet(store).filter(col("source").isNull).count() === 0L)

    // re-deliver the same content under a new name: first-seen wins, store unchanged
    land(corpus.filter(col("doc_id") >= cut), "f3.parquet")
    ScrubStream.scrubSink(ScrubStream.readDocStream(spark, landing),
      benchRoot, store, checkpoint, Some(index)).awaitTermination()
    assert(spark.read.parquet(store).count() === expected.size.toLong,
      "re-delivered documents must not grow the scrub store")

    // RETENTION: the store accretes per-batchId partitions; the O(delta)
    // minor fold moves them into the base (batch_id=-1) without reading
    // it — and NOTHING served off the store may change: rows, the q141
    // report kernel, or the first-seen probe (base id -1 stays inside
    // every `batch_id < batchId` history filter).
    def reportRows(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.scrubReport(df).collect().map(_.toSeq).toSeq
    val reportBefore = reportRows(spark.read.parquet(store))
    graft.streaming.StoreCompaction.appendInto(
      spark, store, upto = Long.MaxValue, bucketCols = Seq("doc_id"))
    val partsAfter = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(partsAfter === Set("batch_id=-1"), s"all deltas must fold into the base: $partsAfter")
    assert(vMap(spark.read.parquet(store)) === expected,
      "folded store must serve the identical verdicts")
    assert(reportRows(spark.read.parquet(store)) === reportBefore,
      "the report kernel must not see the fold")
    // the probe still dedups re-deliveries against the folded base
    land(corpus.filter(col("doc_id") < cut), "f4.parquet")
    ScrubStream.scrubSink(ScrubStream.readDocStream(spark, landing),
      benchRoot, store, checkpoint, Some(index)).awaitTermination()
    assert(spark.read.parquet(store).count() === expected.size.toLong,
      "re-delivery after the fold must still be a no-op")

    // SINK-MAINTAINED SHINGLE INDEX: the union of per-batch deltas must
    // be exactly the one-shot corpus index (docs are first-seen-unique
    // across batches, so no cross-batch dedup is needed)...
    import graft.ops.Dedup
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("h", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = pairSet(Dedup.positionalShingles(
      corpus.select(col("doc_id"), col("text"))).select("h", "doc_id").distinct())
    assert(pairSet(spark.read.parquet(index)) === oneShot,
      "sink-maintained index must equal the one-shot corpus index")
    // ...rotation served off the sink-built index equals a full re-scrub...
    val h1 = Dedup.benchShingleHashes(docs.filter(col("doc_id") < 25)).localCheckpoint()
    val h2 = Dedup.benchShingleHashes(docs.filter(col("doc_id") < 50)).localCheckpoint()
    val v1 = Dedup.scrubSpansByHashes(
      corpus.select(col("doc_id"), col("text")), h1).localCheckpoint()
    def rot() = vMap(Dedup.incrementalRescrubIndexed(
      corpus.select(col("doc_id"), col("text")), v1,
      spark.read.parquet(index).drop("batch_id"), h1, h2))
    val fullV2 = vMap(Dedup.scrubSpansByHashes(corpus.select(col("doc_id"), col("text")), h2))
    assert(rot() === fullV2, "rotation off the sink-built index must equal the full scrub")
    // ...and folding the index deltas into the base changes nothing
    graft.streaming.StoreCompaction.appendInto(
      spark, index, upto = Long.MaxValue, bucketCols = Seq("h"))
    assert(pairSet(spark.read.parquet(index)) === oneShot,
      "folded index must carry the identical pairs")
    assert(rot() === fullV2, "rotation off the folded index must be unchanged")
  }

  test("scrub stream: a release rotates WHILE the corpus grows — final store equals the full v2 scrub") {
    import graft.streaming.ScrubStream
    import graft.ops.Dedup
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") >= 50)
    val ids = corpus.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    val h1 = Dedup.benchShingleHashes(docs.filter(col("doc_id") < 25)).localCheckpoint()
    val h2 = Dedup.benchShingleHashes(docs.filter(col("doc_id") < 50)).localCheckpoint()
    // two release artifacts (bench hash parquet is the whole artifact shape)
    val benchV1 = tmpDir("graft-rot-bv1"); val benchV2 = tmpDir("graft-rot-bv2")
    h1.write.mode("overwrite").parquet(s"$benchV1/hashes")
    h2.write.mode("overwrite").parquet(s"$benchV2/hashes")

    val landing = tmpDir("graft-rot-landing")
    val index = tmpDir("graft-rot-index") + "/pairs"
    val storeV1 = tmpDir("graft-rot-s1") + "/rows"
    val storeV2 = tmpDir("graft-rot-s2") + "/rows"
    val ckpt1 = tmpDir("graft-rot-ck1"); val ckpt2 = tmpDir("graft-rot-ck2")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-rot-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // phase 1: chunk A lands under release v1 (verdicts + index maintained)
    val chunkA = corpus.filter(col("doc_id") < cut)
    land(chunkA, "a.parquet")
    ScrubStream.scrubSink(ScrubStream.readDocStream(spark, landing),
      benchV1, storeV1, ckpt1, Some(index)).awaitTermination()

    // phase 2: the release ROTATES mid-stream — v2 store seeded as the
    // indexed rotation of the v1 store over the corpus-so-far, written
    // to the BASE partition so the sink's history probe sees it
    val rotated = Dedup.incrementalRescrubIndexed(
        chunkA.select(col("doc_id"), col("text")),
        spark.read.parquet(storeV1).drop("source", "batch_id"),
        spark.read.parquet(index).drop("batch_id"), h1, h2)
      .join(chunkA.select(col("doc_id"), col("source")), Seq("doc_id"))
    rotated.write.mode("overwrite").parquet(s"$storeV2/batch_id=-1")
    // rotation maintenance also folds the index deltas into the base:
    // the v2 stream restarts batch ids at 0 (its own checkpoint), and
    // without the fold its first delta would overwrite chunk A's
    graft.streaming.StoreCompaction.appendInto(
      spark, index, upto = Long.MaxValue, bucketCols = Seq("h"))

    // phase 3: chunk B lands AFTER rotation, scrubbed against v2
    land(corpus.filter(col("doc_id") >= cut), "b.parquet")
    ScrubStream.scrubSink(ScrubStream.readDocStream(spark, landing),
      benchV2, storeV2, ckpt2, Some(index)).awaitTermination()

    // the composed store must equal a one-shot full-corpus v2 scrub
    def vMap2(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String, Boolean)] =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("scrubbed_fp"), r.getAs[Boolean]("was_contaminated")))).toMap
    val expected = vMap2(Dedup.scrubSpansByHashes(
      corpus.select(col("doc_id"), col("text")), h2))
    assert(vMap2(spark.read.parquet(storeV2)) === expected,
      "rotation-mid-stream store must equal the full v2 scrub of the grown corpus")
    // and the index kept growing across the rotation: it covers BOTH chunks
    val idxDocs = spark.read.parquet(index).select("doc_id").distinct().count()
    val posDocs = Dedup.positionalShingles(corpus.select(col("doc_id"), col("text")))
      .select("doc_id").distinct().count()
    assert(idxDocs === posDocs, "index must cover the whole grown corpus")
  }

  test("self-maintaining LM sink: the hook folds at thresholds, clamps at a live pin, and serving stays bit-identical at head and pin") {
    import graft.streaming.{CorpusStream, StoreCompaction}
    val landing = tmpDir("graft-selfmaint-landing")
    val deltas = tmpDir("graft-selfmaint-art") + "/deltas"
    val checkpoint = tmpDir("graft-selfmaint-ckpt")
    val sf = "/root/testdata/sf0.001"
    val docs = Catalog.table(spark, sf, "documents")

    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-selfmaint-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }

    // a model release pinned at landing 3, registered BEFORE any
    // maintenance can run — the hook must clamp to it forever after
    StoreCompaction.registerPin(deltas, "release_3", 3L)

    // 12 one-file landings drained as 12 micro-batches by ONE paced
    // sink run; the hook runs the threshold policy after every batch
    val nLand = 12
    (0 until nLand).foreach { i =>
      land(docs.filter(pmod(col("doc_id"), lit(nLand.toLong)) === lit(i.toLong)),
        f"f$i%02d.parquet")
    }
    val pol = StoreCompaction.MaintenancePolicy(
      minorAtDeltas = 4, keepLatestDeltas = 1, maxFilesPerBucket = 4, nBuckets = 4)
    CorpusStream.lmStore(deltas).sink(CorpusStream.readDocStreamPaced(spark, landing), checkpoint,
      maintain = Some(pol)).awaitTermination()

    // the hook folded (a base exists) but never crossed the live pin
    val horizon = StoreCompaction.compactionHorizon(deltas)
    assert(horizon.nonEmpty && horizon.get <= 3L,
      s"the sink's folds must clamp at the live pin: horizon=$horizon")
    val parts = new java.io.File(deltas).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    assert(parts.head === "batch_id=-1" &&
      parts.tail.forall(_.stripPrefix("batch_id=").toLong > 3L),
      s"pinned history must live in the base, post-pin landings as deltas: $parts")

    def tbl(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // head serving == the batch train over every landing
    assert(tbl(CorpusStream.lmStore(deltas).servedAt(spark)) ===
      tbl(CorpusStream.lmCells(docs)),
      "self-maintained head serving must equal the batch train")
    // pinned serving == the batch train over landings 0..3 only
    assert(tbl(CorpusStream.lmStore(deltas).servedAt(spark, upto = 3L)) ===
      tbl(CorpusStream.lmCells(docs.filter(pmod(col("doc_id"), lit(nLand.toLong)) <= 3L))),
      "pinned serving must survive every hook-driven fold bit-identically")
  }

  test("amendment stream: corrections land as a request stream, the family re-elects per targeted landing, and a replayed request batch is a no-op") {
    import graft.streaming.{Amend, CorpusStream, CurationStream}
    val sf = "/root/testdata/sf0.001"
    val (corrected, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = corrected.localCheckpoint(); val c = corpus.localCheckpoint()
    val d = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text", "source").localCheckpoint()
    val root = tmpDir("graft-amend-stream")
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      CurationStream.processBatch(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi),
        s"$root/fp", s"$root/index", s"$root/decisions", k.toLong,
        Some(s"$root/accepted"), Some(s"$root/quarantine"))
    }
    val (landing, markers, checkpoint, audit) = (tmpDir("graft-amend-req"),
      tmpDir("graft-amend-markers"), tmpDir("graft-amend-ck"),
      tmpDir("graft-amend-audit"))
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-amend-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }
    // a SUM-cell co-target: the LM store amends in the same wave
    val lmStore = tmpDir("graft-amend-stream-lm") + "/deltas"
    bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      CorpusStream.lmStore(lmStore).land(d.filter(col("doc_id") >= lo && col("doc_id") < hi),
        k.toLong)
    }
    val targets = Amend.AmendTargets(curationRoot = Some(root),
      cellStores = Seq(CorpusStream.lmStore(lmStore)))
    land(b.select(lit(1L).as("amend_batch"), col("doc_id"), col("text"),
      col("source")), "corrections.parquet")
    Amend.amendSink(Amend.readAmendStream(spark, landing), targets, markers,
      checkpoint, auditRoot = Some(audit)).awaitTermination()
    assert(CorpusStream.lmStore(lmStore).servedAt(spark)
        .collect().map(_.toSeq).toSet ===
      CorpusStream.lmCells(c).collect().map(_.toSeq).toSet,
      "the co-targeted SUM-cell store must serve the corrected retrain")

    def decTable() = CurationStream.decisions(spark, s"$root/decisions")
      .collect().map(_.toSeq).toSeq
    val scratch = tmpDir("graft-amend-stream-scratch")
    CurationStream.processBatch(c, s"$scratch/fp", s"$scratch/index",
      s"$scratch/decisions", 0L, None, None)
    val after = decTable()
    assert(after === CurationStream.decisions(spark, s"$scratch/decisions")
      .collect().map(_.toSeq).toSeq,
      "the streamed amendment must equal the from-scratch corrected build")
    assert(new java.io.File(markers, "_amend_0").exists(),
      "the request marker must commit after the amendments")
    // the certificate carries the pre-computable masses, first-writer-wins
    val cert = Amend.amendmentCertificate(spark, audit)
      .filter(col("store") === "curation" && col("amend") === 1L)
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(cert("old_docs_erased") > 0L &&
      cert("corrected_docs_landed") === b.count(), s"certificate: $cert")
    // replay: a fresh checkpoint re-delivers the same file as batch 0 —
    // the marker skips it and not a verdict moves
    Amend.amendSink(Amend.readAmendStream(spark, landing), targets, markers,
      tmpDir("graft-amend-ck2"), auditRoot = Some(audit))
      .awaitTermination()
    assert(decTable() === after, "a replayed request batch must be a no-op")
    assert(Amend.amendmentCertificate(spark, audit).count() === 5L,
      "the replay must not re-certify (3 curation rows + 2 lm rows)")
  }
}
