package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.{CorpusStream, Forget, ForgetStream, StoreCompaction}

/** The SYSTEM soak: one store family (the LM cell store — SUM cells,
  * release pins, threshold maintenance, streamed forget) driven through
  * the full interleaving a deployment actually runs — ingest landings,
  * forget request waves, pin registration and release rotation, and
  * threshold-driven maintenance after every step — asserting after EVERY
  * step that serving is EXACTLY the batch retrain on the logical corpus
  * (landed ∪ … minus forgotten), both unpinned and at each live release
  * pin. The per-family specs each pin two-way compositions; this pins
  * the n-way interleaving.
  *
  * Runs at sf0.01 (the correctness-gate scale) so the vocabulary is
  * non-toy; every equality is exact (integer bigram counts).
  */
class SoakSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  private def lmMap(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("soak: ingest landings, forget waves, pins, release rotation, and threshold maintenance interleave with serving exactly equal to the logical-corpus retrain at every step") {
    val sf = "/root/testdata/sf0.01"
    val docs = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 10
    def sliceBound(k: Int): Long =
      if (k >= nLandings) Long.MaxValue else ids(k * ids.length / nLandings)
    def slice(k: Int) = docs.filter(
      col("doc_id") >= sliceBound(k) && col("doc_id") < sliceBound(k + 1))

    val store = tmpDir("graft-soak") + "/lm"
    val markers = tmpDir("graft-soak-mk")
    val policy = StoreCompaction.MaintenancePolicy(
      minorAtDeltas = 2, keepLatestDeltas = 1, maxFilesPerBucket = 2, nBuckets = 4)

    // the logical state the store must always serve
    var landedUpto = -1                   // highest landed slice index
    var forgotten: Seq[org.apache.spark.sql.Column] = Nil
    def corpusOf(upToSlice: Int) = {
      val base = docs.filter(col("doc_id") < sliceBound(upToSlice + 1))
      forgotten.foldLeft(base)((d, p) => d.filter(!p))
    }
    def checkUnpinned(step: String): Unit =
      assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) ===
        lmMap(CorpusStream.lmCells(corpusOf(landedUpto))),
        s"[$step] unpinned serving must equal the logical-corpus retrain")
    def checkPinned(step: String, pinBatch: Int): Unit =
      assert(lmMap(CorpusStream.lmStore(store).servedAt(spark, upto = pinBatch.toLong)) ===
        lmMap(CorpusStream.lmCells(corpusOf(pinBatch))),
        s"[$step] pinned($pinBatch) serving must equal the pinned logical corpus " +
          "minus every forget so far (erasure is retroactive by law)")

    def land(k: Int): Unit = {
      CorpusStream.lmStore(store).land(slice(k), k.toLong)
      landedUpto = k
    }
    def maintainPass(): Unit = {
      StoreCompaction.maintain(spark, store, Seq("w1"), policy)
      ()
    }
    def forgetWave(batchId: Long, pred: org.apache.spark.sql.Column): Unit = {
      // a wave may only name docs whose slices have LANDED (the store
      // never counted the rest — negating them would be an error, and
      // the serve-path guard proves it elsewhere)
      val wavePred = pred && col("doc_id") < sliceBound(landedUpto + 1)
      ForgetStream.processBatch(
        docs.filter(wavePred).select("doc_id"), docs,
        ForgetStream.ForgetTargets(cellStores = Seq(CorpusStream.lmStore(store))),
        markers, batchId)
      forgotten = forgotten :+ wavePred
    }

    // ── the interleaving ──────────────────────────────────────────────
    land(0); land(1); land(2)
    checkUnpinned("after landings 0-2")
    maintainPass()
    checkUnpinned("after first maintenance fold")

    land(3); land(4)
    StoreCompaction.registerPin(store, "rel_v1", 4L)
    checkUnpinned("after landings 3-4")
    checkPinned("rel_v1 registered", 4)

    forgetWave(0L, pmod(col("doc_id"), lit(17L)) === lit(3L))
    checkUnpinned("after forget wave A")
    checkPinned("wave A is retroactive through rel_v1", 4)

    maintainPass() // wants to fold past the pin — must clamp, not break
    checkUnpinned("after pin-clamped maintenance")
    checkPinned("pin survives maintenance", 4)

    land(5); land(6)
    checkUnpinned("after landings 5-6")
    checkPinned("rel_v1 unchanged by new landings", 4)

    forgetWave(1L, pmod(col("doc_id"), lit(17L)) === lit(5L))
    checkUnpinned("after forget wave B")
    // wave B's docs span landings 5-6 — BEYOND rel_v1's slice. The
    // negative delta can no longer be faithful at pin 4 (it would
    // subtract bigrams whose positive cells lie past the pin), so the
    // forget horizon seals history and the pinned read refuses loudly
    // instead of serving counts wrong in either legal direction.
    val exStale = intercept[IllegalStateException] {
      CorpusStream.lmStore(store).servedAt(spark, upto = 4L).collect()
    }
    assert(exStale.getMessage.contains("forget"),
      s"a pin below the forget frontier must refuse, got: ${exStale.getMessage}")

    maintainPass()
    checkUnpinned("after second maintenance")

    // release rotation: v1 retires (sealed by wave B anyway), v2 pins at
    // landing 8 — at/above the forget frontier, so it serves
    land(7); land(8)
    StoreCompaction.releasePin(store, "rel_v1")
    StoreCompaction.registerPin(store, "rel_v2", 8L)
    checkUnpinned("after landings 7-8 and rotation")
    checkPinned("rel_v2 serves its pinned corpus", 8)

    maintainPass() // may now legally fold up to 8 (clamped there)
    checkUnpinned("after post-rotation maintenance")
    checkPinned("rel_v2 survives the fold", 8)

    land(9)
    maintainPass()
    checkUnpinned("final state")
    checkPinned("rel_v2 at final state", 8)

    // a replayed forget wave (same batchId) through the full history is
    // still a marker-gated no-op
    val before = lmMap(CorpusStream.lmStore(store).servedAt(spark))
    ForgetStream.processBatch(
      docs.filter(pmod(col("doc_id"), lit(17L)) === lit(5L)).select("doc_id"),
      docs, ForgetStream.ForgetTargets(cellStores = Seq(CorpusStream.lmStore(store))), markers, 1L)
    assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) === before,
      "a replayed wave must not move a single count")
  }

  test("soak (pin-preserving mode): a forget wave spanning landings BEYOND a live release no longer seals it — the split landing keeps every pin serving its slice retrain through maintenance") {
    val sf = "/root/testdata/sf0.01"
    val docs = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 10
    def sliceBound(k: Int): Long =
      if (k >= nLandings) Long.MaxValue else ids(k * ids.length / nLandings)
    def slice(k: Int) = docs.filter(
      col("doc_id") >= sliceBound(k) && col("doc_id") < sliceBound(k + 1))
    val srcCol = (1 until nLandings - 1)
      .foldLeft(when(col("doc_id") < sliceBound(1), 0L)) { (w, k) =>
        w.when(col("doc_id") < sliceBound(k + 1), k.toLong)
      }.otherwise((nLandings - 1).toLong)
    val content = docs.withColumn("src_batch", srcCol).localCheckpoint()

    val store = tmpDir("graft-soak-split") + "/lm"
    val markers = tmpDir("graft-soak-split-mk")
    val policy = StoreCompaction.MaintenancePolicy(
      minorAtDeltas = 2, keepLatestDeltas = 1, maxFilesPerBucket = 2, nBuckets = 4)
    val targets = ForgetStream.ForgetTargets(
      cellStores = Seq(CorpusStream.lmStore(store)), splitBySrcBatch = true)

    var landedUpto = -1
    var forgotten: Seq[org.apache.spark.sql.Column] = Nil
    def corpusOf(upToSlice: Int) = {
      val base = docs.filter(col("doc_id") < sliceBound(upToSlice + 1))
      forgotten.foldLeft(base)((d, p) => d.filter(!p))
    }
    def land(k: Int): Unit = {
      CorpusStream.lmStore(store).land(slice(k), k.toLong); landedUpto = k
    }
    def waveSplit(batchId: Long, pred: org.apache.spark.sql.Column): Unit = {
      val wavePred = pred && col("doc_id") < sliceBound(landedUpto + 1)
      ForgetStream.processBatch(
        docs.filter(wavePred).select("doc_id"), content, targets,
        markers, batchId)
      forgotten = forgotten :+ wavePred
    }
    def check(step: String): Unit = {
      assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) ===
        lmMap(CorpusStream.lmCells(corpusOf(landedUpto))),
        s"[$step] unpinned serving must equal the logical-corpus retrain")
      StoreCompaction.livePins(store).foreach { case (name, p) =>
        assert(lmMap(CorpusStream.lmStore(store).servedAt(spark, upto = p)) ===
          lmMap(CorpusStream.lmCells(corpusOf(p.toInt))),
          s"[$step] $name@$p must serve its slice retrain minus every wave so far")
      }
    }

    land(0); land(1); land(2); land(3); land(4)
    StoreCompaction.registerPin(store, "rel_v1", 4L)
    check("after landings 0-4 and rel_v1")
    waveSplit(0L, pmod(col("doc_id"), lit(17L)) === lit(3L))
    check("after wave A (inside the pin)")
    StoreCompaction.maintain(spark, store, Seq("w1"), policy)
    check("after pin-clamped maintenance")

    land(5); land(6)
    // THE scenario that sealed rel_v1 in whole-wave mode: wave B's docs
    // span landings 5-6, beyond the live pin. Split landings negate per
    // source batch, so rel_v1 keeps serving — with wave B's slice-4
    // members erased from it retroactively.
    waveSplit(1L, pmod(col("doc_id"), lit(17L)) === lit(5L))
    StoreCompaction.requireServableAt(store, 4L)
    check("after wave B beyond the pin — rel_v1 still serves")
    assert(StoreCompaction.forgetHorizon(store).isEmpty,
      "split mode must never seal a forget horizon")

    StoreCompaction.maintain(spark, store, Seq("w1"), policy)
    check("after maintenance under the live pin")
    land(7); land(8)
    StoreCompaction.registerPin(store, "rel_v2", 8L)
    check("two live releases, both erasure-aware")
    StoreCompaction.releasePin(store, "rel_v1")
    StoreCompaction.maintain(spark, store, Seq("w1"), policy)
    land(9)
    check("final state after rotation and fold")

    // replay of wave B is a marker-gated no-op
    val before = lmMap(CorpusStream.lmStore(store).servedAt(spark))
    ForgetStream.processBatch(
      docs.filter(pmod(col("doc_id"), lit(17L)) === lit(5L) &&
        col("doc_id") < sliceBound(7)).select("doc_id"),
      content, targets, markers, 1L)
    assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) === before,
      "a replayed split wave must not move a single count")
  }

  test("soak (retention mode): landings, split forget waves, and expiries interleave with windowed serving exactly equal to the retained-window retrain at every step") {
    val sf = "/root/testdata/sf0.01"
    val docs = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 6
    def sliceBound(k: Int): Long =
      if (k >= nLandings) Long.MaxValue else ids(k * ids.length / nLandings)
    def slice(k: Int) = docs.filter(
      col("doc_id") >= sliceBound(k) && col("doc_id") < sliceBound(k + 1))
    val srcCol = (1 until nLandings - 1)
      .foldLeft(when(col("doc_id") < sliceBound(1), 0L)) { (w, k) =>
        w.when(col("doc_id") < sliceBound(k + 1), k.toLong)
      }.otherwise((nLandings - 1).toLong)

    val store = tmpDir("graft-soak-ttl") + "/lm"
    var landedUpto = -1
    var floor = 0L
    var forgotten: Seq[org.apache.spark.sql.Column] = Nil
    def land(k: Int): Unit = {
      CorpusStream.lmStore(store).land(slice(k), k.toLong); landedUpto = k
    }
    def wave(reqId: Long, pred: org.apache.spark.sql.Column): Unit = {
      val wavePred = pred && col("doc_id") < sliceBound(landedUpto + 1)
      CorpusStream.lmStore(store).forgetSplit(docs.filter(wavePred).withColumn("src_batch",
        srcCol), requestId = reqId)
      forgotten = forgotten :+ wavePred
    }
    def check(step: String): Unit = {
      val window = docs.filter(col("doc_id") >= sliceBound(floor.toInt) &&
        col("doc_id") < sliceBound(landedUpto + 1))
      val logical = forgotten.foldLeft(window)((d, p) => d.filter(!p))
      assert(lmMap(CorpusStream.lmStore(store).servedWindow(spark, lo = floor)) ===
        lmMap(CorpusStream.lmCells(logical)),
        s"[$step] the windowed serve must equal the retained-window retrain")
    }

    land(0); land(1); land(2)
    check("after landings 0-2")
    wave(0L, pmod(col("doc_id"), lit(17L)) === lit(3L))
    check("after wave A")
    StoreCompaction.expireBefore(store, 1L); floor = 1L
    check("after expiring landing 0 (wave A's slice-0 negatives left with it)")
    land(3); land(4)
    check("after landings 3-4")
    wave(1L, pmod(col("doc_id"), lit(17L)) === lit(5L))
    check("after wave B across the window")
    StoreCompaction.expireBefore(store, 3L); floor = 3L
    check("after expiring landings 1-2 under two waves")
    land(5)
    // a wave naming docs whose landings EXPIRED lands nothing for them
    wave(2L, pmod(col("doc_id"), lit(17L)) === lit(7L))
    check("final: expired-source members of wave C were no-ops")
    assert(StoreCompaction.retentionFloor(store) === Some(3L),
      "the floor is monotone across the interleaving")
  }

  test("soak (epoch-banded retention): landings, split waves, policy banding, and certified epoch-aligned expiry interleave with the windowed serve equal to the retained-window retrain at every step") {
    val sf = "/root/testdata/sf0.01"
    val docs = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 8
    def sliceBound(k: Int): Long =
      if (k >= nLandings) Long.MaxValue else ids(k * ids.length / nLandings)
    def slice(k: Int) = docs.filter(
      col("doc_id") >= sliceBound(k) && col("doc_id") < sliceBound(k + 1))
    val srcCol = (1 until nLandings - 1)
      .foldLeft(when(col("doc_id") < sliceBound(1), 0L)) { (w, k) =>
        w.when(col("doc_id") < sliceBound(k + 1), k.toLong)
      }.otherwise((nLandings - 1).toLong)

    val root = tmpDir("graft-soak-epoch")
    val (store, audit) = (s"$root/lm", s"$root/audit")
    val pol = StoreCompaction.MaintenancePolicy(
      keepLatestDeltas = 1, epochSize = Some(2L))
    var landedUpto = -1
    var floor = 0L
    var forgotten: Seq[org.apache.spark.sql.Column] = Nil
    def land(k: Int): Unit = {
      CorpusStream.lmStore(store).land(slice(k), k.toLong); landedUpto = k
    }
    def wave(reqId: Long, pred: org.apache.spark.sql.Column): Unit = {
      val wavePred = pred && col("doc_id") < sliceBound(landedUpto + 1)
      CorpusStream.lmStore(store).forgetSplit(docs.filter(wavePred).withColumn("src_batch",
        srcCol), requestId = reqId)
      forgotten = forgotten :+ wavePred
    }
    def check(step: String): Unit = {
      val window = docs.filter(col("doc_id") >= sliceBound(floor.toInt) &&
        col("doc_id") < sliceBound(landedUpto + 1))
      val logical = forgotten.foldLeft(window)((d, p) => d.filter(!p))
      assert(lmMap(CorpusStream.lmStore(store).servedWindow(spark, lo = floor)) ===
        lmMap(CorpusStream.lmCells(logical)),
        s"[$step] the windowed serve must equal the retained-window retrain")
    }
    def maintainPass(step: String): Long = {
      val rep = StoreCompaction.maintain(spark, store, Seq("w1", "w2"), pol)
      check(step)
      rep.epochsFolded
    }

    land(0); land(1); land(2)
    check("after landings 0-2")
    assert(maintainPass("after banding epoch 0") === 1L)
    wave(0L, pmod(col("doc_id"), lit(17L)) === lit(3L))
    check("after wave A (late negatives for the folded epoch 0 still window)")
    land(3); land(4)
    // the pass refolds epoch 0 (absorbing wave A's late src-0/1
    // negatives) and bands epoch 1 (batches 2-3 + the src-2/3 negatives)
    assert(maintainPass("after banding epoch 1 + absorbing late negatives") === 2L)
    StoreCompaction.expireBefore(store, 2L); floor = 2L
    check("after one-directory expiry of epoch 0")
    land(5); land(6)
    wave(1L, pmod(col("doc_id"), lit(17L)) === lit(5L))
    check("after wave B across the banded window")
    assert(maintainPass("after banding epoch 2 under two waves") === 2L)
    // mid-epoch expiry refuses on the banded store
    assert(intercept[IllegalStateException] {
      StoreCompaction.expireBefore(store, 3L)
    }.getMessage.contains("align"),
      "a floor inside a folded epoch must refuse loudly")
    // epoch-aligned CERTIFIED expiry: one directory drop, one audit row
    val exp = StoreCompaction.expireBeforeCertified(spark, store, 4L, audit,
      storeName = "soak_lm")
    floor = 4L
    assert(exp.droppedBatches === Seq(StoreCompaction.EpochFoldBase - 1L),
      s"epoch 1 must drop as its single banded directory: $exp")
    val cert = StoreCompaction.expiryCertificate(spark, audit)
      .select("store", "floor", "action", "n").collect().map(_.toSeq).toSet
    assert(cert === Set(Seq("soak_lm", 4L, "epoch_drop", 1L)),
      s"the certificate records exactly the epoch drop: $cert")
    check("after certified epoch expiry")
    land(7)
    check("after the final landing")
    // the epoch store's contract holds at every point: windows only —
    // pins and pinned reads refuse, the floor and epoch size are
    // monotone store constants
    assert(intercept[IllegalStateException] {
      StoreCompaction.registerPin(store, "late_rel", 6L)
    }.getMessage.contains("retention"))
    assert(intercept[IllegalStateException] {
      CorpusStream.lmStore(store).servedAt(spark, upto = 6L)
    }.getMessage.contains("epoch-folded"))
    assert(StoreCompaction.retentionFloor(store) === Some(4L) &&
      StoreCompaction.epochSizeOf(store) === Some(2L),
      "floor and epoch size are monotone store constants")
  }

  test("soak (replay-vs-maintenance margin): a replay inside the keepLatestDeltas margin re-lands as a no-op; a replay of a folded-away batch refuses instead of double-counting") {
    val sf = "/root/testdata/sf0.01"
    val docs = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text").localCheckpoint()
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val nLandings = 6
    def slice(k: Int) = {
      val lo = if (k == 0) Long.MinValue else ids(k * ids.length / nLandings)
      val hi = if (k == nLandings - 1) Long.MaxValue
        else ids((k + 1) * ids.length / nLandings)
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
    val store = tmpDir("graft-soak-margin") + "/deltas"
    (0 until nLandings).foreach(k =>
      CorpusStream.lmStore(store).land(slice(k), k.toLong))
    // threshold maintenance with a margin of 2: batches 0-3 fold into
    // the base, 4-5 stay raw (the replay-safety margin)
    val rep = StoreCompaction.maintain(spark, store, Seq("w1", "w2"),
      StoreCompaction.MaintenancePolicy(minorAtDeltas = 1, keepLatestDeltas = 2))
    assert(rep.minorUpto === Some(3L) &&
      StoreCompaction.compactionHorizon(store) === Some(3L),
      s"the margin must keep the newest two landings raw: $rep")
    val served = lmMap(CorpusStream.lmStore(store).servedAt(spark))
    assert(served === lmMap(CorpusStream.lmCells(docs)),
      "serving must equal the full retrain after the fold")

    // a replay INSIDE the margin (the checkpoint's real re-delivery
    // depth for AvailableNow sinks is 1): overwrite, serving unchanged
    CorpusStream.lmStore(store).land(slice(5), 5L)
    CorpusStream.lmStore(store).land(slice(4), 4L)
    assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) === served,
      "an in-margin replay must re-land as a no-op")

    // a replay DEEPER than the margin targets a folded batch: refuse
    // loudly (landing it would double-count beside the folded rows)
    val ex = intercept[IllegalStateException] {
      CorpusStream.lmStore(store).land(slice(2), 2L)
    }
    assert(ex.getMessage.contains("keepLatestDeltas"), ex.getMessage)
    assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) === served,
      "the refused replay must leave serving untouched")

    // the epoch-banded dual: batches folded into an epoch refuse the
    // same way (and the un-banded tail keeps accepting replays)
    val eStore = tmpDir("graft-soak-margin-epoch") + "/deltas"
    (0 until 4).foreach(k => CorpusStream.lmStore(eStore).land(slice(k), k.toLong))
    StoreCompaction.foldEpochs(spark, eStore, epochSize = 2L, uptoBatch = 1L)
    val exE = intercept[IllegalStateException] {
      CorpusStream.lmStore(eStore).land(slice(0), 0L)
    }
    assert(exE.getMessage.contains("epoch"), exE.getMessage)
    CorpusStream.lmStore(eStore).land(slice(3), 3L) // raw tail still lands
  }
}
