package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.{CellStore, CorpusStream, CurationStream, DriftStream, EmbeddingStream, Forget, LshStream, OrderStream, ShardStream, StoreCompaction}

/** Right-to-be-forgotten laws (q200-q202's machinery):
  * negative-cell erasure ≡ retrain-on-survivors on the additive stores,
  * surgical deletion touches only partitions holding a forgotten row,
  * and keeper re-election reproduces from-scratch dedup on the
  * survivors — including through compaction (forgetting rows already
  * folded into the base partition).
  */
class ForgetSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Catalog.table(spark, sf, "documents")
    .select("doc_id", "source", "text")
  private val forgetPred = pmod(col("doc_id"), lit(17L)) === lit(3L)

  private def lmMap(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("LM forget: one negative delta makes the folded counts equal a retrain on the survivors — including when history is already folded into the base") {
    val deltas = tmpDir("graft-forget-lm") + "/deltas"
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") < cut), 0L)
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") >= cut), 1L)
    CorpusStream.lmStore(deltas).forget(docs.filter(forgetPred), 2L)

    val served = lmMap(CorpusStream.lmStore(deltas).servedAt(spark))
    val retrained = lmMap(CorpusStream.lmCells(docs.filter(!forgetPred)))
    assert(served === retrained,
      "negative-delta fold must equal the survivor-trained count table")

    // the same law through compaction: fold EVERYTHING (forget delta
    // included) into the base partition — the additive algebra carries
    // the negation into the base and serving is unchanged
    CorpusStream.lmStore(deltas).compact(spark, upto = 2L)
    assert(lmMap(CorpusStream.lmStore(deltas).servedAt(spark)) === retrained,
      "folding the forget delta into the base must not move a count")

    // and forgetting docs already IN the base (a second forget wave
    // against fully-compacted history) still equals the retrain
    val wave2 = col("doc_id") % 17 === 5
    CorpusStream.lmStore(deltas).forget(docs.filter(wave2), 3L)
    val retrained2 = lmMap(CorpusStream.lmCells(docs.filter(!forgetPred && !wave2)))
    assert(lmMap(CorpusStream.lmStore(deltas).servedAt(spark)) === retrained2,
      "erasing rows folded into the base must equal the two-wave retrain")
  }

  test("diversity forget: negative cells on both stores make the served metric equal a recompute on the survivors, through compaction") {
    val root = tmpDir("graft-forget-div")
    val (dims, stats) = (s"$root/dims", s"$root/stats")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    CellStore.land(docs.filter(col("doc_id") < cut), 0L, CorpusStream.divStores(dims, stats))
    CellStore.land(docs.filter(col("doc_id") >= cut), 1L, CorpusStream.divStores(dims, stats))
    CellStore.forget(docs.filter(forgetPred), 2L, CorpusStream.divStores(dims, stats))

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val expected = snap(graft.ops.Similarity.diversityOf(docs.filter(!forgetPred)))
    assert(snap(CorpusStream.diversityFromDeltas(spark, dims, stats)) === expected,
      "negative-cell fold must equal the survivor-recomputed diversity table")

    CorpusStream.divStores(dims, stats).foreach(_.compact(spark, upto = 2L))
    assert(snap(CorpusStream.diversityFromDeltas(spark, dims, stats)) === expected,
      "folding the forget delta into the base must not move the metric")
  }

  test("LM forget: erasing docs the store never counted fails loudly instead of serving an impossible model") {
    val deltas = tmpDir("graft-forget-lm-neg") + "/deltas"
    CorpusStream.lmStore(deltas).land(docs.filter(col("doc_id") < 50), 0L)
    CorpusStream.lmStore(deltas).forget(docs.filter(col("doc_id") >= 400), 1L)
    val ex = intercept[Exception] {
      CorpusStream.lmStore(deltas).servedAt(spark).collect()
    }
    assert(ex.getMessage.contains("NEGATIVE bigram count"))
  }

  test("surgicalDelete: only partitions holding a forgotten row are rewritten; absence is total; a second pass is a no-op") {
    val store = tmpDir("graft-forget-surgical") + "/store"
    // four partitions; forgotten ids live in partitions 0 and 2 only
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
      .write.parquet(s"$store/batch_id=0")
    Seq((10L, "c")).toDF("doc_id", "v").write.parquet(s"$store/batch_id=1")
    Seq((2L, "d"), (20L, "e")).toDF("doc_id", "v")
      .write.parquet(s"$store/batch_id=2")
    Seq((30L, "f")).toDF("doc_id", "v").write.parquet(s"$store/batch_id=3")
    val before1 = new java.io.File(s"$store/batch_id=1").lastModified()
    val before3 = new java.io.File(s"$store/batch_id=3").lastModified()

    val rep = Forget.surgicalDelete(spark, store,
      Seq(2L).toDF("doc_id"))
    assert(rep === Forget.ForgetReport(4, 2, 2L))
    assert(new java.io.File(s"$store/batch_id=1").lastModified() === before1 &&
      new java.io.File(s"$store/batch_id=3").lastModified() === before3,
      "partitions without a forgotten row must not be touched")
    val left = spark.read.parquet(store).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(left.toSeq === Seq((1L, "a"), (10L, "c"), (20L, "e"), (30L, "f")))

    val rep2 = Forget.surgicalDelete(spark, store, Seq(2L).toDF("doc_id"))
    assert(rep2 === Forget.ForgetReport(4, 0, 0L), "second pass must be a no-op")

    // crash recovery: a swap interrupted AFTER the target delete leaves
    // the only copy staged — the next pass must finish the rename before
    // doing anything else; an interrupted STAGING write (no _SUCCESS)
    // must be discarded instead
    val part1 = new java.io.File(s"$store/batch_id=1")
    val tmp1 = new java.io.File(s"$store/.forget_tmp_1")
    assert(part1.renameTo(tmp1), "simulate the crash window")
    val rep3 = Forget.surgicalDelete(spark, store, Seq(999L).toDF("doc_id"))
    assert(rep3 === Forget.ForgetReport(4, 0, 0L))
    assert(part1.exists() && !tmp1.exists(),
      "recovery must complete the interrupted swap")
    assert(spark.read.parquet(store).count() === 4L)
    val partial = new java.io.File(s"$store/.forget_tmp_9")
    partial.mkdirs()
    java.nio.file.Files.write(new java.io.File(partial, "part-x.parquet").toPath,
      Array[Byte](1, 2, 3))
    Forget.surgicalDelete(spark, store, Seq(999L).toDF("doc_id"))
    assert(!partial.exists() && !new java.io.File(s"$store/batch_id=9").exists(),
      "an unfinished staging dir (no _SUCCESS) must be discarded")
  }

  test("k-anonymity forget: erasing members of a safe QI group flips it to suppressed, and the served audit equals the survivor recompute") {
    import graft.ops.TextOps
    val deltas = tmpDir("graft-forget-kanon") + "/deltas"
    val full = Catalog.table(spark, sf, "documents")
    val ids = full.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    CorpusStream.kAnonStore(deltas).land(full.filter(col("doc_id") < cut), 0L)
    CorpusStream.kAnonStore(deltas).land(full.filter(col("doc_id") >= cut), 1L)

    // pick the smallest SAFE group (size >= k) and erase just enough of
    // its members to push it below k — the under-suppression hazard
    val qi = full.select(col("doc_id"), col("source"), col("lang"),
      expr(s"n_chars div ${TextOps.KAnonBucket}").as("len_bucket"))
    val grp = qi.groupBy("source", "lang", "len_bucket")
      .agg(count(lit(1)).as("gsz"))
      .filter(col("gsz") >= TextOps.KAnonK)
      .orderBy(col("gsz"), col("source"), col("lang"), col("len_bucket"))
      .head()
    val (gSrc, gLang, gBucket, gSz) =
      (grp.getString(0), grp.getString(1), grp.getLong(2), grp.getLong(3))
    val members = qi.filter(col("source") === gSrc && col("lang") === gLang &&
        col("len_bucket") === gBucket)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val forgotten = members.take((gSz - TextOps.KAnonK + 1).toInt)
    val fDf = full.filter(col("doc_id").isin(forgotten: _*))
    CorpusStream.kAnonStore(deltas).forget(fDf, 2L)

    def audit(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val before = audit(TextOps.kAnonymityAudit(full))
    val after = audit(TextOps.kAnonymityFromCells(
      CorpusStream.kAnonStore(deltas).servedAt(spark)))
    val survivors = full.filter(!col("doc_id").isin(forgotten: _*))
    assert(after === audit(TextOps.kAnonymityAudit(survivors)),
      "served post-forget audit must equal the survivor recompute")
    // the flip: exactly one more small group in the touched source, and
    // its k-1 remaining members are newly suppressed
    val (b, a) = (before(gSrc), after(gSrc))
    assert(a(2) === b(2).asInstanceOf[Long] + 1L,
      s"group ($gSrc,$gLang,$gBucket) must flip small: $b -> $a")
    assert(a(3) === b(3).asInstanceOf[Long] + (TextOps.KAnonK - 1).toLong,
      "the remaining members must be newly suppressed")
  }

  test("streamed forget: request waves through the sink equal batch erasure of their union on every store family; a replayed batch is a no-op") {
    import graft.streaming.{CorpusStream, ForgetStream, LshStream}
    import graft.streaming.ForgetStream.ForgetTargets
    val d = docs.localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)

    // stores under erasure: LM cells, diversity cells, band index+decisions
    val root = tmpDir("graft-forget-stream")
    val lm = s"$root/lm"
    val (dims, stats) = (s"$root/dims", s"$root/stats")
    val (idx, dec) = (s"$root/index", s"$root/decisions")
    Seq(col("doc_id") < cut, col("doc_id") >= cut).zipWithIndex.foreach {
      case (p, b) =>
        CorpusStream.lmStore(lm).land(d.filter(p), b.toLong)
        CellStore.land(d.filter(p), b.toLong, CorpusStream.divStores(dims, stats))
        LshStream.processBatch(d.filter(p), idx, dec, b.toLong)
    }

    // forget requests land as files: wave 1 then wave 2
    val landing = tmpDir("graft-forget-req")
    val (checkpoint, markers) = (tmpDir("graft-forget-ck"), tmpDir("graft-forget-mk"))
    def land(idsDf: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmpDir("graft-req-stage")
      idsDf.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(landing, name))
    }
    val targets = ForgetTargets(
      cellStores = CorpusStream.lmStore(lm) +: CorpusStream.divStores(dims, stats),
      bandStores = Some((idx, dec)))
    val w1 = pmod(col("doc_id"), lit(17L)) === lit(3L)
    val w2 = pmod(col("doc_id"), lit(17L)) === lit(5L)
    land(d.filter(w1).select("doc_id"), "w1.parquet")
    ForgetStream.forgetSink(ForgetStream.readRequestStream(spark, landing),
      d, targets, markers, checkpoint).awaitTermination()
    land(d.filter(w2).select("doc_id"), "w2.parquet")
    ForgetStream.forgetSink(ForgetStream.readRequestStream(spark, landing),
      d, targets, markers, checkpoint).awaitTermination()

    // every store now equals batch erasure of the UNION of waves
    val survivors = d.filter(!w1 && !w2).localCheckpoint()
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark)) ===
      lmMap(CorpusStream.lmCells(survivors)),
      "streamed LM erasure must equal the survivor retrain")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(CorpusStream.diversityFromDeltas(spark, dims, stats)) ===
      rows(graft.ops.Similarity.diversityOf(survivors)),
      "streamed diversity erasure must equal the survivor recompute")
    val bands = graft.ops.Dedup.lshBands(
      graft.ops.Dedup.minhashSignatures(survivors))
    assert(rows(LshStream.decisions(spark, dec)) ===
      rows(graft.ops.Dedup.keepEarliestVerdicts(survivors.select("doc_id"),
        graft.ops.Dedup.earlierBandPartners(bands, bands)).orderBy("doc_id")),
      "streamed band erasure + re-election must equal from-scratch dedup on survivors")

    // a replayed request batch (same batchId) is a marker-gated no-op
    def partsOf(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    val snap = (partsOf(lm), partsOf(dec),
      rows(LshStream.decisions(spark, dec)))
    ForgetStream.processBatch(d.filter(w2).select("doc_id"), d, targets,
      markers, batchId = 1L)
    assert((partsOf(lm), partsOf(dec), rows(LshStream.decisions(spark, dec))) === snap,
      "a replayed forget batch must not move a single row or partition")
  }

  test("curation amnesia: forgetting an exact-dup owner re-admits the earliest surviving duplicate, and the accepted/quarantine split stays an exact partition of the gate") {
    import graft.streaming.CurationStream
    val root = tmpDir("graft-forget-curation")
    // the sf0.001 corpus has no natural exact duplicates — PLANT two
    // families: copies of two gate-passing docs under higher ids, so the
    // originals are the exact owners the test will forget
    val base = docs
    val gateKeep = graft.ops.Corpus.gateFrame(base)
      .filter(col("keep")).select("doc_id").orderBy("doc_id")
      .limit(2).collect().map(_.getLong(0))
    val copies = base.filter(col("doc_id").isin(gateKeep: _*))
      .select(explode(array(lit(10000L), lit(20000L))).as("off"),
        col("doc_id"), col("source"), col("text"))
      .select((col("doc_id") + col("off")).as("doc_id"), col("source"), col("text"))
    val d = base.unionByName(copies).localCheckpoint()
    CurationStream.processBatch(d, s"$root/fp", s"$root/index",
      s"$root/decisions", 0L, Some(s"$root/accepted"), Some(s"$root/quarantine"))

    // pick a forgotten set = the OWNERS of the two largest exact-dup
    // families — the hardest amnesia case
    val owners = spark.read.parquet(s"$root/decisions")
      .filter(col("is_exact_dup")).groupBy("exact_dup_of").count()
      .orderBy(col("count").desc, col("exact_dup_of"))
      .limit(2).collect().map(_.getLong(0))
    assert(owners.nonEmpty, "fixture must contain exact-dup families")
    val expectedHeirs = owners.map { o =>
      o -> spark.read.parquet(s"$root/decisions")
        .filter(col("exact_dup_of") === o).agg(min(col("doc_id")))
        .head().getLong(0)
    }.toMap

    val rep = Forget.forgetFromCurationStores(spark, root,
      owners.toSeq.toDF("doc_id"), correctiveId = 1L)
    assert(rep.nOrphanFps === owners.length.toLong)
    assert(rep.nNewOwners === owners.length.toLong)

    // the heirs own their fingerprints now and are no longer exact dups
    val fpOwners = spark.read.parquet(s"$root/fp").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    expectedHeirs.values.foreach(h => assert(fpOwners.contains(h),
      s"heir $h must own its fingerprint"))
    val decs = spark.read.parquet(s"$root/decisions")
    expectedHeirs.values.foreach { h =>
      val r = decs.filter(col("doc_id") === h).head()
      assert(!r.getBoolean(1), s"heir $h must not be an exact dup anymore")
    }
    // band-clean heirs are RE-ADMITTED: formerly quarantined, now accepted
    val accepted = spark.read.parquet(s"$root/accepted").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    expectedHeirs.values.foreach { h =>
      val clean = !decs.filter(col("doc_id") === h)
        .head().getAs[Boolean]("is_band_dup")
      assert(accepted.contains(h) === clean,
        s"heir $h must be accepted iff band-clean (clean=$clean)")
    }
    // the split is still an exact partition of the gated corpus minus F
    val quarantined = spark.read.parquet(s"$root/quarantine").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert((accepted & quarantined).isEmpty, "split must stay disjoint")
    val all = d.select("doc_id").collect().map(_.getLong(0)).toSet -- owners
    assert((accepted | quarantined) === all,
      "accepted ∪ quarantine must cover exactly the surviving corpus")
    // absence everywhere
    Seq("fp", "index", "decisions", "accepted", "quarantine").foreach { st =>
      assert(spark.read.parquet(s"$root/$st")
        .filter(col("doc_id").isin(owners.toSeq: _*)).count() === 0L,
        s"store $st must hold no forgotten id")
    }
  }

  test("re-election: forgetting a keeper promotes the earliest survivor; decisions equal from-scratch dedup on the surviving corpus") {
    val root = tmpDir("graft-forget-reelect")
    val (idx, dec) = (s"$root/index", s"$root/decisions")
    val d = docs
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    LshStream.processBatch(d.filter(col("doc_id") < cut), idx, dec, 0L)
    LshStream.processBatch(d.filter(col("doc_id") >= cut), idx, dec, 1L)

    // choose the forget set so it includes at least one KEEPER with
    // later duplicates — the hardest case: its family must re-elect
    val batch = LshStream.decisions(spark, dec).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
    val keepers = batch.collect { case (id, Some(dupOf)) => dupOf }.toSet
    assert(keepers.nonEmpty, "fixture must contain dup families")
    val forgotten = keepers.take(2) ++
      batch.collect { case (id, Some(_)) => id }.take(1)
    val fDf = forgotten.toSeq.toDF("doc_id")

    val rep = Forget.reelectBandStores(spark, idx, dec, fDf)
    assert(rep.index.rowsRemoved === 16L * forgotten.size,
      "each forgotten doc owns 16 band rows (the 16x4 banding)")
    assert(rep.decisions.rowsRemoved === forgotten.size.toLong)

    // absence: no forgotten id anywhere in either store
    assert(spark.read.parquet(idx).filter(col("doc_id").isin(forgotten.toSeq: _*))
      .count() === 0L)
    val after = LshStream.decisions(spark, dec)
    assert(after.filter(col("doc_id").isin(forgotten.toSeq: _*)).count() === 0L)

    // equivalence: the mutated store serves EXACTLY what a from-scratch
    // keep-earliest run over the survivors computes
    val survivors = d.filter(!col("doc_id").isin(forgotten.toSeq: _*))
    val bands = graft.ops.Dedup.lshBands(
      graft.ops.Dedup.minhashSignatures(survivors))
    val fresh = graft.ops.Dedup.keepEarliestVerdicts(
        survivors.select("doc_id"),
        graft.ops.Dedup.earlierBandPartners(bands, bands))
      .orderBy("doc_id")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toSeq
    assert(snap(after) === snap(fresh),
      "post-forget decisions must equal from-scratch dedup on survivors")

    // a forgotten keeper's family re-pointed at the earliest survivor
    val changed = fresh.filter(col("dup_of").isin(forgotten.toSeq: _*)).count()
    assert(changed === 0L, "no survivor may still point at a forgotten doc")
  }

  test("span forget: first-occurrence re-election hands attribution to the earliest survivor; served plans equal batch q182 on the survivors, through compaction") {
    import graft.ops.Mining
    val deltas = tmpDir("graft-forget-span") + "/deltas"
    val w = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val uniq = "unique uno dos tres cuatro cinco seis siete ocho nueve diez once"
    // doc 3 is forgotten (3 % 17 = 3) and holds every first occurrence of w;
    // survivors 21 (% 17 = 4) and 22 (% 17 = 5) duplicate it
    val d = Seq((3L, w), (21L, w), (22L, w), (5L, uniq))
      .toDF("doc_id", "text").localCheckpoint()
    CorpusStream.spanStore(deltas).land(d.filter(col("doc_id") < 21), 0L)
    CorpusStream.spanStore(deltas).land(d.filter(col("doc_id") >= 21), 1L)
    val survivors = d.filter(!forgetPred).localCheckpoint()
    def served() = CorpusStream.spanScrubFromDeltas(spark, deltas, survivors)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val pre = served()
    assert(pre.find(_._1 == 21L).get._6,
      "before forgetting, doc 21 is fully cut against the ghost's first occurrence")

    val rep = Forget.forgetSpanCells(spark, deltas, d.filter(forgetPred),
      survivors, correctiveId = 2L)
    assert(rep.nAffectedWindows > 0 && rep.nReelected > 0)

    val fresh = Mining.spanScrubPlanOf(survivors)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val after = served()
    assert(after === fresh,
      "post-forget serving must equal the batch plan over survivors")
    val d21 = after.find(_._1 == 21L).get
    assert(d21._4 === 0L && !d21._6,
      "the earliest survivor inherits the first occurrence and keeps its text")
    assert(after.find(_._1 == 22L).get._6,
      "later duplicates still cut against the re-elected owner")

    CorpusStream.spanStore(deltas).compact(spark, upto = 2L)
    assert(served() === fresh, "the re-election must survive the fold")

    // the INDEXED path: a positional inverted index narrows the
    // re-election's content pass to the implicated docs only — bit-equal
    // to the full-pass path, and the index erases its own forgotten rows
    val root2 = tmpDir("graft-forget-span-idx")
    val (deltas2, idx2) = (s"$root2/deltas", s"$root2/index")
    Seq(col("doc_id") < 21, col("doc_id") >= 21).zipWithIndex.foreach {
      case (p, b) =>
        CorpusStream.spanStore(deltas2).land(d.filter(p), b.toLong)
        CorpusStream.writeSpanIndexDelta(d.filter(p), idx2, b.toLong)
    }
    Forget.forgetSpanCells(spark, deltas2, d.filter(forgetPred), survivors,
      correctiveId = 2L, windowIndexDir = Some(idx2))
    def rows2(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    assert(rows2(CorpusStream.spanScrubFromDeltas(spark, deltas2, survivors))
      === fresh, "the index-narrowed re-election must equal the full pass")
    assert(spark.read.parquet(idx2)
      .join(d.filter(forgetPred).select("doc_id"), Seq("doc_id"), "left_semi")
      .count() === 0L, "the index must erase its own forgotten rows")
  }

  test("CDC forget: one negative landing per store equals a re-chunk of the survivors (tombstones drop), through compaction; double-forgets refuse loudly") {
    import graft.ops.Dedup
    val root = tmpDir("graft-forget-cdc")
    val (chunks, nd) = (s"$root/chunks", s"$root/docs")
    val d = docs.localCheckpoint()
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    CellStore.land(d.filter(col("doc_id") < cut), 0L, CorpusStream.cdcStores(chunks, nd))
    CellStore.land(d.filter(col("doc_id") >= cut), 1L, CorpusStream.cdcStores(chunks, nd))
    CellStore.forget(d.filter(forgetPred), 2L, CorpusStream.cdcStores(chunks, nd))

    val survivors = d.filter(!forgetPred).localCheckpoint()
    val ex = Dedup.cdcChunks(survivors).localCheckpoint()
    val nd2 = ex.select("source", "doc_id").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val fresh = rows(Dedup.cdcReportFromCells(Dedup.cdcCellsOf(ex), nd2))
    assert(rows(CorpusStream.cdcReportFromDeltas(spark, chunks, nd)) === fresh,
      "negative cells + tombstones must equal the survivor re-chunk")

    CorpusStream.cdcStores(chunks, nd).foreach(_.compact(spark, upto = 2L))
    assert(rows(CorpusStream.cdcReportFromDeltas(spark, chunks, nd)) === fresh,
      "the negation must survive the fold")

    // a second forget for the SAME docs drives forgotten-only chunks negative
    CellStore.forget(d.filter(forgetPred), 3L, CorpusStream.cdcStores(chunks, nd))
    val ex2 = intercept[Exception] {
      CorpusStream.cdcReportFromDeltas(spark, chunks, nd).collect()
    }
    assert(ex2.getMessage.contains("NEGATIVE"),
      s"double-subtraction must refuse, got: ${ex2.getMessage}")
  }

  test("semantic forget: cluster-bounded re-election equals from-scratch semantic dedup on the surviving vectors; no survivor points at a ghost") {
    import graft.ops.Similarity
    import graft.streaming.EmbeddingStream
    val root = tmpDir("graft-forget-sem")
    val (hist, dec) = (s"$root/history", s"$root/decisions")
    val e = Catalog.table(spark, sf, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val asg = Similarity.semanticDedup(e, k = Similarity.SemK, maxIters = 2)
      .select("vec_id", "cluster")
    val m = e.join(asg, Seq("vec_id")).select("vec_id", "cluster", "v")
      .localCheckpoint()
    val cut = m.agg(max(col("vec_id"))).head().getLong(0) / 2
    val b0 = m.filter(col("vec_id") < cut).localCheckpoint()
    val b1 = m.filter(col("vec_id") >= cut).localCheckpoint()
    b0.write.mode("overwrite").parquet(s"$hist/batch_id=0")
    b1.write.mode("overwrite").parquet(s"$hist/batch_id=1")
    EmbeddingStream.scoreBatch(b0, b0.filter(lit(false)))
      .write.mode("overwrite").parquet(s"$dec/batch_id=0")
    EmbeddingStream.scoreBatch(b1, b0)
      .write.mode("overwrite").parquet(s"$dec/batch_id=1")

    val vForget = pmod(col("vec_id"), lit(17L)) === lit(3L)
    val fIds = m.filter(vForget).select("vec_id").localCheckpoint()
    // fixture strength: some pre-forget argmax prior IS a forgotten vector
    assert(spark.read.parquet(dec)
      .join(fIds.select(col("vec_id").as("dup_of")), Seq("dup_of"), "left_semi")
      .count() > 0, "fixture must contain verdicts pointing at forgotten vectors")

    val rep = Forget.reelectSemanticStores(spark, hist, dec, fIds)
    assert(rep.nReelected > 0)
    assert(spark.read.parquet(hist).join(fIds, Seq("vec_id"), "left_semi")
      .count() === 0L, "the vectors themselves must leave the history store")
    assert(spark.read.parquet(dec).join(fIds, Seq("vec_id"), "left_semi")
      .count() === 0L)

    // from-scratch twin: all survivors as ONE batch with empty history is
    // exactly the lower-id-within-cluster batch rule
    val sm = m.filter(!vForget).localCheckpoint()
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cluster").cast("long"),
        col("max_prior_sim"), col("dup_of"), col("is_semantic_dup"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(snap(spark.read.parquet(dec)) ===
      snap(EmbeddingStream.scoreBatch(sm, sm.filter(lit(false)))),
      "post-forget decisions must equal from-scratch semantic dedup on survivors")
    assert(spark.read.parquet(dec)
      .join(fIds.select(col("vec_id").as("dup_of")), Seq("dup_of"), "left_semi")
      .count() === 0L, "no survivor may point at a forgotten vector")
  }

  test("generic SUM-cell erasure: eval/feature/MW stores negate with one landing; served tables equal the survivor recompute, through compaction") {
    import graft.ops.Mining
    val root = tmpDir("graft-forget-cells")
    val (ev, ft, mw) = (s"$root/eval", s"$root/feature", s"$root/mw")
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val cut = full.agg(max(col("doc_id"))).head().getLong(0) / 2
    Seq(col("doc_id") < cut, col("doc_id") >= cut).zipWithIndex.foreach {
      case (p, b) =>
        CorpusStream.evalStore(ev).land(full.filter(p), b.toLong)
        CorpusStream.featureStore(ft).land(full.filter(p), b.toLong)
        CorpusStream.mwStore(mw).land(full.filter(p), b.toLong)
    }
    val f = full.filter(forgetPred)
    CorpusStream.evalStore(ev).forget(f, 2L)
    CorpusStream.featureStore(ft).forget(f, 2L)
    CorpusStream.mwStore(mw).forget(f, 2L)

    val survivors = full.filter(!forgetPred).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val evFresh = rows(Mining.evalTableFromCells(spark, Mining.evalCells(survivors)))
    val mwFresh = rows(Mining.mwTableFromCells(Mining.mwCells(survivors)))
    val sc = CorpusStream.featureCells(survivors).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ftFresh = Mining.ratioFromCounts(
      sc.map(t => t._1 -> t._3).toMap.filter(_._2 > 0),
      sc.map(t => t._1 -> t._4).toMap.filter(_._2 > 0))
    def check(tag: String): Unit = {
      assert(rows(CorpusStream.evalTableFromDeltas(spark, ev)) === evFresh,
        s"eval store must equal survivor recompute ($tag)")
      assert(CorpusStream.ratioFromDeltas(spark, ft) === ftFresh,
        s"feature store must equal survivor recompute ($tag)")
      assert(rows(CorpusStream.reweightingFromDeltas(spark, mw)) === mwFresh,
        s"MW store must equal survivor recompute ($tag)")
    }
    check("unfolded")
    CorpusStream.evalStore(ev).compact(spark, 2L)
    CorpusStream.featureStore(ft).compact(spark, 2L)
    CorpusStream.mwStore(mw).compact(spark, 2L)
    check("folded")
  }

  test("asset-store erasure: the forgotten payload bytes leave disk (kind-partitioned surgical delete); surviving payloads bit-identical to a rebuild") {
    val src = graft.ops.Multimodal.buildAssetStore(spark, sf)
    val store = tmpDir("graft-forget-assets") + "/assets"
    spark.read.parquet(src).repartition(col("kind"))
      .write.partitionBy("kind").mode("overwrite").parquet(store)
    val fIds = docs.filter(forgetPred).select("doc_id").localCheckpoint()

    val rep = Forget.surgicalDelete(spark, store, fIds, partCol = "kind")
    assert(rep.nPartitions === 6 && rep.nRewritten === 6,
      "every payload family holds every doc — all six kinds rewrite")
    val left = spark.read.parquet(store)
    assert(left.join(fIds, Seq("doc_id"), "left_semi").count() === 0L,
      "no forgotten payload row may remain")
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("kind"), md5(col("payload")).as("m"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(sig(left) === sig(
      spark.read.parquet(src).join(fIds, Seq("doc_id"), "left_anti")),
      "surviving payloads must be bit-identical to a rebuild on survivors")
  }

  test("identity-store forget survives compaction: the shingle index serves survivor containment bit-identically across a fold") {
    import graft.ops.Dedup
    import graft.streaming.ScrubStream
    val deltas = tmpDir("graft-forget-shingle") + "/deltas"
    val d = docs.localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    ScrubStream.writeShingleDelta(d.filter(col("doc_id") < cut), deltas, 0L)
    ScrubStream.writeShingleDelta(d.filter(col("doc_id") >= cut), deltas, 1L)
    Forget.surgicalDelete(spark, deltas, d.filter(forgetPred).select("doc_id"))

    val survivors = d.filter(!forgetPred)
    val spine = survivors.filter(col("doc_id") >= 50).select("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def served() = rows(ScrubStream.containmentFromDeltas(spark, deltas, spine))
    val fresh = rows(Dedup.containmentBest(
      Dedup.jaccardPairsFromExploded(
        Dedup.positionalShingles(
            survivors.filter(col("doc_id") >= 50).select("doc_id", "text"))
          .select(col("h"), col("doc_id")).distinct()),
      spine))
    assert(served() === fresh,
      "post-forget containment must equal the survivor-built index")
    StoreCompaction.appendInto(spark, deltas, upto = 1L, bucketCols = Seq("h"))
    assert(served() === fresh, "the deletion must survive the minor fold")
  }

  test("streamed forget reaches the extended families: one request wave erases kanon/cdc/span/cs/shingle/sum-cell/asset stores with commit stamps") {
    import graft.streaming.ForgetStream
    import graft.streaming.ForgetStream.ForgetTargets
    val root = tmpDir("graft-forget-ext")
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val cut = full.agg(max(col("doc_id"))).head().getLong(0) / 2
    val (kan, chunks, nd, span, cs, shingle, ev) = (s"$root/kanon",
      s"$root/cdc_chunks", s"$root/cdc_docs", s"$root/span", s"$root/cs",
      s"$root/shingle", s"$root/eval")
    Seq(col("doc_id") < cut, col("doc_id") >= cut).zipWithIndex.foreach {
      case (p, b) =>
        val sl = full.filter(p)
        CorpusStream.kAnonStore(kan).land(sl, b.toLong)
        CellStore.land(sl, b.toLong, CorpusStream.cdcStores(chunks, nd))
        CorpusStream.spanStore(span).land(sl, b.toLong)
        CorpusStream.writeCsDelta(sl, cs, b.toLong)
        graft.streaming.ScrubStream.writeShingleDelta(sl, shingle, b.toLong)
        CorpusStream.evalStore(ev).land(sl, b.toLong)
    }
    val assets = s"$root/assets"
    spark.read.parquet(graft.ops.Multimodal.buildAssetStore(spark, sf))
      .repartition(col("kind"))
      .write.partitionBy("kind").mode("overwrite").parquet(assets)

    val targets = ForgetTargets(
      cellStores = CorpusStream.kAnonStore(kan) +: CorpusStream.cdcStores(chunks, nd) :+
        CorpusStream.evalStore(ev),
      spanDeltaDir = Some(span),
      csDeltaDir = Some(cs),
      shingleIndexDirs = Seq(shingle),
      assetStore = Some((assets, "kind")))
    ForgetStream.processBatch(full.filter(forgetPred).select("doc_id"),
      full, targets, s"$root/markers", batchId = 0L)

    val survivors = full.filter(!forgetPred).localCheckpoint()
    val fIds = full.filter(forgetPred).select("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // additive families serve the survivor recompute
    assert(rows(graft.ops.TextOps.kAnonymityFromCells(
        CorpusStream.kAnonStore(kan).servedAt(spark))) ===
      rows(graft.ops.TextOps.kAnonymityAudit(survivors)))
    assert(rows(CorpusStream.evalTableFromDeltas(spark, ev)) ===
      rows(graft.ops.Mining.evalTableFromCells(spark,
        graft.ops.Mining.evalCells(survivors))))
    // identity + re-election families hold zero forgotten rows
    Seq(cs, shingle).foreach { dir =>
      assert(spark.read.parquet(dir).join(fIds, Seq("doc_id"), "left_semi")
        .count() === 0L, s"$dir must hold no forgotten row")
    }
    assert(spark.read.parquet(assets).join(fIds, Seq("doc_id"), "left_semi")
      .count() === 0L, "the payload bytes must be gone")
    // span serving equals the survivor batch plan
    assert(rows(CorpusStream.spanScrubFromDeltas(spark, span,
        survivors.select("doc_id", "text"))) ===
      rows(graft.ops.Mining.spanScrubPlanOf(survivors.select("doc_id", "text"))))
    // commit protocol: marker + stamps on every negative landing
    assert(new java.io.File(s"$root/markers/_forget_0").exists())
    Seq(kan, chunks, nd, ev).foreach { dir =>
      assert(new java.io.File(s"$dir/batch_id=-1000/_FORGET_COMMITTED").exists(),
        s"$dir negative landing must carry the commit stamp")
    }
    // the ERASURE CERTIFICATE: one persisted action row per store, the
    // surgical rows carrying exact removed-row counts
    val cert = ForgetStream.erasureCertificate(spark, s"$root/markers")
      .filter(col("batch_id") === 0)
    val families = cert.select("family").distinct()
      .collect().map(_.getString(0)).toSet
    assert(families === Set("k_anonymity", "cdc_chunks", "cdc_docs",
      "span_windows", "code_switch", "shingle_index", "sum_cells",
      "asset_payloads"),
      s"every configured family must certify its action, got $families")
    val csRemoved = cert.filter(col("family") === "code_switch" &&
        col("action") === "surgical_delete")
      .head().getAs[Long]("n")
    assert(csRemoved > 0L, "the certificate must carry exact removed-row counts")
    val spanReelect = cert.filter(col("action") === "first_key_reelection").count()
    assert(spanReelect === 1L, "the span re-election must certify")
  }

  test("surgicalDelete recovery: a crash MID-partition-delete (partial partition beside a complete staged copy) restores the staged copy, losing no survivor rows") {
    val store = tmpDir("graft-forget-middelete") + "/store"
    // the partition holds two files; the staged replacement (post-forget:
    // doc 2 removed) is complete with _SUCCESS
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "v").repartition(2)
      .write.parquet(s"$store/batch_id=0")
    Seq((1L, "a"), (3L, "c")).toDF("doc_id", "v").coalesce(1)
      .write.parquet(s"$store/.forget_tmp_0")
    assert(new java.io.File(s"$store/.forget_tmp_0/_SUCCESS").exists(),
      "fixture: the staged write must be complete")
    // simulate the crash landing mid-delete: ONE of the partition's data
    // files is already gone, the other (and the dir) remain
    val part = new java.io.File(s"$store/batch_id=0")
    val dataFiles = part.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.length === 2, "fixture needs a multi-file partition")
    assert(dataFiles.head.delete())

    Forget.surgicalDelete(spark, store, Seq(999L).toDF("doc_id"))
    val left = spark.read.parquet(store).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(left === Seq((1L, "a"), (3L, "c")),
      "recovery must prefer the complete staged copy over the partial partition")
    assert(!new java.io.File(s"$store/.forget_tmp_0").exists())
  }

  test("maintenance folds skip a negative forget partition until its request marker commit is stamped — the double-subtraction crash window is closed") {
    val lm = tmpDir("graft-forget-uncommitted") + "/lm"
    val d = docs.localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    CorpusStream.lmStore(lm).land(d.filter(col("doc_id") < cut), 0L)
    CorpusStream.lmStore(lm).land(d.filter(col("doc_id") >= cut), 1L)
    // a forget landing whose request marker has NOT committed (crash
    // window): the negative partition exists, no sentinel stamped
    val forgotten = d.filter(forgetPred)
    CorpusStream.lmStore(lm).forget(forgotten, -1001L)
    val expected = lmMap(CorpusStream.lmCells(d.filter(!forgetPred)))

    StoreCompaction.appendInto(spark, lm, upto = 1L, bucketCols = Seq("w1"))
    assert(new java.io.File(s"$lm/batch_id=-1001").isDirectory,
      "an uncommitted negative partition must survive the fold")
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark)) === expected,
      "serving still folds the uncommitted delta (readers are unaffected)")
    // the crash replay: re-land the SAME negative partition (overwrite) —
    // because the fold skipped it, this is idempotent, not a double-subtract
    CorpusStream.lmStore(lm).forget(forgotten, -1001L)
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark)) === expected,
      "a replayed uncommitted forget landing must not double-subtract")
    // marker commits -> the stamp makes the partition foldable
    new java.io.File(s"$lm/batch_id=-1001/" +
      "_FORGET_COMMITTED").createNewFile()
    StoreCompaction.appendInto(spark, lm, upto = 1L, bucketCols = Seq("w1"))
    assert(!new java.io.File(s"$lm/batch_id=-1001").exists(),
      "a stamped forget partition folds like any other delta")
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark)) === expected,
      "the negation survives the fold")
  }

  test("forget ordering is enforced: ids that do not resolve in the content archive fail loudly instead of silently under-erasing") {
    import graft.streaming.ForgetStream
    import graft.streaming.ForgetStream.ForgetTargets
    val root = tmpDir("graft-forget-ordering")
    val lm = s"$root/lm"
    val d = docs.localCheckpoint()
    CorpusStream.lmStore(lm).land(d, 0L)
    // the erase-archive-FIRST mistake: the content frame no longer holds
    // the requested ids (they were already deleted from the archive)
    val archiveErased = d.filter(!forgetPred)
    val ex = intercept[IllegalStateException] {
      ForgetStream.processBatch(d.filter(forgetPred).select("doc_id"),
        archiveErased, ForgetTargets(cellStores = Seq(CorpusStream.lmStore(lm))),
        s"$root/markers", batchId = 0L)
    }
    assert(ex.getMessage.contains("content archive"),
      s"the refusal must name the ordering constraint, got: ${ex.getMessage}")
    assert(!new java.io.File(s"$root/markers/_forget_0").exists(),
      "a refused request must not commit its marker")
    assert(!new java.io.File(s"$lm/batch_id=-1000").exists(),
      "a refused request must land nothing")
    // the correct ordering still works and serves the survivor retrain
    ForgetStream.processBatch(d.filter(forgetPred).select("doc_id"), d,
      ForgetTargets(cellStores = Seq(CorpusStream.lmStore(lm))), s"$root/markers", batchId = 0L)
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark)) ===
      lmMap(CorpusStream.lmCells(d.filter(!forgetPred))))
    assert(new java.io.File(s"$lm/batch_id=-1000/_FORGET_COMMITTED").exists(),
      "the commit stamp must land with the marker")
  }

  // ── pin-preserving (batch-split) forget: q214's machinery ─────────────

  private def batchIdsOf(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong)

  /** Four quartile LM landings over `d`; returns (deltaDir, bounds)
    * where batch k holds doc_id in [bounds(k-1), bounds(k)).
    */
  private def landQuartiles(d: org.apache.spark.sql.DataFrame,
      deltas: String): Seq[Long] = {
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      CorpusStream.lmStore(deltas).land(d.filter(col("doc_id") >= lo && col("doc_id") < hi),
        k.toLong)
    }
    bounds
  }

  private def srcBatchCol(bounds: Seq[Long]) =
    when(col("doc_id") < bounds(0), 0L)
      .when(col("doc_id") < bounds(1), 1L)
      .when(col("doc_id") < bounds(2), 2L)
      .otherwise(3L)

  test("split forget: every pinned read equals its slice's survivor retrain; a pin registered before the wave stays servable (whole-wave sealing refuses the same pin)") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-split-forget") + "/deltas"
    val bounds = landQuartiles(d, deltas)
    StoreCompaction.registerPin(deltas, "rel1", 1L)
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(forgetPred).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 0L)

    // no horizon sealed: the pre-wave pin is still legal
    StoreCompaction.requireServableAt(deltas, 1L)
    assert(StoreCompaction.forgetHorizon(deltas).isEmpty,
      "a split wave must not seal a forget horizon")

    // EVERY pin boundary serves the survivor retrain of exactly its slice
    (0 to 3).foreach { p =>
      val slice = d.filter(col("doc_id") < bounds(p) && !forgetPred)
      assert(lmMap(CorpusStream.lmStore(deltas).servedAt(spark, upto = p.toLong)) ===
        lmMap(CorpusStream.lmCells(slice)),
        s"pin at batch $p must equal the retrain on its slice's survivors")
    }

    // contrast: the whole-wave landing on a twin store seals the horizon
    // and the SAME pre-registered pin refuses loudly at read
    val sealedStore = tmpDir("graft-split-forget-sealed") + "/deltas"
    landQuartiles(d, sealedStore)
    StoreCompaction.registerPin(sealedStore, "rel1", 1L)
    CorpusStream.lmStore(sealedStore).forget(d.filter(forgetPred),
      graft.streaming.ForgetStream.ForgetBase - 0L)
    val ex = intercept[IllegalStateException] {
      CorpusStream.lmStore(sealedStore).servedAt(spark, upto = 1L)
    }
    assert(ex.getMessage.contains("forget"),
      s"the sealed store must refuse the pinned read, got: ${ex.getMessage}")
  }

  test("split forget through maintenance: folds absorb split negatives up to the pin clamp; pinned and full reads unchanged; a pin below a folded source batch refuses") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-split-maint") + "/deltas"
    val bounds = landQuartiles(d, deltas)
    StoreCompaction.registerPin(deltas, "rel2", 2L)
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(forgetPred).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 0L)
    val full = lmMap(CorpusStream.lmStore(deltas).servedAt(spark))
    val pinned2 = lmMap(CorpusStream.lmStore(deltas).servedAt(spark, upto = 2L))

    // maintenance folds as far as the pin allows: batches 0-2 plus the
    // split negatives for source batches 0-2 land in the base
    val rep = StoreCompaction.maintain(spark, deltas, Seq("w1"),
      StoreCompaction.MaintenancePolicy(minorAtDeltas = 1, keepLatestDeltas = 0))
    assert(rep.minorUpto === Some(2L) && rep.clampedByPins,
      s"the fold must clamp at the live pin, got $rep")
    val leftIds = batchIdsOf(deltas).sorted
    assert(leftIds.count(_ <= StoreCompaction.SplitForgetBase) === 1,
      s"only the source-batch-3 split negative may survive the fold, got $leftIds")

    assert(lmMap(CorpusStream.lmStore(deltas).servedAt(spark)) === full,
      "the full read must not move across the fold")
    assert(lmMap(CorpusStream.lmStore(deltas).servedAt(spark, upto = 2L)) === pinned2,
      "the pinned read must not move across the fold")
    // a pin below a folded SPLIT source batch is refused at registration:
    // the negative's rows are in the base now, so the slice is gone
    val ex = intercept[IllegalStateException] {
      StoreCompaction.registerPin(deltas, "late", 1L)
    }
    assert(ex.getMessage.contains("compaction"),
      s"folding a split negative must advance the horizon to its source batch: ${ex.getMessage}")
  }

  test("streamed split forget: a request wave in splitBySrcBatch mode preserves a live release pin, stamps its split partitions, and replays as a no-op") {
    import graft.streaming.ForgetStream
    import graft.streaming.ForgetStream.ForgetTargets
    val d = docs.localCheckpoint()
    val root = tmpDir("graft-split-stream")
    val (lm, landing) = (s"$root/lm", s"$root/requests")
    new java.io.File(landing).mkdirs()
    val bounds = landQuartiles(d, lm)
    StoreCompaction.registerPin(lm, "rel1", 1L)
    // the content archive carries each doc's original landing batch
    val content = d.withColumn("src_batch", srcBatchCol(bounds))
      .localCheckpoint()
    val stage = tmpDir("graft-split-req-stage")
    d.filter(forgetPred).select("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(landing, "w1.parquet"))
    val targets = ForgetTargets(cellStores = Seq(CorpusStream.lmStore(lm)), splitBySrcBatch = true)
    ForgetStream.forgetSink(ForgetStream.readRequestStream(spark, landing),
      content, targets, s"$root/markers", s"$root/ck").awaitTermination()

    // the pre-wave pin survived and serves its slice's survivor retrain
    StoreCompaction.requireServableAt(lm, 1L)
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark, upto = 1L)) ===
      lmMap(CorpusStream.lmCells(
        d.filter(col("doc_id") < bounds(1) && !forgetPred))),
      "the pinned release must serve erasure-aware survivor counts")
    assert(lmMap(CorpusStream.lmStore(lm).servedAt(spark)) ===
      lmMap(CorpusStream.lmCells(d.filter(!forgetPred))),
      "the full read must equal the survivor retrain")

    // every split partition this request landed carries the commit stamp
    val splitIds = batchIdsOf(lm)
      .filter(_ <= StoreCompaction.SplitForgetBase)
    assert(splitIds.size === 4, s"four source batches → four landings: $splitIds")
    // and the certificate records the split landing count
    val certRow = ForgetStream.erasureCertificate(spark, s"$root/markers")
      .filter(col("family") === "lm").head()
    assert(certRow.getAs[String]("action") === "negative_split_landing" &&
      certRow.getAs[Long]("n") === 4L,
      s"the certificate must record the split landing: $certRow")
    splitIds.foreach { id =>
      assert(new java.io.File(s"$lm/batch_id=$id/_FORGET_COMMITTED").exists(),
        s"split partition $id must be stamped after the marker commits")
    }

    // a replayed request batch is a marker-gated no-op
    def partsOf(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted.toSeq
    val snap = (partsOf(lm), lmMap(CorpusStream.lmStore(lm).servedAt(spark)))
    ForgetStream.processBatch(d.filter(forgetPred).select("doc_id"), content,
      targets, s"$root/markers", batchId = 0L)
    assert((partsOf(lm), lmMap(CorpusStream.lmStore(lm).servedAt(spark))) === snap,
      "a replayed split wave must not move a single row or partition")
  }

  test("split forget generalizes across the additive families: k-anon, diversity, and CDC pinned serves equal their slice recomputes with no horizon sealed anywhere") {
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val cut = full.agg(max(col("doc_id"))).head().getLong(0) / 2
    val srcB = when(col("doc_id") < cut, 0L).otherwise(1L)
    val root = tmpDir("graft-split-fams")
    val (kanon, dims, stats, chunks, nd) = (s"$root/kanon", s"$root/dims",
      s"$root/stats", s"$root/chunks", s"$root/nd")
    Seq(col("doc_id") < cut, col("doc_id") >= cut).zipWithIndex.foreach {
      case (p, b) =>
        CorpusStream.kAnonStore(kanon).land(full.filter(p), b.toLong)
        CellStore.land(full.filter(p), b.toLong, CorpusStream.divStores(dims, stats))
        CellStore.land(full.filter(p), b.toLong, CorpusStream.cdcStores(chunks, nd))
    }
    val forgotten = full.filter(forgetPred).withColumn("src_batch", srcB)
    (CorpusStream.kAnonStore(kanon) +:
      (CorpusStream.divStores(dims, stats) ++ CorpusStream.cdcStores(chunks, nd)))
      .foreach { t =>
        t.forgetSplit(forgotten, requestId = 0L)
        assert(StoreCompaction.forgetHorizon(t.dir).isEmpty,
          s"split mode must not seal ${t.dir}")
      }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    Seq(0L, Long.MaxValue).foreach { p =>
      val slice = full.filter(!forgetPred &&
        (if (p == 0L) col("doc_id") < cut else lit(true)))
      assert(rows(CorpusStream.kAnonStore(kanon).servedAt(spark, upto = p)
          .orderBy("source", "lang", "len_bucket")) ===
        rows(graft.ops.TextOps.kAnonCells(slice)
          .orderBy("source", "lang", "len_bucket")),
        s"k-anon pinned($p) must equal its slice recount")
      assert(rows(CorpusStream.diversityFromDeltas(spark, dims, stats, upto = p)) ===
        rows(graft.ops.Similarity.diversityOf(slice)),
        s"diversity pinned($p) must equal its slice recompute")
      val ex = graft.ops.Dedup.cdcChunks(slice).localCheckpoint()
      val ndS = ex.select("source", "doc_id").distinct()
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      assert(rows(CorpusStream.cdcReportFromDeltas(spark, chunks, nd, upto = p)) ===
        rows(graft.ops.Dedup.cdcReportFromCells(graft.ops.Dedup.cdcCellsOf(ex), ndS)),
        s"CDC pinned($p) must equal its slice re-chunk")
    }
  }

  test("surgicalDeleteFiles: only FILES holding a forgotten row are rewritten on an unpartitioned store; absence is total; recovery completes an interrupted swap") {
    val store = tmpDir("graft-forgetf") + "/codes"
    Seq.range(0L, 40L).toDF("vec_id").withColumn("payload", col("vec_id") * 2)
      .repartitionByRange(4, col("vec_id"))
      .write.parquet(store)
    def partFiles() = new java.io.File(store).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    val mtimes0 = partFiles().map(f => f.getName -> f.lastModified()).toMap

    val rep = Forget.surgicalDeleteFiles(spark, store, Seq(7L).toDF("vec_id"))
    assert(rep.nPartitions === 4 && rep.nRewritten === 1 && rep.rowsRemoved === 1L,
      s"a single range-local id must rewrite exactly one file: $rep")
    val untouched = partFiles().count(f => mtimes0.get(f.getName).contains(f.lastModified()))
    assert(untouched === 3, "files without a forgotten row must not be touched")
    val left = spark.read.parquet(store).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    assert(left.length === 39 && !left.contains(7L), "absence must be total")

    val rep2 = Forget.surgicalDeleteFiles(spark, store, Seq(7L).toDF("vec_id"))
    assert(rep2.nRewritten === 0 && rep2.rowsRemoved === 0L,
      "a second pass must be a no-op")

    // a file whose rows are ALL forgotten becomes empty but stays valid
    val rep3 = Forget.surgicalDeleteFiles(spark, store,
      Seq.range(0L, 12L).toDF("vec_id"))
    assert(rep3.rowsRemoved === 11L, s"ids 0-11 minus the erased 7: $rep3")
    assert(spark.read.parquet(store).count() === 28L)

    // crash recovery: swap interrupted AFTER the target delete — the only
    // copy is staged; the next pass must restore it before anything else
    val victim = partFiles().last
    val tmp = new java.io.File(store, ".forgetf_tmp_sim")
    tmp.mkdirs()
    java.nio.file.Files.move(victim.toPath,
      new java.io.File(tmp, "part-sim.parquet").toPath)
    java.nio.file.Files.write(new java.io.File(tmp, "_SUCCESS").toPath, Array[Byte]())
    java.nio.file.Files.write(new java.io.File(tmp, "_TARGET").toPath,
      victim.getName.getBytes("UTF-8"))
    Forget.surgicalDeleteFiles(spark, store, Seq(999L).toDF("vec_id"))
    assert(victim.exists() && !tmp.exists(),
      "recovery must complete the interrupted swap")
    assert(spark.read.parquet(store).count() === 28L,
      "no row may be lost across the crash window")
    // an unfinished staging dir (no _SUCCESS) is discarded
    val partial = new java.io.File(store, ".forgetf_tmp_bad")
    partial.mkdirs()
    java.nio.file.Files.write(new java.io.File(partial, "part-x.parquet").toPath,
      Array[Byte](1, 2, 3))
    Forget.surgicalDeleteFiles(spark, store, Seq(999L).toDF("vec_id"))
    assert(!partial.exists(), "incomplete staging must be discarded")
    assert(spark.read.parquet(store).count() === 28L)
  }

  // ── retention expiry: the age-based dual of forget (q215's machinery) ──

  test("retention expiry: landings drop as partitions with their split negatives; windowed serves equal window retrains; expired erasure is a no-op") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-ttl") + "/deltas"
    val bounds = landQuartiles(d, deltas)
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(forgetPred).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 0L)

    val rep = StoreCompaction.expireBefore(deltas, lo = 2L)
    assert(rep.floor === 2L && !rep.droppedBase &&
      rep.droppedBatches.map(b =>
        if (b <= StoreCompaction.SplitForgetBase)
          StoreCompaction.splitSourceBatch(b) else b).sorted === Seq(0L, 0L, 1L, 1L),
      s"batches 0-1 and exactly their split negatives must drop: $rep")
    val leftEff = batchIdsOf(deltas).map(b =>
      if (b <= StoreCompaction.SplitForgetBase)
        StoreCompaction.splitSourceBatch(b) else b).sorted
    assert(leftEff === Seq(2L, 2L, 3L, 3L),
      s"only the retained window's partitions may remain: $leftEff")

    // windowed serves equal retrains on exactly their window's survivors
    def windowRetrain(lo: Long, hi: Long) = lmMap(CorpusStream.lmCells(
      d.filter(col("doc_id") >= (if (lo == 2) bounds(1) else bounds(2)) &&
        col("doc_id") < bounds(hi.toInt) && !forgetPred)))
    assert(lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo = 2L)) ===
      windowRetrain(2, 3),
      "the full retained window must equal its survivor retrain")
    assert(lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo = 2L, upto = 2L)) ===
      windowRetrain(2, 2),
      "a sub-window must equal its own survivor retrain")

    // monotone + idempotent: a lower or equal floor is a no-op
    assert(StoreCompaction.expireBefore(deltas, 1L).droppedBatches.isEmpty &&
      StoreCompaction.retentionFloor(deltas) === Some(2L))

    // a later wave forgetting docs whose landings EXPIRED lands nothing
    // for them (their positives left disk) — and the serve stays exact
    val wave2 = col("doc_id") % 17 === 5
    val landed = CorpusStream.lmStore(deltas).forgetSplit(d.filter(wave2).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 1L)
    assert(landed.map(StoreCompaction.splitSourceBatch).sorted === Seq(2L, 3L),
      s"expired source batches must not re-land: $landed")
    assert(lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo = 2L)) ===
      lmMap(CorpusStream.lmCells(
        d.filter(col("doc_id") >= bounds(1) && !forgetPred && !wave2))),
      "the two-wave windowed serve must equal the two-wave window retrain")
  }

  test("retention windows generalize across the additive families: diversity, k-anon, and CDC windowed serves equal their retained-window survivor recomputes") {
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val ids = full.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    val root = tmpDir("graft-ttl-fams")
    val (kanon, dims, stats, chunks, nd) = (s"$root/kanon", s"$root/dims",
      s"$root/stats", s"$root/chunks", s"$root/nd")
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      val sl = full.filter(col("doc_id") >= lo && col("doc_id") < hi)
      CorpusStream.kAnonStore(kanon).land(sl, k.toLong)
      CellStore.land(sl, k.toLong, CorpusStream.divStores(dims, stats))
      CellStore.land(sl, k.toLong, CorpusStream.cdcStores(chunks, nd))
    }
    val forgotten = full.filter(forgetPred)
      .withColumn("src_batch", srcBatchCol(bounds))
    val stores = (CorpusStream.kAnonStore(kanon) +:
      (CorpusStream.divStores(dims, stats) ++ CorpusStream.cdcStores(chunks, nd)))
    stores.foreach(t => t.forgetSplit(forgotten, requestId = 0L))
    stores.foreach(t => StoreCompaction.expireBefore(t.dir, 2L))

    val windowSurv = full
      .filter(col("doc_id") >= bounds(1) && !forgetPred).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(CorpusStream.kAnonStore(kanon).servedWindow(spark, lo = 2L)
        .orderBy("source", "lang", "len_bucket")) ===
      rows(graft.ops.TextOps.kAnonCells(windowSurv)
        .orderBy("source", "lang", "len_bucket")),
      "k-anon windowed serve must equal the retained-window recount")
    assert(rows(CorpusStream.diversityWindowed(spark, dims, stats, lo = 2L)) ===
      rows(graft.ops.Similarity.diversityOf(windowSurv)),
      "diversity windowed serve must equal the retained-window recompute")
    val ex = graft.ops.Dedup.cdcChunks(windowSurv).localCheckpoint()
    val ndW = ex.select("source", "doc_id").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    assert(rows(CorpusStream.cdcReportWindowed(spark, chunks, nd, lo = 2L)) ===
      rows(graft.ops.Dedup.cdcReportFromCells(graft.ops.Dedup.cdcCellsOf(ex), ndW)),
      "CDC windowed serve must equal the retained-window re-chunk")
  }

  test("retention windows close over the remaining SUM-cell families: eval, feature-ratio, MW, drift, pair drift, and occupancy windowed serves equal their retained-window survivor recomputes") {
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val ids = full.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    val root = tmpDir("graft-ttl-sumfams")
    val (evalD, featD, mwD, driftD) =
      (s"$root/eval", s"$root/feat", s"$root/mw", s"$root/drift")
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      val sl = full.filter(col("doc_id") >= lo && col("doc_id") < hi)
      CorpusStream.evalStore(evalD).land(sl, k.toLong)
      CorpusStream.featureStore(featD).land(sl, k.toLong)
      CorpusStream.mwStore(mwD).land(sl, k.toLong)
      DriftStream.driftStore(driftD).land(sl, k.toLong)
    }
    val forgotten = full.filter(forgetPred)
      .withColumn("src_batch", srcBatchCol(bounds))
    val targets = Seq(
      CorpusStream.evalStore(evalD), CorpusStream.featureStore(featD),
      CorpusStream.mwStore(mwD),
      DriftStream.driftStore(driftD))
    targets.foreach(t => t.forgetSplit(forgotten, requestId = 0L))
    targets.foreach(t => StoreCompaction.expireBefore(t.dir, 2L))
    val windowSurv = full
      .filter(col("doc_id") >= bounds(1) && !forgetPred).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

    assert(rows(CorpusStream.evalTableWindowed(spark, evalD, lo = 2L)
        .orderBy("band")) ===
      rows(graft.ops.Mining.evalTableFromCells(spark,
        graft.ops.Mining.evalCells(windowSurv)).orderBy("band")),
      "eval windowed serve must equal the retained-window recompute")
    val featSurv = CorpusStream.featureCells(windowSurv).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(CorpusStream.ratioWindowed(spark, featD, lo = 2L) ===
      graft.ops.Mining.ratioFromCounts(
        featSurv.map(t => t._1 -> t._2).toMap.filter(_._2 > 0),
        featSurv.map(t => t._1 -> t._3).toMap.filter(_._2 > 0)),
      "the windowed DSIR ratio table must equal a train on the window survivors")
    assert(rows(CorpusStream.reweightingWindowed(spark, mwD, lo = 2L)
        .orderBy("source")) ===
      rows(graft.ops.Mining.mwTableFromCells(
        graft.ops.Mining.mwCells(windowSurv)).orderBy("source")),
      "MW windowed serve must equal the retained-window recompute")
    assert(rows(graft.streaming.DriftStream.driftWindowed(spark, driftD, lo = 2L)
        .orderBy("source")) ===
      rows(graft.ops.Corpus.chi2FromCells(
        graft.ops.Corpus.driftCells(windowSurv)).orderBy("source")),
      "drift windowed serve must equal the retained-window recompute")

    // keyed stores (snapshot in the DATA, landing in the partition id):
    // synthetic cells make the fold law checkable without the embedding
    // machinery — the windowed pair statistic must equal the same kernel
    // over a survivor-only twin store
    val (keyedD, keyedTwin) = (s"$root/keyed", s"$root/keyed_twin")
    (0 until 4).foreach { k =>
      val sl = full.filter(
        col("doc_id") >= (if (k == 0) Long.MinValue else bounds(k - 1)) &&
          col("doc_id") < bounds(k))
      def cells(d: org.apache.spark.sql.DataFrame) = d
        .select((col("doc_id") % 2).as("snapshot_id"),
          pmod(col("doc_id"), lit(7L)).as("cluster"))
        .groupBy("snapshot_id", "cluster").agg(count(lit(1)).as("o"))
      cells(sl).coalesce(1).write.mode("overwrite")
        .parquet(s"$keyedD/batch_id=$k")
      if (k >= 2) cells(sl).coalesce(1).write.mode("overwrite")
        .parquet(s"$keyedTwin/batch_id=$k")
    }
    StoreCompaction.expireBefore(keyedD, 2L)
    assert(rows(graft.streaming.EmbeddingStream.occupancyPairWindowed(spark,
        graft.streaming.EmbeddingStream.occupancyStore(keyedD, centroidPath = ""),
        0L, 1L, lo = 2L).orderBy("cluster")) ===
      rows(graft.streaming.EmbeddingStream.occupancyPairFromDeltas(spark,
        graft.streaming.EmbeddingStream.occupancyStore(keyedTwin, centroidPath = ""),
        0L, 1L).orderBy("cluster")),
      "occupancy pair windowed must equal the survivor-twin statistic")
    val (dkD, dkTwin) = (s"$root/driftkeyed", s"$root/driftkeyed_twin")
    (0 until 4).foreach { k =>
      val sl = full.filter(
        col("doc_id") >= (if (k == 0) Long.MinValue else bounds(k - 1)) &&
          col("doc_id") < bounds(k))
        .withColumn("snapshot_id", col("doc_id") % 2)
      DriftStream.snapshotStore(dkD).land(sl, k.toLong)
      if (k >= 2) DriftStream.snapshotStore(dkTwin).land(sl, k.toLong)
    }
    StoreCompaction.expireBefore(dkD, 2L)
    assert(rows(graft.streaming.DriftStream.pairDriftWindowed(
        spark, dkD, 0L, 1L, lo = 2L).orderBy("source")) ===
      rows(graft.streaming.DriftStream.pairDriftFromDeltas(
        spark, dkTwin, 0L, 1L).orderBy("source")),
      "pair drift windowed must equal the survivor-twin statistic")
  }

  test("retention windows close over the identity families: code-switch, scrub verdicts, semantic history, span cells, and band decisions re-elected from the windowed index") {
    val full = Catalog.table(spark, sf, "documents")
      .select("doc_id", "source", "text").localCheckpoint()
    val ids = full.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    val root = tmpDir("graft-ttl-idfams")
    val survivors = full.filter(!forgetPred)
    val windowSurv = survivors.filter(col("doc_id") >= bounds(1)).localCheckpoint()
    val fIds = full.filter(forgetPred).select("doc_id").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def land(dir: String)(write: (org.apache.spark.sql.DataFrame, Long) => Unit): String = {
      bounds.zipWithIndex.foreach { case (hi, k) =>
        val lo = if (k == 0) Long.MinValue else bounds(k - 1)
        write(full.filter(col("doc_id") >= lo && col("doc_id") < hi), k.toLong)
      }
      Forget.surgicalDelete(spark, dir, fIds)
      StoreCompaction.expireBefore(dir, 2L)
      dir
    }

    // code-switch / salvage (per-doc window-majority rows)
    val csD = land(s"$root/cs")(CorpusStream.writeCsDelta(_, s"$root/cs", _))
    assert(rows(CorpusStream.codeSwitchWindowed(spark, csD, windowSurv, lo = 2L)) ===
      rows(graft.ops.TextOps.codeSwitchFromMaj(
        graft.ops.TextOps.windowMajorities(windowSurv), windowSurv)),
      "code-switch windowed must equal the retained-window recompute")
    assert(rows(CorpusStream.salvageWindowed(spark, csD, windowSurv, lo = 2L)) ===
      rows(graft.ops.TextOps.mixedSalvageFromMaj(
        graft.ops.TextOps.windowMajorities(windowSurv), windowSurv)),
      "salvage windowed must equal the retained-window recompute")

    // scrub verdict store
    val benchRoot = graft.streaming.ScrubStream.buildBenchArtifact(spark, sf)
    val bench = spark.read.parquet(s"$benchRoot/hashes").localCheckpoint()
    val corpus = full.filter(col("doc_id") >= 50)
    val scrubD = land(s"$root/scrub") { (sl, k) =>
      graft.streaming.ScrubStream.batchScrub(
          sl.filter(col("doc_id") >= 50), bench)
        .write.mode("overwrite").parquet(s"$root/scrub/batch_id=$k")
    }
    assert(rows(graft.streaming.ScrubStream.scrubReportWindowed(spark, scrubD, lo = 2L)) ===
      rows(graft.ops.Dedup.scrubReport(graft.streaming.ScrubStream.batchScrub(
        corpus.filter(col("doc_id") >= bounds(1) && !forgetPred), bench))),
      "scrub report windowed must equal the retained-window re-scrub")

    // semantic history (vec_id identity rows)
    val emb = Catalog.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"),
        graft.ops.Similarity.asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    val vIds = emb.select(col("vec_id").as("doc_id"))
      .orderBy("doc_id").collect().map(_.getLong(0))
    val vBounds = Seq(vIds(vIds.length / 2), Long.MaxValue)
    val histD = s"$root/hist"
    vBounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else vBounds(k - 1)
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .write.mode("overwrite").parquet(s"$histD/batch_id=$k")
    }
    Forget.surgicalDelete(spark, histD,
      emb.filter(pmod(col("vec_id"), lit(17L)) === 3L).select("vec_id"),
      keyCol = "vec_id")
    StoreCompaction.expireBefore(histD, 1L)
    val splits = emb.select(col("vec_id").as("doc_id"),
      (col("vec_id") % 3).cast("string").as("split"))
    val survEmb = emb.filter(col("vec_id") >= vBounds(0) &&
      pmod(col("vec_id"), lit(17L)) =!= 3L)
    assert(rows(graft.streaming.EmbeddingStream.semanticAuditWindowed(
        spark, histD, splits, lo = 1L).orderBy("split_a", "split_b")) ===
      rows(graft.ops.Similarity.semanticLeakMatrix(survEmb, splits)
        .orderBy("split_a", "split_b")),
      "semantic audit windowed must equal the retained-window recompute")

    // span cells: windowed first-occurrence re-scopes to the window; a
    // forget re-election corrective REFUSES windowed serving
    val spanD = s"$root/span"
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      CorpusStream.spanStore(spanD).land(full.filter(col("doc_id") >= lo && col("doc_id") < hi),
        k.toLong)
    }
    StoreCompaction.expireBefore(spanD, 2L)
    assert(rows(CorpusStream.spanScrubWindowed(spark, spanD,
        full.filter(col("doc_id") >= bounds(1)), lo = 2L)) ===
      rows(graft.ops.Mining.spanScrubFromCells(
        full.filter(col("doc_id") >= bounds(1)),
        graft.ops.Mining.spanWindowCells(
          full.filter(col("doc_id") >= bounds(1))))),
      "span windowed must equal the retained-window recompute")
    val spanF = s"$root/spanf"
    CorpusStream.spanStore(spanF).land(full.filter(col("doc_id") < bounds(0)), 0L)
    CorpusStream.spanStore(spanF).land(full.filter(col("doc_id") >= bounds(0)), 1L)
    Forget.forgetSpanCells(spark, spanF, full.filter(forgetPred),
      survivors, correctiveId = 2L)
    assert(intercept[IllegalStateException] {
      CorpusStream.spanScrubWindowed(spark, spanF, full, lo = 0L)
    }.getMessage.contains("re-election"),
      "a span corrective must refuse windowed serving loudly")

    // band decisions: stored verdicts can name expired owners, so the
    // windowed serve RE-ELECTS from the windowed index — equal to a
    // from-scratch keep-earliest dedup of the window survivors
    val (idxD, decD) = (s"$root/bands", s"$root/decs")
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      graft.streaming.LshStream.processBatch(
        full.filter(col("doc_id") >= lo && col("doc_id") < hi),
        idxD, decD, k.toLong)
    }
    Forget.surgicalDelete(spark, idxD, fIds)
    StoreCompaction.expireBefore(idxD, 2L)
    val fresh = graft.streaming.LshStream.batchBands(windowSurv)
    assert(rows(graft.streaming.LshStream.windowedDecisions(
        spark, idxD, windowSurv, lo = 2L).orderBy("doc_id")) ===
      rows(graft.ops.Dedup.keepEarliestVerdicts(windowSurv.select("doc_id"),
        graft.ops.Dedup.firstSeenBandPartners(fresh, fresh.filter(lit(false))))
        .orderBy("doc_id")),
      "windowed decisions must equal a from-scratch dedup of the window survivors")
  }

  test("retention windows close over the sketch and manifest families: HLL/KMV windowed serves and shard/curriculum/segment manifests equal their retained-window recomputes") {
    import graft.streaming.{OrderStream, ShardStream, SketchStream}
    import graft.ops.Sketches
    val root = tmpDir("graft-ttl-sketch")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq

    // event-keyed sketches: quartile landings by event_id arrival order
    val events = Catalog.table(spark, sf, "events").localCheckpoint()
    val eq = events.agg(max(col("event_id"))).head().getLong(0) / 4
    val eBounds = Seq(
      Long.MinValue -> eq, eq -> 2 * eq, 2 * eq -> 3 * eq,
      3 * eq -> Long.MaxValue)
    val (hllD, kmvD) = (s"$root/hll", s"$root/kmv")
    eBounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      val sl = events.filter(col("event_id") >= lo && col("event_id") < hi)
      SketchStream.writeRegisterDelta(sl, hllD, k.toLong, p = 8)
      SketchStream.writeKmvDelta(sl, kmvD, k.toLong, k = 64)
    }
    StoreCompaction.expireBefore(hllD, 2L)
    StoreCompaction.expireBefore(kmvD, 2L)
    val retained = events.filter(col("event_id") >= 2 * eq).localCheckpoint()
    assert(rows(SketchStream.estimatesWindowed(spark, hllD, lo = 2L, p = 8)
        .orderBy("event_type")) ===
      rows(Sketches.hllEstimate(
        Sketches.hllRegisters(retained, Seq("event_type"),
          Sketches.userDayKeyCol, 8), Seq("event_type"), 8)
        .orderBy("event_type")),
      "windowed HLL estimates must be bit-equal to a from-scratch sketch " +
        "of the retained events")
    val kmvScratch = retained
      .select(col("event_type"), graft.ops.Dedup.h60Col(
        Sketches.userDayKeyCol).as("h"))
      .groupBy("event_type")
      .agg(graft.functions.KmvMin.kmvMin(64)(col("h")).as("mins"))
    assert(rows(SketchStream.overlapWindowed(spark, kmvD, lo = 2L, k = 64)
        .orderBy("type_a", "type_b")) ===
      rows(Sketches.kmvPairEstimates(kmvScratch, 64)
        .orderBy("type_a", "type_b")),
      "windowed KMV overlaps must equal the retained-events sketch")

    // manifest families: quartile doc landings, expire, windowed fold ≡
    // a recompute over the retained docs
    val d = Catalog.table(spark, sf, "documents").localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    val (shardD, currD, massD) = (s"$root/shard", s"$root/curr", s"$root/mass")
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      val sl = d.filter(col("doc_id") >= lo && col("doc_id") < hi)
      ShardStream.manifestStore(shardD).land(sl, k.toLong)
      OrderStream.curriculumStore(currD).land(sl, k.toLong)
      OrderStream.massStore(massD).land(sl, k.toLong)
    }
    Seq(shardD, currD, massD).foreach(StoreCompaction.expireBefore(_, 2L))
    val winDocs = d.filter(col("doc_id") >= bounds(1)).localCheckpoint()
    assert(rows(ShardStream.manifestWindowed(spark, shardD, lo = 2L)) ===
      rows(graft.ops.Mining.shardManifest(graft.ops.Mining.shardStats(winDocs))
        .orderBy("shard_id")),
      "windowed shard manifest must equal the retained-docs manifest")
    assert(rows(OrderStream.manifestWindowed(spark, currD, lo = 2L)) ===
      rows(graft.ops.Mining.curriculumManifest(
        graft.ops.Mining.curriculumCells(winDocs))),
      "windowed curriculum manifest must equal the retained-docs manifest")
    assert(rows(OrderStream.segmentManifestWindowed(spark, massD, lo = 2L)) ===
      rows(OrderStream.segmentManifestFromDeltas(spark, massD)),
      "after expiry the windowed segment manifest is the store's whole " +
        "retained content")
    // and the windowed segment manifest equals a plan over the retained
    // docs' masses directly
    val scratchMass = OrderStream.massCells(winDocs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy((t: (String, Long, Long)) => t._1)
    assert(rows(OrderStream.segmentManifestWindowed(spark, massD, lo = 2L)) ===
      rows(graft.ops.Mining.renormManifestDf(spark, scratchMass)
        .orderBy("seg_idx")),
      "windowed segment manifest must equal the retained-docs plan")
  }

  test("window-mode curation stores: per-doc identity rows make erasure re-elect implicitly at serve time and expiry re-scope ownership to the window — serves equal the q127 kernel on the logical corpus at every step") {
    import graft.streaming.{CurationStream, LshStream}
    val d = Catalog.table(spark, sf, "documents")
      .select("doc_id", "source", "text").localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    val root = tmpDir("graft-cur-window")
    val (fpD, idxD) = (s"$root/fps", s"$root/bands")
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      CurationStream.writeWindowDelta(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi), fpD, idxD, k.toLong)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // the q127 kernel on an arbitrary frame — the logical-corpus twin
    def scratch(frame: org.apache.spark.sql.DataFrame) = {
      val keepers = frame
        .join(graft.ops.Corpus.gateFrame(frame).select(col("doc_id"), col("keep")),
          Seq("doc_id"))
        .filter(col("keep"))
        .select(col("doc_id"), col("text"),
          md5(graft.ops.TextOps.normalized(col("text"))).as("fp"))
        .localCheckpoint()
      val firstOwner = keepers.groupBy("fp").agg(min(col("doc_id")).as("first"))
      val exact = keepers.join(firstOwner, Seq("fp"))
        .select(col("doc_id"), (col("first") < col("doc_id")).as("is_exact_dup"),
          when(col("first") < col("doc_id"), col("first")).as("exact_dup_of"))
      val reps = keepers.join(firstOwner,
        keepers("doc_id") === firstOwner("first"), "left_semi")
      val bands = LshStream.batchBands(reps)
      val verdicts = graft.ops.Dedup.keepEarliestVerdicts(reps.select("doc_id"),
        graft.ops.Dedup.firstSeenBandPartners(bands, bands.filter(lit(false))))
      exact.join(verdicts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_exact_dup"), col("exact_dup_of"),
          col("n_earlier"), col("dup_of"), col("is_band_dup"))
        .orderBy("doc_id")
    }
    assert(rows(CurationStream.windowedDecisions(spark, fpD, idxD, lo = 0L)) ===
      rows(scratch(d)),
      "the full-window serve must equal the q127 kernel on the corpus")

    // erase an OWNER a duplicate points at: no corrective is landed
    // anywhere — the next serve-time election promotes the
    // second-earliest copy implicitly. Prefer an exact-dup owner; the
    // gate may leave none at this scale, in which case a band-dup owner
    // exercises the same law through the banding stage.
    val baseline = CurationStream.windowedDecisions(spark, fpD, idxD, lo = 0L)
      .localCheckpoint()
    val owner = spark.read.parquet(fpD)
      .groupBy("fp").agg(count(lit(1)).as("n"), min(col("doc_id")).as("owner"))
      .filter(col("n") >= 2).orderBy("owner").limit(1)
      .collect().headOption.map(_.getLong(2))
      .orElse(baseline.filter(col("is_band_dup"))
        .orderBy("dup_of").limit(1)
        .collect().headOption.map(_.getAs[Long]("dup_of")))
      .getOrElse(fail("the fixture corpus must contain a dup family"))
    val ownerIds = Seq(owner).toDF("doc_id")
    Forget.surgicalDelete(spark, fpD, ownerIds)
    Forget.surgicalDelete(spark, idxD, ownerIds)
    val postErase = CurationStream.windowedDecisions(spark, fpD, idxD, lo = 0L)
    assert(rows(postErase) === rows(scratch(d.filter(col("doc_id") =!= owner))),
      "erasing an owner must re-elect implicitly — no corrective partitions")
    assert(!batchIdsOf(fpD).exists(_ > 3L) && !batchIdsOf(idxD).exists(_ > 3L),
      "no corrective partition may land: ownership is never materialized")

    // expiry re-scopes ownership to the window: the earliest RETAINED
    // copy owns each fp, and the serve equals the kernel on the window
    StoreCompaction.expireBefore(fpD, 2L)
    StoreCompaction.expireBefore(idxD, 2L)
    assert(rows(CurationStream.windowedDecisions(spark, fpD, idxD, lo = 2L)) ===
      rows(scratch(d.filter(col("doc_id") >= bounds(1) &&
        col("doc_id") =!= owner))),
      "the windowed serve must equal the kernel on the retained survivors")
  }

  test("epoch folds: complete epochs band into per-epoch bases with every windowed serve unchanged; whole-epoch expiry is ONE directory drop; partial overlaps refuse everywhere") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-epoch") + "/deltas"
    val bounds = landQuartiles(d, deltas) // 4 landings; epoch size 2 → 2 epochs
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(forgetPred).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 0L)
    def win(lo: Long, hi: Long = Long.MaxValue) =
      lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo, hi))
    val (w01, w0m, w2m) = (win(0, 1), win(0), win(2))

    // fold ONLY the complete epoch 0 (batches 0-1 + split negatives for
    // source batches 0-1 band into one partition)
    assert(StoreCompaction.foldEpochs(spark, deltas, epochSize = 2L,
      uptoBatch = 1L) === Seq(0L))
    val ids1 = batchIdsOf(deltas)
    assert(ids1.count(_ <= StoreCompaction.EpochFoldBase) === 1 &&
      ids1.count(id => id >= 0) === 2 &&
      ids1.count(id => id <= StoreCompaction.SplitForgetBase &&
        id > StoreCompaction.EpochFoldBase) === 2,
      s"epoch 0 must band its batches AND its split negatives: $ids1")
    assert((win(0, 1), win(0), win(2)) === ((w01, w0m, w2m)),
      "every aligned window must serve unchanged across the epoch fold")

    // partial overlaps refuse: a window cutting into the folded epoch,
    // and any pinned read (epoch stores serve windows)
    assert(intercept[IllegalStateException](win(1, 3))
      .getMessage.contains("partially"), "mid-epoch windows must refuse")
    assert(intercept[IllegalStateException] {
      CorpusStream.lmStore(deltas).servedAt(spark, upto = 3L)
    }.getMessage.contains("epoch-folded"), "pinned reads must refuse")

    // fold epoch 1, expire epoch 0 — ONE directory drop
    StoreCompaction.foldEpochs(spark, deltas, 2L, uptoBatch = 3L)
    val rep = StoreCompaction.expireBefore(deltas, 2L)
    assert(rep.droppedBatches === Seq(StoreCompaction.EpochFoldBase),
      s"whole-epoch expiry must be the epoch partition drop: $rep")
    assert(win(2) === w2m, "the retained epoch must serve unchanged")
    // misaligned expiry refuses (the floor would fall inside epoch 1)
    assert(intercept[IllegalStateException] {
      StoreCompaction.expireBefore(deltas, 3L)
    }.getMessage.contains("align"), "mid-epoch expiry must refuse")

    // a later split wave on the epoch-folded store lands beside the
    // epoch partitions and windows correctly
    val wave2 = col("doc_id") % 17 === 5
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(wave2).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 1L)
    assert(win(2) === lmMap(CorpusStream.lmCells(
        d.filter(col("doc_id") >= bounds(1) && !forgetPred && !wave2))),
      "the windowed serve must equal the retained-epoch two-wave retrain")
  }

  test("retention refusals: live pins, folded bases, whole-wave negatives, and in-flight forgets block expiry; expired stores refuse pins and folds") {
    val d = docs.localCheckpoint()
    // live pin blocks expiry by name
    val pinned = tmpDir("graft-ttl-pin") + "/deltas"
    landQuartiles(d, pinned)
    StoreCompaction.registerPin(pinned, "rel", 1L)
    val exPin = intercept[IllegalStateException] {
      StoreCompaction.expireBefore(pinned, 2L)
    }
    assert(exPin.getMessage.contains("rel@1"), exPin.getMessage)

    // a base folded PAST the floor blocks expiry; one folded entirely
    // BELOW it drops whole (the fold-an-epoch-then-expire-it pattern)
    val folded = tmpDir("graft-ttl-fold") + "/deltas"
    val bounds = landQuartiles(d, folded)
    StoreCompaction.appendInto(spark, folded, upto = 2L, Seq("w1"))
    val exFold = intercept[IllegalStateException] {
      StoreCompaction.expireBefore(folded, 2L)
    }
    assert(exFold.getMessage.contains("compaction folded"), exFold.getMessage)
    val epoch = tmpDir("graft-ttl-epoch") + "/deltas"
    landQuartiles(d, epoch)
    StoreCompaction.appendInto(spark, epoch, upto = 1L, Seq("w1"))
    val repE = StoreCompaction.expireBefore(epoch, 2L)
    assert(repE.droppedBase && StoreCompaction.compactionHorizon(epoch).isEmpty,
      s"a base entirely below the floor must drop whole: $repE")
    assert(lmMap(CorpusStream.lmStore(epoch).servedWindow(spark, lo = 2L)) ===
      lmMap(CorpusStream.lmCells(d.filter(col("doc_id") >= bounds(1)))),
      "after the epoch drop the window must serve its retrain")

    // whole-wave negatives cannot expire per-batch
    val waved = tmpDir("graft-ttl-wave") + "/deltas"
    landQuartiles(d, waved)
    CorpusStream.lmStore(waved).forget(d.filter(forgetPred), -1000L)
    val exWave = intercept[IllegalStateException] {
      StoreCompaction.expireBefore(waved, 2L)
    }
    assert(exWave.getMessage.contains("whole-wave"), exWave.getMessage)

    // an unstamped (in-flight) split negative blocks expiry
    val inflight = tmpDir("graft-ttl-inflight") + "/deltas"
    val b2 = landQuartiles(d, inflight)
    CorpusStream.lmStore(inflight).forgetSplit(d.filter(forgetPred).withColumn("src_batch",
      srcBatchCol(b2)), requestId = 0L, stamp = false)
    val exFlight = intercept[IllegalStateException] {
      StoreCompaction.expireBefore(inflight, 2L)
    }
    assert(exFlight.getMessage.contains("in-flight"), exFlight.getMessage)

    // an expired store refuses pinned reads, pin registration, and folds
    val ttl = tmpDir("graft-ttl-refuse") + "/deltas"
    landQuartiles(d, ttl)
    StoreCompaction.expireBefore(ttl, 2L)
    assert(intercept[IllegalStateException] {
      CorpusStream.lmStore(ttl).servedAt(spark, upto = 3L)
    }.getMessage.contains("retention"))
    assert(intercept[IllegalStateException] {
      StoreCompaction.registerPin(ttl, "late", 3L)
    }.getMessage.contains("retention"))
    assert(intercept[IllegalStateException] {
      StoreCompaction.appendInto(spark, ttl, upto = 3L, Seq("w1"))
    }.getMessage.contains("retention"))
    // and maintain() reports the fold skipped instead of running it
    val mrep = StoreCompaction.maintain(spark, ttl, Seq("w1"),
      StoreCompaction.MaintenancePolicy(minorAtDeltas = 1, keepLatestDeltas = 0))
    assert(mrep.minorUpto.isEmpty && mrep.filesAppended === 0L,
      s"a store under retention must never fold: $mrep")
  }

  test("epoch-fold boundary seams: pre-validation refuses before ANY epoch folds; whole-base folds and maintain refuse on an epoch store; split waves stamp on one; the split id space is bounded") {
    val d = docs.localCheckpoint()

    // (1) an in-flight negative in a LATER epoch must refuse BEFORE the
    // earlier epoch folds — a mid-loop refusal that had already folded
    // epoch 0 without the _epoch_size marker would leave the folded rows
    // invisible to every windowed read (the silent-under-count seam)
    val pre = tmpDir("graft-epoch-preval") + "/deltas"
    val bounds = landQuartiles(d, pre)
    // the unstamped negatives touch ONLY epoch 1 (source batches 2-3):
    // epoch 0 is cleanly foldable, so only whole-pass pre-validation —
    // not the per-epoch check the fold loop used to run — can stop
    // epoch 0 from folding before the refusal
    CorpusStream.lmStore(pre).forgetSplit(d.filter(forgetPred && col("doc_id") >= bounds(1))
        .withColumn("src_batch", srcBatchCol(bounds)), requestId = 0L, stamp = false)
    val exPre = intercept[IllegalStateException] {
      StoreCompaction.foldEpochs(spark, pre, epochSize = 2L, uptoBatch = 3L)
    }
    assert(exPre.getMessage.contains("in-flight"), exPre.getMessage)
    assert(batchIdsOf(pre).forall(_ > StoreCompaction.EpochFoldBase) &&
      StoreCompaction.epochSizeOf(pre).isEmpty,
      "the refusal must pre-validate: no epoch may fold and no marker land " +
        s"when any candidate epoch holds an unstamped negative: ${batchIdsOf(pre)}")

    // (2) an epoch-folded store refuses whole-base folds (the two base
    // layouts don't compose) and maintain skips it as a listing no-op
    val ep = tmpDir("graft-epoch-seams") + "/deltas"
    landQuartiles(d, ep)
    StoreCompaction.foldEpochs(spark, ep, epochSize = 2L, uptoBatch = 1L)
    assert(StoreCompaction.epochSizeOf(ep) === Some(2L))
    assert(intercept[IllegalStateException] {
      StoreCompaction.appendInto(spark, ep, upto = 3L, Seq("w1"))
    }.getMessage.contains("epoch-folded"))
    assert(intercept[IllegalStateException] {
      StoreCompaction.foldInto(spark, ep, upto = 3L)(identity)
    }.getMessage.contains("epoch-folded"))
    val mrep = StoreCompaction.maintain(spark, ep, Seq("w1"),
      StoreCompaction.MaintenancePolicy(minorAtDeltas = 1, keepLatestDeltas = 0))
    assert(mrep.minorUpto.isEmpty && mrep.filesAppended === 0L,
      s"maintain must never whole-base fold an epoch store: $mrep")

    // (3) a streamed split wave against the epoch-folded store completes
    // and stamps its negatives (the unbounded stampCommitted decode used
    // to throw on epoch ids, wedging the request after its marker landed)
    val markers = tmpDir("graft-epoch-markers")
    val content = d.withColumn("src_batch", srcBatchCol(bounds))
    graft.streaming.ForgetStream.processBatch(
      d.filter(forgetPred).select("doc_id"), content,
      graft.streaming.ForgetStream.ForgetTargets(
        cellStores = Seq(CorpusStream.lmStore(ep)), splitBySrcBatch = true),
      markers, batchId = 0L)
    val negIds = batchIdsOf(ep).filter(id =>
      id <= StoreCompaction.SplitForgetBase && id > StoreCompaction.EpochFoldBase)
    assert(negIds.nonEmpty && negIds.forall(id =>
      new java.io.File(s"$ep/batch_id=$id/_FORGET_COMMITTED").exists()),
      s"the wave's negatives must land AND stamp on an epoch store: $negIds")
    assert(lmMap(CorpusStream.lmStore(ep).servedWindow(spark, lo = 0L)) ===
      lmMap(CorpusStream.lmCells(d.filter(!forgetPred))),
      "the full-window serve must equal the survivor retrain across the fold")

    // (4) the split id space refuses at the epoch boundary instead of
    // silently landing a negative inside the reserved epoch range
    assert(intercept[IllegalArgumentException] {
      StoreCompaction.splitForgetId(StoreCompaction.MaxSplitRequests, 0L)
    }.getMessage.contains("EpochFoldBase"))
    assert(StoreCompaction.splitForgetId(
      StoreCompaction.MaxSplitRequests - 1, 0L) > StoreCompaction.EpochFoldBase,
      "the last legal request id must still land inside the split range")
  }

  test("policy-driven epoch folds: maintain bands complete margin-clear epochs, skips epochs holding in-flight negatives until they commit, and keeps serving window-exact") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-epoch-policy") + "/deltas"
    val bounds = landQuartiles(d, deltas)
    val pol = StoreCompaction.MaintenancePolicy(
      keepLatestDeltas = 1, epochSize = Some(2L))

    // an UNSTAMPED wave against epoch 0 holds the banding back — maintain
    // must skip the epoch (not throw, not fold) and keep running
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(forgetPred && col("doc_id") < bounds(1))
        .withColumn("src_batch", srcBatchCol(bounds)), requestId = 0L, stamp = false)
    val r1 = StoreCompaction.maintain(spark, deltas, Seq("w1", "w2"), pol)
    assert(r1.epochsFolded === 0L && r1.minorUpto.isEmpty,
      s"an in-flight negative must hold its epoch raw (and no whole-base " +
        s"fold may run under an epoch policy): $r1")
    assert(StoreCompaction.epochSizeOf(deltas).isEmpty,
      "a pass that banded nothing must not mark the store epoch-folded")

    // the request commits → the next scheduled pass bands epoch 0
    // (epoch 1 stays inside the replay margin: eligible batches 0-2)
    batchIdsOf(deltas)
      .filter(id => id <= StoreCompaction.SplitForgetBase &&
        id > StoreCompaction.EpochFoldBase)
      .foreach { id =>
        new java.io.File(s"$deltas/batch_id=$id",
          "_FORGET_COMMITTED").createNewFile()
      }
    val r2 = StoreCompaction.maintain(spark, deltas, Seq("w1", "w2"), pol)
    assert(r2.epochsFolded === 1L, s"epoch 0 must band once stamped: $r2")
    assert(StoreCompaction.epochSizeOf(deltas) === Some(2L))
    assert(lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo = 0L)) ===
      lmMap(CorpusStream.lmCells(d.filter(
        !(forgetPred && col("doc_id") < bounds(1))))),
      "the full-window serve must equal the survivor retrain after banding")

    // idempotent steady state: nothing new to band, nothing rewritten
    val r3 = StoreCompaction.maintain(spark, deltas, Seq("w1", "w2"), pol)
    assert(r3.epochsFolded === 0L && r3.filesAppended === 0L &&
      r3.bucketsRewritten === 0L, s"an idle pass must be a no-op: $r3")

    // a store already epoch-folded keeps banding at its MARKER size even
    // when the policy leaves epochSize unset
    CorpusStream.lmStore(deltas).land(d.limit(0), 4L)
    CorpusStream.lmStore(deltas).land(d.limit(0), 5L)
    val r4 = StoreCompaction.maintain(spark, deltas, Seq("w1", "w2"),
      StoreCompaction.MaintenancePolicy(keepLatestDeltas = 1))
    assert(r4.epochsFolded === 1L && r4.minorUpto.isEmpty,
      s"the marker size must drive banding when the policy is silent: $r4")
  }

  test("landed asset store: erasure rewrites only affected landings (kind dirs preserved), age expiry drops payload directories whole, and the windowed bytes equal a survivor rebuild") {
    val d = docs.localCheckpoint()
    val store = tmpDir("graft-asset-ttl") + "/assets"
    val sfAssets = spark.read
      .parquet(graft.ops.Multimodal.buildAssetStore(spark, sf))
      .localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      sfAssets.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(col("kind"))
        .write.partitionBy("kind").mode("overwrite")
        .parquet(s"$store/batch_id=$k")
    }
    def mtimes() = batchIdsOf(store).map(id =>
      id -> new java.io.File(s"$store/batch_id=$id").lastModified()).toMap

    // a wave whose docs land ONLY in batches 0-1: the rewrite must touch
    // exactly those landings and preserve the kind directories inside
    val before = mtimes()
    val wave = forgetPred && col("doc_id") < bounds(1)
    val rep = Forget.surgicalDelete(spark, store,
      d.filter(wave).select("doc_id"),
      partCol = "batch_id", subPartBy = Seq("kind"))
    assert(rep.nRewritten === 2 && rep.rowsRemoved ===
      d.filter(wave).count() * 6,
      s"six payload rows per forgotten doc across two landings: $rep")
    val after = mtimes()
    assert(Seq(2L, 3L).forall(id => before(id) == after(id)),
      "landings without a forgotten payload must never be touched")
    Seq(0L, 1L).foreach { id =>
      val kinds = Option(new java.io.File(s"$store/batch_id=$id").listFiles())
        .toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("kind="))
      assert(kinds.size === 6,
        s"the rewrite must preserve the kind axis in batch_id=$id: " +
          kinds.map(_.getName).sorted)
    }

    // age expiry: the two oldest landings' payload bytes leave disk as
    // whole directory drops, certified
    val audit = tmpDir("graft-asset-ttl-audit")
    val exp = StoreCompaction.expireBeforeCertified(spark, store, 2L, audit,
      storeName = "assets")
    assert(exp.droppedBatches === Seq(0L, 1L) && exp.droppedFiles >= 12L,
      s"expiry must drop both landings with their nested payload files: $exp")
    assert(!new java.io.File(s"$store/batch_id=0").exists() &&
      !new java.io.File(s"$store/batch_id=1").exists())
    val cert = StoreCompaction.expiryCertificate(spark, audit)
      .select("store", "floor", "action", "n").collect().map(_.toSeq)
    assert(cert.toSeq === Seq(Seq("assets", 2L, "landing_drop", 2L)),
      s"one certified landing_drop action: ${cert.toSeq}")

    // windowed serving: (doc_id, kind, payload) over the retained window
    // equals a rebuild from the retained window's documents (no forgotten
    // member survives; every payload byte identical)
    StoreCompaction.requireWindowServableAt(store, 2L, Long.MaxValue)
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("kind"), md5(col("payload")).as("h"))
      .orderBy("doc_id", "kind").collect().map(_.toSeq).toSeq
    val served = sig(spark.read.parquet(store)
      .filter(StoreCompaction.windowedReadFilter(store, 2L, Long.MaxValue)))
    val rebuilt = sig(sfAssets.filter(col("doc_id") >= bounds(1)))
    assert(served === rebuilt,
      "the windowed payload bytes must equal the survivor rebuild")
  }

  test("certified expiry crash windows: the certificate commits BEFORE the drops, and a crash at either seam converges to dropped-AND-certified on the next pass") {
    val d = docs.localCheckpoint()

    def certRows(audit: String) = StoreCompaction.expiryCertificate(spark, audit)
      .select("store", "floor", "action", "n", "files_dropped")
      .collect().map(_.toSeq).toSet
    def dataFilesIn(dir: String): Long =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten.map { f =>
        if (f.isDirectory && !f.getName.startsWith(".")) dataFilesIn(f.getPath)
        else if (f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_")) 1L
        else 0L
      }.sum

    // ── crash window 1: staged, but neither certificate nor drops ran ──
    val s1 = tmpDir("graft-cert-crash1") + "/deltas"
    landQuartiles(d, s1)
    val audit1 = tmpDir("graft-cert-crash1-audit")
    val groundFiles1 = Seq(0L, 1L).map(id => dataFilesIn(s"$s1/batch_id=$id")).sum
    val plan1 = StoreCompaction.planExpiry(s1, 2L)
    StoreCompaction.stageExpiry(s1, plan1, audit1, "crash1")
    // "crash": nothing dropped, no audit rows — data intact, proof staged
    assert(batchIdsOf(s1).toSet === Set(0L, 1L, 2L, 3L) &&
      !new java.io.File(audit1, "store=crash1").exists(),
      "the simulated crash must leave the store untouched and no audit")
    val rep1 = StoreCompaction.expireBeforeCertified(spark, s1, 2L, audit1, "crash1")
    assert(batchIdsOf(s1).toSet === Set(2L, 3L) &&
      StoreCompaction.retentionFloor(s1) === Some(2L),
      s"recovery must finish the staged drops: ${batchIdsOf(s1)} / $rep1")
    assert(certRows(audit1) ===
      Set(Seq("crash1", 2L, "landing_drop", 2L, groundFiles1)),
      s"recovery must certify from the staged pre-drop listing: ${certRows(audit1)}")
    assert(!new java.io.File(s1, "_expiry_staged").exists(),
      "the staged listing must be retired once certified and dropped")

    // ── crash window 2: certificate written, drops ran, floor NOT advanced ──
    val s2 = tmpDir("graft-cert-crash2") + "/deltas"
    landQuartiles(d, s2)
    val audit2 = tmpDir("graft-cert-crash2-audit")
    val groundFiles2 = Seq(0L, 1L).map(id => dataFilesIn(s"$s2/batch_id=$id")).sum
    val plan2 = StoreCompaction.planExpiry(s2, 2L)
    StoreCompaction.stageExpiry(s2, plan2, audit2, "crash2")
    StoreCompaction.writeCertificate(spark, plan2, audit2, "crash2")
    plan2.dropped.foreach(id => StoreCompaction.deleteRecursively(
      new java.io.File(s2, s"batch_id=$id")))
    // "crash": partitions gone, floor marker missing — a pass that never
    // certified first could no longer re-derive the certificate here
    assert(StoreCompaction.retentionFloor(s2).isEmpty,
      "the simulated crash must precede the floor advance")
    StoreCompaction.expireBeforeCertified(spark, s2, 2L, audit2, "crash2")
    assert(batchIdsOf(s2).toSet === Set(2L, 3L) &&
      StoreCompaction.retentionFloor(s2) === Some(2L))
    assert(certRows(audit2) ===
      Set(Seq("crash2", 2L, "landing_drop", 2L, groundFiles2)),
      s"the replay must keep the pre-drop certificate: ${certRows(audit2)}")
    assert(!new java.io.File(s2, "_expiry_staged").exists())

    // a further no-op pass (floor already at lo) certifies nothing new
    // and clobbers nothing
    StoreCompaction.expireBeforeCertified(spark, s2, 2L, audit2, "crash2")
    assert(certRows(audit2).size === 1, "a no-op pass must not re-certify")
  }

  test("per-action certificate fidelity: landing and split-negative drops carry their OWN file counts, and their sum is the pass's deletion volume") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-cert-files") + "/deltas"
    val bounds = landQuartiles(d, deltas)
    CorpusStream.lmStore(deltas).forgetSplit(d.filter(forgetPred).withColumn("src_batch",
      srcBatchCol(bounds)), requestId = 0L)
    val audit = tmpDir("graft-cert-files-audit")
    def dataFilesIn(dir: String): Long =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .count(f => f.isFile && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_")).toLong
    val landFiles = Seq(0L, 1L).map(id => dataFilesIn(s"$deltas/batch_id=$id")).sum
    val negIds = batchIdsOf(deltas).filter(id =>
      id <= StoreCompaction.SplitForgetBase &&
        id > StoreCompaction.EpochFoldBase &&
        StoreCompaction.splitSourceBatch(id) < 2L)
    val negFiles = negIds.map(id => dataFilesIn(s"$deltas/batch_id=$id")).sum
    val rep = StoreCompaction.expireBeforeCertified(spark, deltas, 2L, audit, "lmf")
    val rows = StoreCompaction.expiryCertificate(spark, audit)
      .select("action", "n", "files_dropped").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows("landing_drop") === ((2L, landFiles)) &&
      rows("split_negative_drop") === ((negIds.size.toLong, negFiles)),
      s"each action must carry its own file count: $rows")
    assert(rows.values.map(_._2).sum === rep.droppedFiles,
      "per-action file counts must sum to the pass's deletion volume")
  }

  test("foldEpochs under a mid-epoch retention floor: the straddling epoch stays raw (its survivors keep serving), aligned epochs band, and an aligned floor keeps folding legal") {
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-epoch-floor") + "/deltas"
    val bounds = landQuartiles(d, deltas) // batches 0-3; epoch size 2
    // floor 1 falls MID-epoch-0: batch 0 expires, batch 1 survives raw
    StoreCompaction.expireBefore(deltas, 1L)
    assert(StoreCompaction.foldEpochs(spark, deltas, epochSize = 2L,
      uptoBatch = 3L) === Seq(1L),
      "only the floor-clear epoch 1 may band; epoch 0 straddles the floor")
    assert(batchIdsOf(deltas).contains(1L),
      "the straddling epoch's surviving batch must stay a raw partition")
    // the survivors stay servable: window [1, ∞) = raw batch 1 + epoch 1
    val served = lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo = 1L))
    val retrained = lmMap(CorpusStream.lmCells(
      d.filter(col("doc_id") >= bounds(0))))
    assert(served === retrained,
      "retained batches must serve through the mixed raw+epoch layout")
    // once the floor ALIGNS at the epoch boundary the epoch is complete
    // (nothing left of it) and later epochs keep banding
    StoreCompaction.expireBefore(deltas, 2L)
    assert(StoreCompaction.foldEpochs(spark, deltas, 2L, uptoBatch = 3L)
      .isEmpty, "nothing new to band after the aligned expiry")
    assert(lmMap(CorpusStream.lmStore(deltas).servedWindow(spark, lo = 2L)) ===
      lmMap(CorpusStream.lmCells(d.filter(col("doc_id") >= bounds(1)))))
  }

  test("window-mode curation banding: epoch folds on both stores leave the served election row-identical, and whole-epoch expiry re-scopes it to the retained window") {
    val d = docs.localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val root = tmpDir("graft-wincur-band")
    val (fpD, idxD) = (s"$root/fps", s"$root/bands")
    val n = 8
    def bound(k: Int): Long =
      if (k >= n) Long.MaxValue else ids(k * ids.length / n)
    (0 until n).foreach { k =>
      val lo = if (k == 0) Long.MinValue else bound(k)
      CurationStream.writeWindowDelta(
        d.filter(col("doc_id") >= lo && col("doc_id") < bound(k + 1)),
        fpD, idxD, k.toLong)
    }
    def dec(lo: Long) = CurationStream.windowedDecisions(spark, fpD, idxD, lo)
      .collect().map(_.toSeq).toSeq
    val raw = dec(0L)
    // band BOTH stores at epoch size 4: 8 landings → 2 epochs each
    assert(StoreCompaction.foldEpochs(spark, fpD, 4L, uptoBatch = 7L) ===
      Seq(0L, 1L))
    assert(StoreCompaction.foldEpochs(spark, idxD, 4L, uptoBatch = 7L) ===
      Seq(0L, 1L))
    assert(dec(0L) === raw,
      "the banded layout must serve the identical election row for row")
    // a misaligned window refuses; the aligned one serves
    assert(intercept[IllegalStateException](dec(2L))
      .getMessage.contains("partially"))
    // whole-epoch expiry: ONE directory drop per store, election
    // re-scoped to the retained window ≡ from-scratch on its docs
    assert(StoreCompaction.expireBefore(fpD, 4L).droppedBatches ===
      Seq(StoreCompaction.EpochFoldBase))
    assert(StoreCompaction.expireBefore(idxD, 4L).droppedBatches ===
      Seq(StoreCompaction.EpochFoldBase))
    val scratch = tmpDir("graft-wincur-band-scratch")
    CurationStream.writeWindowDelta(d.filter(col("doc_id") >= bound(4)),
      s"$scratch/fps", s"$scratch/bands", 0L)
    assert(dec(4L) === CurationStream.windowedDecisions(spark,
        s"$scratch/fps", s"$scratch/bands", lo = 0L)
      .collect().map(_.toSeq).toSeq,
      "the retained epoch must elect exactly the from-scratch window verdicts")
  }

  test("cell-schema evolution: appends version the store, type changes and drops refuse, and the evolved serve survives epoch banding bit-unchanged") {
    import graft.ops.ForgetOps
    val d = docs.localCheckpoint()
    val deltas = tmpDir("graft-schema-evo") + "/deltas"
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    StoreCompaction.writeEvolvedDelta(
      ForgetOps.statCells(d.filter(col("doc_id") < cut), withAlpha = false),
      deltas, 0L)
    assert(StoreCompaction.cellSchemaOf(deltas).map(_._1) === Some(1))
    // an appended column bumps the version and registers
    StoreCompaction.writeEvolvedDelta(
      ForgetOps.statCells(d.filter(col("doc_id") >= cut), withAlpha = true),
      deltas, 1L)
    assert(StoreCompaction.cellSchemaOf(deltas) ===
      Some((2, Seq("source" -> "STRING", "n_docs" -> "BIGINT",
        "n_tokens" -> "BIGINT", "n_alpha" -> "BIGINT"))),
      s"the append must version the marker: ${StoreCompaction.cellSchemaOf(deltas)}")

    // refusal shapes: a type change and a drop/rename both fail loudly —
    // and BEFORE any write, so a refused landing leaves no partition
    val typeChanged = ForgetOps.statCells(d, withAlpha = false)
      .withColumn("n_tokens", col("n_tokens").cast("double"))
    assert(intercept[IllegalStateException] {
      StoreCompaction.writeEvolvedDelta(typeChanged, deltas, 2L)
    }.getMessage.contains("type changes"))
    assert(intercept[IllegalStateException] {
      StoreCompaction.writeEvolvedDelta(
        ForgetOps.statCells(d, withAlpha = false).drop("n_tokens"), deltas, 2L)
    }.getMessage.contains("drops (or renames)"))
    assert(!new java.io.File(deltas, "batch_id=2").exists(),
      "a refused evolution must not land a partition")
    // an unregistered store refuses the evolved serve
    val bare = tmpDir("graft-schema-bare") + "/deltas"
    ForgetOps.statCells(d, withAlpha = false).coalesce(1)
      .write.parquet(s"$bare/batch_id=0")
    assert(intercept[IllegalStateException] {
      StoreCompaction.readWindowEvolved(spark, bare, lo = 0L)
    }.getMessage.contains("no registered cell schema"))

    // the evolved windowed serve: pre-add deltas null-fill n_alpha, and
    // epoch banding (footer-merge fold) leaves it bit-unchanged
    def serve() = StoreCompaction.readWindowEvolved(spark, deltas, lo = 0L)
      .groupBy("source")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        coalesce(sum(col("n_alpha")), lit(0L)).as("n_alpha"))
      .orderBy("source").collect().map(_.toSeq).toSeq
    val before = serve()
    StoreCompaction.writeEvolvedDelta(
      ForgetOps.statCells(d.limit(0), withAlpha = true), deltas, 2L)
    StoreCompaction.foldEpochs(spark, deltas, epochSize = 2L, uptoBatch = 1L)
    assert(serve() === before,
      "banding a mixed-schema epoch must not move a served value")

    // registration ordering: the marker commits AFTER the delta write,
    // so the crash window (delta landed, marker not bumped) converges —
    // the registered-schema serve simply doesn't read the unregistered
    // column yet, and a replayed landing registers it
    val extra = ForgetOps.statCells(d.limit(4), withAlpha = true)
      .withColumn("n_extra", lit(7L))
    extra.coalesce(1).write.mode("overwrite").parquet(s"$deltas/batch_id=3")
    assert(StoreCompaction.readWindowEvolved(spark, deltas, lo = 0L)
      .columns.toSeq === Seq("source", "n_docs", "n_tokens", "n_alpha"),
      "an unregistered appended column must not leak into the serve")
    StoreCompaction.writeEvolvedDelta(extra, deltas, 3L)
    assert(StoreCompaction.cellSchemaOf(deltas).map(_._1) === Some(3) &&
      StoreCompaction.readWindowEvolved(spark, deltas, lo = 0L)
        .columns.contains("n_extra"),
      "the replayed landing must register the append")
  }

  test("margin policy: a declared replay depth floors the maintenance margin, and the band-config marker refuses a store built under other constants") {
    val d = docs.localCheckpoint()
    // declared replay depth 3 overrides a tighter policy margin
    val store = tmpDir("graft-replay-depth") + "/deltas"
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    def bound(k: Int): Long =
      if (k >= 6) Long.MaxValue else ids(k * ids.length / 6)
    def slice(k: Int) = d.filter(col("doc_id") >= (if (k == 0) Long.MinValue
      else bound(k)) && col("doc_id") < bound(k + 1))
    (0 until 6).foreach(k => CorpusStream.lmStore(store).land(slice(k), k.toLong))
    StoreCompaction.declareReplayDepth(store, 3)
    val rep = StoreCompaction.maintain(spark, store, Seq("w1", "w2"),
      StoreCompaction.MaintenancePolicy(minorAtDeltas = 1, keepLatestDeltas = 1))
    assert(rep.minorUpto === Some(2L) &&
      StoreCompaction.compactionHorizon(store) === Some(2L),
      s"the declared depth must floor the margin at 3 landings: $rep")
    CorpusStream.lmStore(store).land(slice(3), 3L) // inside the floor: lands
    assert(intercept[IllegalStateException] {
      CorpusStream.lmStore(store).land(slice(2), 2L)
    }.getMessage.contains("keepLatestDeltas"),
      "a replay below the floored margin must still refuse")
    assert(lmMap(CorpusStream.lmStore(store).servedAt(spark)) ===
      lmMap(CorpusStream.lmCells(d)),
      "serving must equal the full retrain through the floored fold")

    // the band-config marker: rows banded under other constants refuse
    val root = tmpDir("graft-band-conf")
    val (fpD, idxD) = (s"$root/fps", s"$root/bands")
    CurationStream.writeWindowDelta(d, fpD, idxD, 0L)
    val marker = new java.io.File(idxD, "_band_conf")
    assert(marker.exists(), "the first landing must persist the config")
    java.nio.file.Files.write(marker.toPath,
      "0123456789abcdef0123456789abcdef".getBytes("UTF-8"))
    assert(intercept[IllegalStateException] {
      CurationStream.windowedDecisions(spark, fpD, idxD, lo = 0L)
    }.getMessage.contains("banding configuration"),
      "a serve against a store banded under other constants must refuse")
    assert(intercept[IllegalStateException] {
      CurationStream.writeWindowDelta(d, fpD, idxD, 1L)
    }.getMessage.contains("banding configuration"),
      "a landing into a store banded under other constants must refuse")
  }

  test("compliance ledger: cumulative rows across two waves accumulate surgical, re-election, and state metrics, ground-truthed per family") {
    import graft.streaming.{Compliance, ForgetStream}
    import graft.streaming.ForgetStream.ForgetTargets
    val root = tmpDir("graft-ledger")
    val full = Catalog.table(spark, sf, "documents").localCheckpoint()
    val cut = full.agg(max(col("doc_id"))).head().getLong(0) / 2
    val (cs, idx, dec) = (s"$root/cs", s"$root/bandidx", s"$root/banddec")
    Seq(col("doc_id") < cut, col("doc_id") >= cut).zipWithIndex.foreach {
      case (p, b) =>
        CorpusStream.writeCsDelta(full.filter(p), cs, b.toLong)
        LshStream.processBatch(full.filter(p), idx, dec, b.toLong)
    }
    val targets = ForgetTargets(csDeltaDir = Some(cs),
      bandStores = Some((idx, dec)))
    val waves = Seq(0L -> forgetPred, 1L -> (col("doc_id") % 17 === 5))
    val perWaveCs = waves.map { case (reqId, p) =>
      val removed = spark.read.parquet(cs)
        .join(full.filter(p).select("doc_id"), Seq("doc_id"), "left_semi")
        .count() // ground truth captured BEFORE the wave deletes it
      ForgetStream.processBatch(full.filter(p).select("doc_id"), full,
        targets, s"$root/markers", reqId)
      removed
    }
    val led = Compliance.ledger(spark,
      Seq("code_switch" -> cs, "band_index" -> idx, "band_decisions" -> dec),
      forgetMarkerRoots = Seq(s"$root/markers"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(led(("code_switch", "forget_requests")) === 2L &&
      led(("band_index", "forget_requests")) === 2L,
      s"both waves must count for every touched family: $led")
    assert(led(("code_switch", "rows_removed")) === perWaveCs.sum,
      s"surgical rows must accumulate across waves: $led")
    assert(led(("band_decisions", "reelections")) > 0L,
      s"corrective re-verdicts must accumulate: $led")
    assert(led(("code_switch", "current_floor")) === -1L &&
      led(("code_switch", "live_pins")) === 0L,
      s"state metrics must always be present: $led")
  }

  test("amendment laws: amend ≡ forget+land on sum cells, replay is a no-op, the corrected landing keeps its age, and the refusal shapes hold") {
    import graft.streaming.Amend
    val (batch, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = batch.localCheckpoint(); val c = corpus.localCheckpoint()
    val d = docs.localCheckpoint()
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    def landAll(deltas: String): Unit =
      bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
        CorpusStream.lmStore(deltas).land(d.filter(col("doc_id") >= lo && col("doc_id") < hi),
          k.toLong)
      }

    // ── amend ≡ forget(old batch) + land(corrected) on a SUM-cell store ──
    val sA = tmpDir("graft-amend-a") + "/deltas"
    landAll(sA)
    Amend.amendSumCells(CorpusStream.lmStore(sA), b, 1L)
    val sB = tmpDir("graft-amend-b") + "/deltas"
    landAll(sB)
    CorpusStream.lmStore(sB).forgetSplit(d.filter(col("doc_id") >= w && col("doc_id") < 2 * w)
        .withColumn("src_batch", lit(1L)), requestId = 0L)
    CorpusStream.lmStore(sB).land(b, 4L)
    val retrain = lmMap(CorpusStream.lmCells(c))
    assert(lmMap(CorpusStream.lmStore(sA).servedAt(spark)) === retrain &&
      lmMap(CorpusStream.lmStore(sB).servedAt(spark)) === retrain,
      "amend and forget+land must both equal the corrected-corpus retrain")

    // replay of the amendment is a no-op (identical cells, serving fixed)
    Amend.amendSumCells(CorpusStream.lmStore(sA), b, 1L)
    assert(lmMap(CorpusStream.lmStore(sA).servedAt(spark)) === retrain,
      "a replayed amendment must rewrite identical state")

    // the fold algebra serves the corrected slice EVERYWHERE the batch
    // qualifies: a pinned read at the amended batch equals the corrected
    // corpus's prefix retrain, and after the batches below it expire the
    // windowed serve equals the corrected window retrain
    assert(lmMap(CorpusStream.lmStore(sA).servedAt(spark, upto = 1L)) ===
      lmMap(CorpusStream.lmCells(c.filter(col("doc_id") < 2 * w))),
      "a pinned read covering the amendment must serve the corrected slice")
    StoreCompaction.expireBefore(sA, 1L)
    assert(lmMap(CorpusStream.lmStore(sA).servedWindow(spark, lo = 1L)) ===
      lmMap(CorpusStream.lmCells(c.filter(col("doc_id") >= w))),
      "the corrected landing must window on its original age")

    // ── refusal shapes ──
    // split negatives at the amended source batch: stale negation
    val exSplit = intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sB), b, 1L)
    }
    assert(exSplit.getMessage.contains("split-forget"), exSplit.getMessage)
    // an expired landing cannot be amended
    val sC = tmpDir("graft-amend-c") + "/deltas"
    landAll(sC)
    StoreCompaction.expireBefore(sC, 2L)
    val exExp = intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sC), b, 1L)
    }
    assert(exExp.getMessage.contains("retention"), exExp.getMessage)
    // an epoch-folded landing lost its partition
    val sD = tmpDir("graft-amend-d") + "/deltas"
    landAll(sD)
    StoreCompaction.foldEpochs(spark, sD, epochSize = 2L, uptoBatch = 1L)
    val exEp = intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sD), b, 1L)
    }
    assert(exEp.getMessage.contains("epoch"), exEp.getMessage)

    // ── window-mode curation: the corrected landing keeps its AGE ──
    val root = tmpDir("graft-amend-winttl")
    val (fpD, idxD) = (s"$root/fps", s"$root/bands")
    bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      CurationStream.writeWindowDelta(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi), fpD, idxD, k.toLong)
    }
    Amend.amendWindowCuration(b, fpD, idxD, 1L)
    StoreCompaction.expireBefore(fpD, 2L)
    StoreCompaction.expireBefore(idxD, 2L)
    // the corrected content expired on the ORIGINAL batch's clock: the
    // served window equals the q127 kernel over the corrected corpus
    // docs of quartiles 2-3 alone
    val servedWin = CurationStream.windowedDecisions(spark, fpD, idxD, lo = 2L)
      .collect().map(_.toSeq).toSeq
    val scratchRoot = tmpDir("graft-amend-winscratch")
    CurationStream.writeWindowDelta(
      c.filter(col("doc_id") >= 2 * w), s"$scratchRoot/fps",
      s"$scratchRoot/bands", 0L)
    val scratchWin = CurationStream.windowedDecisions(spark,
        s"$scratchRoot/fps", s"$scratchRoot/bands", lo = 0L)
      .collect().map(_.toSeq).toSeq
    assert(servedWin === scratchWin,
      "amended content must expire with its landing's age, and the " +
        "window election must equal the from-scratch kernel on the rest")
  }

  test("asset-landing amendment: a payload correction re-lands one batch with the kind axis intact, untouched landings keep their bytes, and the windowed payloads equal a corrected rebuild") {
    import graft.streaming.Amend
    val d = docs.localCheckpoint()
    val store = tmpDir("graft-asset-amend") + "/assets"
    val sfAssets = spark.read
      .parquet(graft.ops.Multimodal.buildAssetStore(spark, sf))
      .localCheckpoint()
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4), Long.MaxValue)
    bounds.zipWithIndex.foreach { case (hi, k) =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      sfAssets.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .repartition(col("kind"))
        .write.partitionBy("kind").mode("overwrite")
        .parquet(s"$store/batch_id=$k")
    }
    def mtimes() = batchIdsOf(store).map(id =>
      id -> new java.io.File(s"$store/batch_id=$id").lastModified()).toMap
    val before = mtimes()
    // the correction: landing 1's re-encode dropped every odd doc's
    // payloads (a decoder fix rejected them) — re-land the batch
    val corrected = sfAssets
      .filter(col("doc_id") >= bounds(0) && col("doc_id") < bounds(1) &&
        pmod(col("doc_id"), lit(2L)) === lit(0L))
      .localCheckpoint()
    val audit = tmpDir("graft-asset-amend-audit")
    Amend.amendIdentityLanding(store, corrected, 1L,
      subPartBy = Seq("kind"), audit = Some((audit, "assets")))
    val after = mtimes()
    assert(Seq(0L, 2L, 3L).forall(id => before(id) == after(id)),
      "landings the correction does not target must never be touched")
    val kinds = Option(new java.io.File(s"$store/batch_id=1").listFiles())
      .toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("kind="))
    assert(kinds.size === 6,
      s"the amendment must preserve the kind axis: ${kinds.map(_.getName).sorted}")
    // the full store now equals the corrected rebuild, byte for byte
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("kind"), md5(col("payload")).as("h"))
      .orderBy("doc_id", "kind").collect().map(_.toSeq).toSeq
    val rebuilt = sfAssets.filter(col("doc_id") < bounds(0) ||
      col("doc_id") >= bounds(1) ||
      pmod(col("doc_id"), lit(2L)) === lit(0L))
    assert(sig(spark.read.parquet(store)) === sig(rebuilt),
      "the amended store's payload bytes must equal the corrected rebuild")
    // the certificate landed with the pre-computable mass
    val cert = graft.streaming.Amend.amendmentCertificate(spark, audit)
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(cert("corrected_docs_landed") === corrected.count(),
      s"certificate must carry the corrected payload-row mass: $cert")
  }

  test("materialized curation amendment: ownership steals demote the later copy, the amended keeper's family re-elects, and a replayed amendment converges") {
    import graft.streaming.Amend
    val (batch, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = batch.localCheckpoint(); val c = corpus.localCheckpoint()
    val d = docs.localCheckpoint()
    val root = tmpDir("graft-amend-cur")
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      CurationStream.processBatch(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi),
        s"$root/fp", s"$root/index", s"$root/decisions", k.toLong,
        Some(s"$root/accepted"), Some(s"$root/quarantine"))
    }
    val rep = Amend.amendCurationBatch(spark, root, b, batchId = 1L,
      correctiveId = 4L)
    assert(rep.nOldDocs > 0L && rep.nGated > 0L,
      s"the fixture must amend a real landing: $rep")
    assert(rep.nSteals > 0L,
      s"the fixture must exercise ownership steals (corrected docs whose " +
        s"text already exists later in the corpus): $rep")

    // the family equals a from-scratch build on the corrected corpus
    def decTable(decDir: String) =
      CurationStream.decisions(spark, decDir).collect().map(_.toSeq).toSeq
    val scratch = tmpDir("graft-amend-cur-scratch")
    CurationStream.processBatch(c, s"$scratch/fp", s"$scratch/index",
      s"$scratch/decisions", 0L,
      Some(s"$scratch/accepted"), Some(s"$scratch/quarantine"))
    assert(decTable(s"$root/decisions") === decTable(s"$scratch/decisions"),
      "amended decisions must equal the from-scratch corrected-corpus build")
    def contentSet(dir: String, cols: Seq[String]) =
      spark.read.parquet(dir).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(contentSet(s"$root/accepted", Seq("doc_id", "text", "source")) ===
      contentSet(s"$scratch/accepted", Seq("doc_id", "text", "source")),
      "the accepted store must match the from-scratch corrected build")
    assert(contentSet(s"$root/quarantine", Seq("doc_id", "reason")) ===
      contentSet(s"$scratch/quarantine", Seq("doc_id", "reason")),
      "the quarantine store must match the from-scratch corrected build")
    // one fp row per fingerprint, owned by the family minimum
    val fpDup = spark.read.parquet(s"$root/fp")
      .groupBy("fp").agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(fpDup === 0L, "the one-row-per-fp invariant must survive steals")

    // replay of the whole amendment is an exact no-op: the content
    // record (committed after the first pass) carries per-doc content
    // hashes, so a byte-identical re-delivery is DETECTED and skipped —
    // re-running the forget leg would overwrite its corrective partition
    // and wipe first-pass corrective rows for docs the insert leg
    // doesn't re-touch
    val before = decTable(s"$root/decisions")
    val rep2 = Amend.amendCurationBatch(spark, root, b, batchId = 1L,
      correctiveId = 4L)
    assert(rep2.nOldDocs === 0L && rep2.nSteals === 0L,
      s"a replayed amendment must be detected and skipped: $rep2")
    assert(decTable(s"$root/decisions") === before,
      "a replayed amendment must not move a single verdict")

    // ── a SECOND amendment with DIFFERENT content (the correction of a
    // correction): the first correction's docs — including docs the
    // second correction DROPS — are erased via the content record (the
    // batch_id=1 landing partitions are long gone), so the family equals
    // a from-scratch build on the SECOND corrected corpus; stale
    // fp-owner or band rows from the first correction would break it.
    val batch2 = b.filter(pmod(col("doc_id"), lit(5L)) =!= lit(1L))
      .withColumn("text", expr("replace(text, 'a', 'o')"))
      .localCheckpoint()
    val rep3 = Amend.amendCurationBatch(spark, root, batch2, batchId = 1L,
      correctiveId = 6L)
    assert(rep3.nOldDocs === b.count(),
      s"the second amendment must erase the FIRST correction's docs: $rep3")
    val corpus2 = c.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch2).localCheckpoint()
    val scratch2 = tmpDir("graft-amend-cur-scratch2")
    CurationStream.processBatch(corpus2, s"$scratch2/fp", s"$scratch2/index",
      s"$scratch2/decisions", 0L,
      Some(s"$scratch2/accepted"), Some(s"$scratch2/quarantine"))
    assert(decTable(s"$root/decisions") === decTable(s"$scratch2/decisions"),
      "a second amendment must equal the from-scratch build on the " +
        "second corrected corpus — no stale rows from the first correction")
    assert(contentSet(s"$root/accepted", Seq("doc_id", "text", "source")) ===
      contentSet(s"$scratch2/accepted", Seq("doc_id", "text", "source")),
      "the accepted store must match the second corrected build")
    assert(spark.read.parquet(s"$root/fp")
      .groupBy("fp").agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      === 0L, "one-row-per-fp must survive repeated amendments")
  }

  test("materialized curation amendment on an epoch-banded landing: the archive supplies the doc list, verdicts equal the from-scratch build, and banding without the archive keeps the refusal") {
    import graft.streaming.{Amend, StoreCompaction}
    val (batch, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = batch.localCheckpoint(); val c = corpus.localCheckpoint()
    val d = docs.localCheckpoint()
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    def buildFamily(root: String): Unit =
      bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
        CurationStream.processBatch(
          d.filter(col("doc_id") >= lo && col("doc_id") < hi),
          s"$root/fp", s"$root/index", s"$root/decisions", k.toLong,
          Some(s"$root/accepted"), Some(s"$root/quarantine"))
      }
    def famDirs(root: String) = Seq("fp", "index", "decisions",
      "accepted", "quarantine").map(n => s"$root/$n")
    def decTable(decDir: String) =
      CurationStream.decisions(spark, decDir).collect().map(_.toSeq).toSeq

    val root = tmpDir("graft-amend-cur-band")
    buildFamily(root)
    // the opt-in must precede the FOLD (not the landings: an empty
    // store dir with only the marker breaks batch 0's history probe)
    famDirs(root).foreach(StoreCompaction.declarePrefoldKeep)
    famDirs(root).foreach(st =>
      StoreCompaction.foldEpochs(spark, st, 2L, uptoBatch = 3L))
    val rep = Amend.amendCurationBatch(spark, root, b, batchId = 1L,
      correctiveId = 4L)
    assert(rep.nOldDocs > 0L && rep.nSteals > 0L,
      s"the banded amendment must erase the archived doc list and steal: $rep")
    val scratch = tmpDir("graft-amend-cur-band-scratch")
    CurationStream.processBatch(c, s"$scratch/fp", s"$scratch/index",
      s"$scratch/decisions", 0L,
      Some(s"$scratch/accepted"), Some(s"$scratch/quarantine"))
    assert(decTable(s"$root/decisions") === decTable(s"$scratch/decisions"),
      "the banded amendment's verdicts must equal the from-scratch " +
        "corrected build — banding must not change a single decision")

    // a SECOND correction of the same banded landing works off the
    // content record (the archive still names the ORIGINAL docs, whose
    // erasure is now a no-op — union with the record keeps it exact)
    val batch2 = b.filter(pmod(col("doc_id"), lit(5L)) =!= lit(1L))
      .withColumn("text", expr("replace(text, 'a', 'o')"))
      .localCheckpoint()
    Amend.amendCurationBatch(spark, root, batch2, batchId = 1L,
      correctiveId = 6L)
    val corpus2 = c.join(b.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch2).localCheckpoint()
    val scratch2 = tmpDir("graft-amend-cur-band-scratch2")
    CurationStream.processBatch(corpus2, s"$scratch2/fp", s"$scratch2/index",
      s"$scratch2/decisions", 0L,
      Some(s"$scratch2/accepted"), Some(s"$scratch2/quarantine"))
    assert(decTable(s"$root/decisions") === decTable(s"$scratch2/decisions"),
      "a second amendment of the banded landing must equal the " +
        "from-scratch build on the second corrected corpus")

    // banding WITHOUT the archive keeps the loud dead end
    val bare = tmpDir("graft-amend-cur-bare")
    buildFamily(bare)
    StoreCompaction.foldEpochs(spark, s"$bare/accepted", 2L, uptoBatch = 3L)
    assert(intercept[IllegalStateException] {
      Amend.amendCurationBatch(spark, bare, b, batchId = 1L, correctiveId = 4L)
    }.getMessage.contains("declarePrefoldKeep"),
      "a banded store without the archive must refuse and name the opt-in")
  }

  test("ledger snapshots: as-of serves match the live recompute at each point, replays are idempotent, and missing or expired snapshots refuse instead of reading as a clean audit") {
    import graft.streaming.{Compliance, StoreCompaction}
    val (snaps, deltas, markers, audit) =
      graft.ops.ForgetOps.buildLedgerSnapshotStore(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // snapshot 1 was landed after the LAST audit event, so it equals the
    // live recompute today; snapshot 0 must DIFFER from it (wave B and
    // floor 4 happened in between) — that difference is the whole point
    // of point-in-time snapshots
    assert(rows(Compliance.ledgerAsOf(spark, snaps, 1L)) ===
      rows(Compliance.ledger(spark, Seq("lm" -> deltas),
        forgetMarkerRoots = Seq(markers), expiryAuditRoots = Seq(audit))),
      "the newest snapshot must equal the live ledger recompute")
    assert(rows(Compliance.ledgerAsOf(spark, snaps, 0L)) !==
      rows(Compliance.ledgerAsOf(spark, snaps, 1L)),
      "snapshots at different lifecycle points must differ")
    // replay: re-landing snapshot 1 rewrites identical rows
    val before = rows(Compliance.ledgerAsOf(spark, snaps, 1L))
    Compliance.landLedgerSnapshot(spark, snaps, 1L, Seq("lm" -> deltas),
      forgetMarkerRoots = Seq(markers), expiryAuditRoots = Seq(audit))
    assert(rows(Compliance.ledgerAsOf(spark, snaps, 1L)) === before,
      "a replayed snapshot landing must rewrite identical rows")
    // refusals: a snapshot never landed, and one below a retention floor
    assert(intercept[IllegalStateException] {
      Compliance.ledgerAsOf(spark, snaps, 7L)
    }.getMessage.contains("no ledger snapshot"),
      "a missing snapshot must refuse, not serve empty")
    val scratch = tmpDir("graft-ledger-snap-exp") + "/snapshots"
    Compliance.landLedgerSnapshot(spark, scratch, 0L, Seq("lm" -> deltas),
      expiryAuditRoots = Seq(audit))
    Compliance.landLedgerSnapshot(spark, scratch, 1L, Seq("lm" -> deltas),
      expiryAuditRoots = Seq(audit))
    StoreCompaction.expireBefore(scratch, 1L)
    assert(intercept[IllegalStateException] {
      Compliance.ledgerAsOf(spark, scratch, 0L)
    }.getMessage.contains("expired"),
      "an expired snapshot must refuse by the retention contract")
    assert(rows(Compliance.ledgerAsOf(spark, scratch, 1L)).nonEmpty,
      "snapshots above the floor keep serving")
  }

  test("identity-family schema evolution: every sink registers its cell schema, mixed-schema windowed serves null-fill deterministically, and type changes or drops refuse at the identity writers too") {
    import graft.ops.ForgetOps
    val d = docs.localCheckpoint()
    // identity sinks register on first landing: the window-mode fp store
    val root = tmpDir("graft-ident-evo-fp")
    val (fpD, idxD) = (s"$root/fps", s"$root/bands")
    CurationStream.writeWindowDelta(d, fpD, idxD, 0L)
    assert(StoreCompaction.cellSchemaOf(fpD).map(_._2.map(_._1)) ===
      Some(Seq("doc_id", "fp", "source")),
      "the fp identity sink must register its cell schema on first landing")
    assert(StoreCompaction.cellSchemaOf(idxD).isDefined,
      "the band identity sink must register too")

    // per-doc identity store: mixed-schema serve through readWindow
    val store = tmpDir("graft-ident-evo") + "/docstats"
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    StoreCompaction.writeEvolvedDelta(
      ForgetOps.statRows(d.filter(col("doc_id") < cut), withAlpha = false),
      store, 0L)
    StoreCompaction.writeEvolvedDelta(
      ForgetOps.statRows(d.filter(col("doc_id") >= cut), withAlpha = true),
      store, 1L)
    val served = StoreCompaction.readWindow(spark, store, lo = 0L)
      .select("doc_id", "n_tok", "n_alpha").orderBy("doc_id")
      .collect()
    assert(served.count(_.isNullAt(2)) ===
      d.filter(col("doc_id") < cut).count(),
      "pre-append docs must null-fill the appended column, every one of them")
    assert(served.count(r => !r.isNullAt(2)) > 0,
      "post-append docs must carry the new statistic")

    // the refusal shapes hold at the identity writers
    assert(intercept[IllegalStateException] {
      StoreCompaction.writeEvolvedDelta(
        ForgetOps.statRows(d, withAlpha = false)
          .withColumn("n_tok", col("n_tok").cast("double")), store, 2L)
    }.getMessage.contains("type changes"))
    assert(intercept[IllegalStateException] {
      StoreCompaction.writeEvolvedDelta(
        ForgetOps.statRows(d, withAlpha = true).drop("n_tok"), store, 2L)
    }.getMessage.contains("drops (or renames)"))
  }

  test("epoch re-band amendments: band-then-amend equals amend-then-band, the archive serves repeated corrections, non-opted stores still refuse, and expiry drops the archive with its epoch") {
    import graft.streaming.{Amend, StoreCompaction}
    val d = docs.localCheckpoint()
    val (batch, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = batch.localCheckpoint(); val c = corpus.localCheckpoint()
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    def land4(store: String): Unit =
      bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
        CorpusStream.lmStore(store).land(d.filter(col("doc_id") >= lo && col("doc_id") < hi),
          k.toLong)
      }

    // ── band-then-amend ≡ amend-then-band ≡ corrected retrain ──
    val sA = tmpDir("graft-reband-a") + "/deltas"
    StoreCompaction.declarePrefoldKeep(sA)
    land4(sA)
    assert(StoreCompaction.foldEpochs(spark, sA, 2L, uptoBatch = 3L) ===
      Seq(0L, 1L), "both epochs must band, sources archived")
    Amend.amendSumCells(CorpusStream.lmStore(sA), b, 1L) // re-band path
    val sB = tmpDir("graft-reband-b") + "/deltas"
    StoreCompaction.declarePrefoldKeep(sB)
    land4(sB)
    Amend.amendSumCells(CorpusStream.lmStore(sB), b, 1L) // raw overwrite path
    StoreCompaction.foldEpochs(spark, sB, 2L, uptoBatch = 3L)
    def served(store: String) =
      lmMap(CorpusStream.lmStore(store).servedWindow(spark, lo = 0L))
    assert(served(sA) === served(sB),
      "band-then-amend and amend-then-band must serve identical counts")
    assert(served(sA) === lmMap(CorpusStream.lmCells(c)),
      "the re-banded serve must equal the corrected-corpus retrain")

    // the archive stays the source of truth: a SECOND correction in the
    // same folded epoch (batch 0 this time) re-bands again
    val batch0 = d.filter(col("doc_id") < w)
      .withColumn("text", expr("replace(text, 'e', 'x')")).localCheckpoint()
    Amend.amendSumCells(CorpusStream.lmStore(sA), batch0, 0L)
    val corpus2 = c.filter(col("doc_id") >= w).unionByName(batch0)
    assert(served(sA) === lmMap(CorpusStream.lmCells(corpus2)),
      "a second re-band of the same epoch must serve the twice-corrected retrain")

    // ── refusals: non-opted stores keep the dead end; late opt-in too ──
    val sC = tmpDir("graft-reband-c") + "/deltas"
    land4(sC)
    StoreCompaction.foldEpochs(spark, sC, 2L, uptoBatch = 3L)
    assert(intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sC), b, 1L)
    }.getMessage.contains("declarePrefoldKeep"),
      "a non-opted folded epoch must refuse and name the opt-in")
    StoreCompaction.declarePrefoldKeep(sC) // too late: epochs folded without archive
    assert(intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sC), b, 1L)
    }.getMessage.contains("without its pre-fold deltas"),
      "opting in after the fold must refuse — the archive is incomplete")

    // ── the window-mode curation pair re-bands together ──
    val wroot = tmpDir("graft-reband-win")
    val (fpD, idxD) = (s"$wroot/fps", s"$wroot/bands")
    StoreCompaction.declarePrefoldKeep(fpD)
    StoreCompaction.declarePrefoldKeep(idxD)
    bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      CurationStream.writeWindowDelta(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi), fpD, idxD, k.toLong)
    }
    StoreCompaction.foldEpochs(spark, fpD, 2L, uptoBatch = 3L)
    StoreCompaction.foldEpochs(spark, idxD, 2L, uptoBatch = 3L)
    Amend.amendWindowCuration(b, fpD, idxD, 1L)
    val scratch = tmpDir("graft-reband-win-scratch")
    CurationStream.writeWindowDelta(c, s"$scratch/fps", s"$scratch/bands", 0L)
    assert(CurationStream.windowedDecisions(spark, fpD, idxD, lo = 0L)
        .collect().map(_.toSeq).toSeq ===
      CurationStream.windowedDecisions(spark,
        s"$scratch/fps", s"$scratch/bands", lo = 0L)
        .collect().map(_.toSeq).toSeq,
      "the re-banded window election must equal the corrected from-scratch build")

    // ── expiry drops the archive with its epoch, certified ──
    val audit = tmpDir("graft-reband-audit")
    StoreCompaction.expireBeforeCertified(spark, sA, lo = 2L, audit, "lm")
    assert(!new java.io.File(sA, ".prefold/batch_id=0").exists() &&
      !new java.io.File(sA, ".prefold/batch_id=1").exists(),
      "archived pre-fold deltas below the floor must leave disk with their epoch")
    assert(new java.io.File(sA, ".prefold/batch_id=2").exists(),
      "archived deltas above the floor must survive")
    val cert = StoreCompaction.expiryCertificate(spark, audit)
      .filter(col("action") === "prefold_archive_drop")
      .collect()
    assert(cert.length === 1 && cert.head.getAs[Long]("n") === 2L,
      s"the certificate must record the archive drop: ${cert.toSeq}")
    // the dropped epoch can no longer re-band (manifest expired with it)
    assert(intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sA), b, 1L)
    }.getMessage.contains("retention expired"),
      "an expired landing stays unamendable through the re-band path too")
  }

  test("amendment certificate crash window: a half-written certificate dir is replayed and the certificate ends complete, first-writer-wins keyed on the committed marker") {
    import graft.streaming.Amend
    val d = docs.localCheckpoint()
    val store = tmpDir("graft-amend-certcrash") + "/deltas"
    val ids = d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cut = ids(ids.length / 2)
    CorpusStream.lmStore(store).land(d.filter(col("doc_id") < cut), 0L)
    CorpusStream.lmStore(store).land(d.filter(col("doc_id") >= cut), 1L)
    // simulate the crash: the certificate DIRECTORY exists (with write
    // debris) but the write never committed — no _SUCCESS. A bare
    // dir.exists() first-writer-wins would skip the rewrite forever and
    // the amendment's proof would be lost.
    val audit = tmpDir("graft-amend-certcrash-audit")
    val crashed = new java.io.File(s"$audit/store=lm/amend=1")
    new java.io.File(crashed, "_temporary").mkdirs()
    val corrected = d.filter(col("doc_id") >= cut)
      .withColumn("text", expr("replace(text, 'e', 'a')")).localCheckpoint()
    Amend.amendSumCells(CorpusStream.lmStore(store), corrected, 1L,
      audit = Some((audit, "lm")))
    val cert = Amend.amendmentCertificate(spark, audit)
      .filter(col("store") === "lm" && col("amend") === 1L)
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(cert.get("batch_amended") === Some(1L) &&
      cert.get("corrected_cells_landed").exists(_ > 0L),
      s"the replay must rewrite the crashed certificate complete: $cert")
    // first-writer-wins holds on the COMMITTED certificate: a replayed
    // amendment must not overwrite the original record
    val mtime = crashed.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.lastModified()).max
    Thread.sleep(1100)
    Amend.amendSumCells(CorpusStream.lmStore(store), corrected, 1L,
      audit = Some((audit, "lm")))
    val mtime2 = crashed.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.lastModified()).max
    assert(mtime2 === mtime,
      "a committed certificate must never be overwritten by a replay")
  }

  test("sketch stores refuse mismatched parameters: the first landing persists p (and k) and every later landing or windowed serve at another value fails loudly") {
    val e = Catalog.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .localCheckpoint()
    val hll = tmpDir("graft-hll-p") + "/deltas"
    graft.streaming.SketchStream.writeRegisterDelta(e, hll, 0L, p = 8)
    assert(intercept[IllegalArgumentException] {
      graft.streaming.SketchStream.writeRegisterDelta(e, hll, 1L, p = 6)
    }.getMessage.contains("p=8"), "a later landing at another p must refuse")
    assert(intercept[IllegalArgumentException] {
      graft.streaming.SketchStream.estimatesWindowed(spark, hll, lo = 0L, p = 6)
    }.getMessage.contains("p=8"), "a windowed serve at another p must refuse")
    val kmv = tmpDir("graft-kmv-k") + "/deltas"
    graft.streaming.SketchStream.writeKmvDelta(e, kmv, 0L, k = 64)
    assert(intercept[IllegalArgumentException] {
      graft.streaming.SketchStream.writeKmvDelta(e, kmv, 1L, k = 256)
    }.getMessage.contains("k=64"))
    assert(intercept[IllegalArgumentException] {
      graft.streaming.SketchStream.overlapWindowed(spark, kmv, lo = 0L, k = 256)
    }.getMessage.contains("k=64"))
  }

  test("amend horizon: maintenance retires archives the correction window has passed, in-horizon re-bands keep working, and the retired epoch's refusal names the horizon") {
    import graft.streaming.{Amend, StoreCompaction}
    val d = docs.localCheckpoint()
    val store = tmpDir("graft-horizon") + "/deltas"
    def slice(k: Long) = d.filter(pmod(col("doc_id"), lit(8L)) === k)
    def corrected(k: Long) =
      slice(k).withColumn("text", expr("replace(text, 'e', 'a')"))
    (0 until 8).foreach(k =>
      CorpusStream.lmStore(store).land(slice(k.toLong), k.toLong))
    StoreCompaction.declarePrefoldKeep(store)
    StoreCompaction.declareAmendHorizon(store, 4L)
    StoreCompaction.foldEpochs(spark, store, 2L, uptoBatch = 7L)
    // frontier 7, horizon 4 → cut 3: epoch 0 (batches 0-1) is entirely
    // beyond the window; epoch 1's newest batch (3) is exactly at the
    // cut and SURVIVES
    assert(StoreCompaction.retireArchiveBeyondHorizon(store) === Seq(0L))
    assert(!new java.io.File(store, ".prefold/batch_id=0").exists() &&
      !new java.io.File(store, ".prefold/batch_id=1").exists(),
      "retired archives must leave disk")
    assert(new java.io.File(store, ".prefold/batch_id=2").exists(),
      "in-horizon archives must survive")
    assert(StoreCompaction.retireArchiveBeyondHorizon(store) === Seq.empty,
      "a second retirement pass must be a no-op")

    // an in-horizon banded landing still amends through the re-band path
    Amend.amendSumCells(CorpusStream.lmStore(store), corrected(2L), 2L)
    val expect = lmMap(CorpusStream.lmCells(
      d.filter(pmod(col("doc_id"), lit(8L)) =!= 2L).unionByName(corrected(2L))))
    assert(lmMap(CorpusStream.lmStore(store).servedWindow(spark, lo = 0L)) === expect,
      "the in-horizon re-band must serve the corrected retrain")

    // the retired epoch refuses with the horizon named
    assert(intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(store), corrected(0L), 0L)
    }.getMessage.contains("amend horizon"),
      "a correction beyond the retired window must refuse naming the horizon")

    // maintenance runs retirement on its own cadence: two more landings
    // move the frontier to 9 (cut 5), so epoch 1 (newest batch 3) retires
    CorpusStream.lmStore(store).land(slice(0L), 8L)
    CorpusStream.lmStore(store).land(slice(1L), 9L)
    val rep = StoreCompaction.maintain(spark, store, Seq("w1"))
    assert(rep.archivesRetired === 1L,
      s"maintain must retire epoch 1's archive at the new frontier: $rep")
    assert(!new java.io.File(store, ".prefold/batch_id=2").exists(),
      "epoch 1's archives must leave disk with it")
  }

  test("erasure scrubs the pre-fold archive: forgotten rows leave .prefold with the live store, and a later re-band amendment cannot resurrect them") {
    import graft.streaming.Amend
    val d = docs.select("doc_id", "text", "source").localCheckpoint()
    val (batch, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = batch.localCheckpoint(); val c = corpus.localCheckpoint()
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    val root = tmpDir("graft-archscrub")
    val (fpD, idxD) = (s"$root/fps", s"$root/bands")
    StoreCompaction.declarePrefoldKeep(fpD)
    StoreCompaction.declarePrefoldKeep(idxD)
    bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
      CurationStream.writeWindowDelta(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi), fpD, idxD, k.toLong)
    }
    StoreCompaction.foldEpochs(spark, fpD, 2L, uptoBatch = 3L)
    StoreCompaction.foldEpochs(spark, idxD, 2L, uptoBatch = 3L)

    // forget docs living in batch 0 — the same epoch (0) the amendment
    // of batch 1 will later re-fold from the archive
    val fIds = d.filter(col("doc_id") < w && pmod(col("doc_id"), lit(7L)) === 1L)
      .select("doc_id").localCheckpoint()
    assert(fIds.count() > 0, "fixture must forget at least one batch-0 doc")
    val fpRep = Forget.surgicalDelete(spark, fpD, fIds)
    val idxRep = Forget.surgicalDelete(spark, idxD, fIds)
    assert(fpRep.archivedRowsRemoved > 0 && idxRep.archivedRowsRemoved > 0,
      s"the scrub must reach the archived copies: $fpRep / $idxRep")
    Seq(fpD, idxD).foreach { dir =>
      assert(spark.read.parquet(s"$dir/.prefold")
          .join(fIds, Seq("doc_id"), "left_semi").count() === 0L,
        s"forgotten docs must leave $dir's pre-fold archive")
    }

    // the re-band amendment (batch 1, epoch 0) re-folds from the
    // SCRUBBED archive: the forgotten docs must stay gone
    Amend.amendWindowCuration(b, fpD, idxD, 1L)
    val scratch = tmpDir("graft-archscrub-scratch")
    CurationStream.writeWindowDelta(c.join(fIds, Seq("doc_id"), "left_anti"),
      s"$scratch/fps", s"$scratch/bands", 0L)
    assert(CurationStream.windowedDecisions(spark, fpD, idxD, lo = 0L)
        .collect().map(_.toSeq).toSeq ===
      CurationStream.windowedDecisions(spark,
        s"$scratch/fps", s"$scratch/bands", lo = 0L)
        .collect().map(_.toSeq).toSeq,
      "the re-banded election must equal the corrected corpus MINUS the " +
        "forgotten docs — a resurrected row here means the amendment " +
        "re-folded unscrubbed archive deltas")

    // second pass is a no-op on both legs (idempotent like the live scrub)
    val again = Forget.surgicalDelete(spark, fpD, fIds)
    assert(again.rowsRemoved === 0L && again.archivedRowsRemoved === 0L,
      s"a replayed scrub must find nothing: $again")
  }

  test("corrections respect prior erasure: the streamed amendment drops forgotten docs, retires their split negatives, and forget-then-amend equals amend-then-forget") {
    import graft.streaming.{Amend, ForgetStream}
    val d = docs.select("doc_id", "text", "source").localCheckpoint()
    val (batch, corpus, w) = graft.ops.ForgetOps.amendFixture(spark, sf)
    val b = batch.localCheckpoint(); val c = corpus.localCheckpoint()
    val bounds = Seq(Long.MinValue -> w, w -> 2 * w, 2 * w -> 3 * w,
      3 * w -> Long.MaxValue)
    def land4(store: String, src: org.apache.spark.sql.DataFrame): Unit =
      bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
        CorpusStream.lmStore(store).land(src.filter(col("doc_id") >= lo && col("doc_id") < hi),
          k.toLong)
      }
    // forgotten docs span batches 0 AND 1 — batch 1 is the landing the
    // correction targets, so an unfiltered amendment would resurrect its
    // forgotten docs, and batch 0's negatives must survive the amendment
    // mod-9 residue 4 (≡ 1 mod 3): the corrected batch KEEPS these docs
    // (amendFixture drops the ≡2 mod 3 residues), so the request really
    // does try to resurrect them
    val fIds = d.filter(col("doc_id") < 2 * w &&
        pmod(col("doc_id"), lit(9L)) === 4L)
      .select("doc_id").localCheckpoint()
    assert(fIds.filter(col("doc_id") < w).count() > 0 &&
      fIds.filter(col("doc_id") >= w).count() > 0,
      "the wave must hit both batch 0 and batch 1")
    val srcB = least(
      when(col("doc_id") < w, 0L).when(col("doc_id") < 2 * w, 1L)
        .when(col("doc_id") < 3 * w, 2L).otherwise(3L), lit(3L))
    def negIdsOf(store: String): Seq[Long] =
      Option(new java.io.File(store).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName.stripPrefix("batch_id=").toLong)
        .filter(id => id <= StoreCompaction.SplitForgetBase &&
          id > StoreCompaction.EpochFoldBase)

    // ── store X: forget wave FIRST, then the streamed amendment ──
    val sX = tmpDir("graft-commute-x") + "/deltas"
    land4(sX, d)
    val fm = tmpDir("graft-commute-fmark")
    ForgetStream.processBatch(fIds,
      d.withColumn("src_batch", srcB.cast("long")),
      ForgetStream.ForgetTargets(cellStores =
        Seq(CorpusStream.lmStore(sX)), splitBySrcBatch = true), fm, 0L)
    assert(negIdsOf(sX).map(StoreCompaction.splitSourceBatch).toSet ===
      Set(0L, 1L), "the wave must land negatives sourced at both batches")
    // the direct API keeps the refusal — no erasure guarantee there
    assert(intercept[IllegalStateException] {
      Amend.amendSumCells(CorpusStream.lmStore(sX), b, 1L)
    }.getMessage.contains("split-forget negative"),
      "a direct amendment against sourced negatives must still refuse")
    val reqDir = tmpDir("graft-commute-req")
    fIds.coalesce(1).write.mode("overwrite").parquet(reqDir)
    val targetsX = Amend.AmendTargets(
      cellStores = Seq(CorpusStream.lmStore(sX)),
      forgetRequestDirs = Seq(reqDir))
    val amReq = b.select(lit(1L).as("amend_batch"), col("doc_id"),
      col("text"), col("source")).localCheckpoint()
    val (am, audit) = (tmpDir("graft-commute-amark"), tmpDir("graft-commute-audit"))
    Amend.processAmendBatch(amReq, targetsX, am, 0L, Some(audit))
    val expect = lmMap(CorpusStream.lmCells(
      c.join(fIds, Seq("doc_id"), "left_anti")))
    assert(lmMap(CorpusStream.lmStore(sX).servedAt(spark)) === expect,
      "forget-then-amend must serve the corrected retrain minus the wave")
    val negsAfter = negIdsOf(sX).map(StoreCompaction.splitSourceBatch).toSet
    assert(negsAfter === Set(0L),
      s"batch 1's negatives retire with the amendment, batch 0's survive: $negsAfter")

    // the certificates carry both legs
    val reap = Amend.amendmentCertificate(spark, audit)
      .filter(col("store") === "erasure_reapply").collect()
    assert(reap.length === 1 &&
      reap.head.getAs[Long]("n") ===
        amReq.join(fIds, Seq("doc_id"), "left_semi").count(),
      s"the reapplied-erasure mass must certify: ${reap.toSeq}")
    val lmCert = Amend.amendmentCertificate(spark, audit)
      .filter(col("store") === "lm" && col("action") === "stale_negatives_dropped")
      .collect()
    assert(lmCert.length === 1 && lmCert.head.getAs[Long]("n") === 1L,
      s"the retired negatives must certify: ${lmCert.toSeq}")

    // replay: marker skips, nothing moves
    Amend.processAmendBatch(amReq, targetsX, am, 0L, Some(audit))
    assert(lmMap(CorpusStream.lmStore(sX).servedAt(spark)) === expect)

    // ── store Y: amendment FIRST, then the forget wave — commutes ──
    val sY = tmpDir("graft-commute-y") + "/deltas"
    land4(sY, d)
    Amend.processAmendBatch(amReq,
      Amend.AmendTargets(cellStores = Seq(CorpusStream.lmStore(sY)),
        forgetRequestDirs = Seq(tmpDir("graft-commute-noreq"))),
      tmpDir("graft-commute-amark2"), 0L, None)
    // the erasure wave now negates the CORRECTED content (the content
    // archive is the current truth — same contract as erase-derived-
    // stores-first)
    ForgetStream.processBatch(fIds,
      c.withColumn("src_batch", srcB.cast("long")),
      ForgetStream.ForgetTargets(cellStores =
        Seq(CorpusStream.lmStore(sY)), splitBySrcBatch = true),
      tmpDir("graft-commute-fmark2"), 0L)
    assert(lmMap(CorpusStream.lmStore(sY).servedAt(spark)) === expect,
      "amend-then-forget must serve the same counts — the operations commute")
  }
}
