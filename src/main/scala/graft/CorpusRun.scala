package graft

import graft.ops.{Dedup, Mining}
import graft.streaming.{CorpusStream, CurationStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI entry for the TRAINING-DATA pipeline — the curation lifecycle a
  * corpus team runs as one command (the LLM-data analog of `graft.Run`'s
  * medallion lifecycle):
  *
  *   runMain graft.CorpusRun <sfDir> <outDir>
  *
  * Stages, each reusing the oracled family it belongs to and writing its
  * artifact under `outDir`:
  *   1. curation stores (gate → exact dedup → keep-earliest LSH; the
  *      CurationStream fold as one batch) + the q133 outcome-rate report
  *   2. decontamination scrub store + the q141 per-source report
  *   3. unified lexical+semantic leak repair (q146's assignment)
  *   4. training-shard packing OFF the accepted store (q134)
  *   5. curriculum plan manifest (q151) + per-epoch pack read order (q153)
  *   6. renormalized mixture schedule (q158's segment manifest) derived
  *      from the ACCEPTED store's per-source masses alone
  *   7. targeted selection over the accepted store + the post-selection
  *      temperature recipe (q164's scorer restricted to curated docs,
  *      q167's rollup)
  *   8. CCNet fluency retention over the accepted store (q170's
  *      per-source tertile cut, LM trained on the curated corpus)
  *   9. domain reweighting over the accepted store (q175's
  *      multiplicative-weights optimizer on the curated loss cells)
  *  10. embedding-space diversity over the accepted store (q178's
  *      centroid-identity metric on the curated hashed embeddings)
  *
  * Cross-stage invariants are CHECKED, not assumed — a failed invariant
  * exits nonzero like a failed dbt test:
  *   - accepted ∪ quarantine partitions the corpus exactly (stage 1)
  *   - the packed shards conserve the accepted store's doc count (4 vs 1)
  *   - the curriculum total order is a dense cover of the corpus (5)
  *   - every epoch schedules every wrap pack exactly once (5)
  *   - the renormalized schedule's slot mass equals the accepted count
  *     (6 vs 1 — the dense order covers exactly what curation shipped)
  *   - selection candidates never exceed the accepted store, survivors
  *     never exceed candidates, and the recipe's ppm shares sum to one
  *     within rounding (7 vs 1)
  *   - the fluency cut buckets every accepted doc exactly once, keeps a
  *     majority, and tertiles stay balanced within one doc (8 vs 1)
  *   - the reweighting's final ppm weights sum to one within floor
  *     rounding and never allocate more docs than it scored (9 vs 1)
  *   - every source's diversity is non-negative (Cauchy-Schwarz must
  *     hold in exact arithmetic) over at most the accepted docs (10 vs 1)
  */
object CorpusRun {

  case class Stage(name: String, rows: Long, ok: Boolean, detail: String,
      secs: Double = 0.0)

  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[Stage] = {
    new java.io.File(outDir).mkdirs()
    // per-stage wall clock: stages run strictly sequentially, so each
    // Stage(...) constructor's tick() closes the interval its stage opened
    var tickAt = System.nanoTime()
    def tick(): Double = {
      val t = System.nanoTime(); val s = (t - tickAt) / 1e9; tickAt = t; s
    }
    def save(name: String, df: org.apache.spark.sql.DataFrame): Long = {
      val out = df.localCheckpoint()
      out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      out.count()
    }
    val nDocs = Catalog.table(spark, sfDir, "documents").count()

    // 1. curation stores + outcome rates
    val storesRoot = Dedup.buildCurationStores(spark, sfDir)
    val stores = CurationStream.Layout(storesRoot)
    val nAccepted = spark.read.parquet(stores.accepted).count()
    val nQuarantine = spark.read.parquet(stores.quarantine).count()
    val rates = save("curation_rates", Dedup.q133.fn(spark, sfDir))
    val s1 = Stage("curation", rates, nAccepted + nQuarantine == nDocs,
      s"accepted=$nAccepted quarantine=$nQuarantine of $nDocs docs", secs = tick())

    // 2. decontamination store + report
    val scrub = save("scrub_report", Dedup.q141.fn(spark, sfDir))
    val s2 = Stage("decontamination", scrub, scrub > 0, s"$scrub source rows", secs = tick())

    // 3. unified leak repair
    val repair = Dedup.unifiedRepair(spark, sfDir).localCheckpoint()
    repair.coalesce(1).write.mode("overwrite").parquet(s"$outDir/leak_repair")
    val nClustered = repair.count()
    val nMoved = repair.filter(col("split") =!= col("final_split")).count()
    val s3 = Stage("leak_repair", nClustered, nMoved <= nClustered,
      s"$nMoved of $nClustered clustered docs reassigned", secs = tick())

    // 4. pack the accepted store into training shards
    val packs = Dedup.q134.fn(spark, sfDir).localCheckpoint()
    packs.coalesce(1).write.mode("overwrite").parquet(s"$outDir/training_shards")
    val nShards = packs.count()
    val packedDocs = packs.agg(sum(col("n_docs"))).head().getLong(0)
    val s4 = Stage("packing", nShards, packedDocs == nAccepted,
      s"$packedDocs docs into $nShards shards (accepted=$nAccepted)", secs = tick())

    // 5. consumption order: curriculum manifest + per-epoch pack order
    val mani = Mining.q151.fn(spark, sfDir).localCheckpoint()
    mani.coalesce(1).write.mode("overwrite").parquet(s"$outDir/curriculum_manifest")
    val lastPos = mani.agg(max(col("last_pos"))).head().getLong(0)
    val order = Mining.q153.fn(spark, sfDir).localCheckpoint()
    order.coalesce(1).write.mode("overwrite").parquet(s"$outDir/epoch_pack_order")
    val nWrapPacks = ops.TextOps.wrapPacks(spark, sfDir).count()
    val perEpochOk = order.groupBy("epoch").agg(sum(col("n_packs")).as("n"))
      .collect().forall(_.getAs[Long]("n") == nWrapPacks)
    val s5 = Stage("ordering", mani.count(), lastPos == nDocs && perEpochOk,
      s"total order covers $lastPos/$nDocs docs; $nWrapPacks packs per epoch", secs = tick())

    // 6. renormalized consumption schedule OVER the accepted store: the
    // q158 segment manifest derived from store masses alone (zero
    // document scans) — the mixture schedule a loader runs on exactly
    // what curation shipped
    val acceptedMasses = Mining.withRenormWeight(
        spark.read.parquet(stores.accepted).select("source"))
      .groupBy("source", "w").agg(count(lit(1)).cast("long").as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy((t: (String, Long, Long)) => t._1)
    val sched = Mining.renormManifestDf(spark, acceptedMasses).orderBy("seg_idx")
      .localCheckpoint()
    sched.coalesce(1).write.mode("overwrite").parquet(s"$outDir/renorm_schedule")
    val slotMass = sched.agg(sum(col("n_slots"))).head().getLong(0)
    val nSegs = sched.count()
    val s6 = Stage("schedule", nSegs, slotMass == nAccepted,
      s"$nSegs segments scheduling $slotMass slots (accepted=$nAccepted)", secs = tick())

    // 7. targeted selection OVER the accepted store + the post-selection
    // temperature recipe (q164 scoring restricted to what curation
    // shipped, q167's rollup) — the mixture a benchmark-targeted run
    // would actually train on
    val acceptedDocs = Catalog.table(spark, sfDir, "documents")
      .join(spark.read.parquet(stores.accepted).select("doc_id"),
        Seq("doc_id"), "left_semi")
    val recipe = Mining.selectedRecipeOf(
        Mining.targetedScoresOf(Mining.bigramBuckets(acceptedDocs)))
      .localCheckpoint()
    recipe.coalesce(1).write.mode("overwrite").parquet(s"$outDir/selection_recipe")
    val recAgg = recipe.agg(sum(col("n_sel")), sum(col("n_cand")),
      sum(col("mix_sel_ppm"))).head()
    val (nSel, nCand, ppmSum) = (recAgg.getLong(0), recAgg.getLong(1), recAgg.getLong(2))
    val nSrc = recipe.count()
    val s7 = Stage("selection", nSrc,
      nSel <= nCand && nCand <= nAccepted && nSel > 0 &&
        math.abs(ppmSum - 1000000L) <= nSrc,
      s"$nSel of $nCand accepted candidates survive the cut; recipe ppm sum=$ppmSum", secs = tick())

    // 8. CCNet fluency retention OVER the accepted store: the q170
    // per-source tertile cut trained on exactly what curation shipped —
    // the quality-retention verdict a loader applies beside the mixture
    val buckets = ops.TextOps.tertileBuckets(
        ops.TextOps.fluencyScoredFromCounts(acceptedDocs, None))
      .localCheckpoint()
    buckets.coalesce(1).write.mode("overwrite").parquet(s"$outDir/fluency_buckets")
    val nBucketed = buckets.count()
    val nKept = buckets.filter(col("kept")).count()
    val balanced = buckets.groupBy("source", "bucket").count()
      .groupBy("source").agg((max(col("count")) - min(col("count"))).as("d"))
      .collect().forall(_.getAs[Long]("d") <= 1L)
    val s8 = Stage("fluency", nBucketed,
      nBucketed == nAccepted && balanced && 2L * nKept >= nBucketed,
      s"$nKept of $nBucketed accepted docs kept (head+middle); tertiles balanced", secs = tick())

    // 9. domain reweighting OVER the accepted store: q175's MW optimizer
    // fed by the curated corpus's loss cells — the mixture-correction
    // weights a run applies beside the temperature recipe, computed on
    // exactly what curation shipped
    val mw = Mining.mwTableFromCells(Mining.mwCells(acceptedDocs)).localCheckpoint()
    mw.coalesce(1).write.mode("overwrite").parquet(s"$outDir/domain_weights")
    val nMwSrc = mw.count()
    val mwAgg = mw.agg(sum(col("w4_ppm")), sum(col("docs_alloc")),
      sum(col("n_docs"))).head()
    val (wSum, alloc, mwDocs) = (mwAgg.getLong(0), mwAgg.getLong(1), mwAgg.getLong(2))
    val s9 = Stage("reweighting", nMwSrc,
      math.abs(wSum - 1000000L) <= nMwSrc && alloc <= mwDocs && mwDocs <= nAccepted,
      s"w4 ppm sum=$wSum; $alloc docs allocated of $mwDocs scored", secs = tick())

    // 10. embedding-space diversity OVER the accepted store: the q178
    // per-source metric a diversity-aware sampling policy reads, computed
    // on the curated corpus's hashed embeddings
    val div = ops.Similarity.diversityOf(acceptedDocs).localCheckpoint()
    div.coalesce(1).write.mode("overwrite").parquet(s"$outDir/diversity")
    val nDivSrc = div.count()
    val divAgg = div.agg(sum(col("n_docs")), min(col("diversity_fp"))).head()
    val (divDocs, minDiv) = (divAgg.getLong(0), divAgg.getLong(1))
    val s10 = Stage("diversity", nDivSrc,
      minDiv >= 0L && divDocs <= nAccepted && nDivSrc > 0,
      s"$nDivSrc sources over $divDocs accepted docs; min diversity_fp=$minDiv", secs = tick())

    // 11. dedup-aware mixture OVER the accepted store: q187's
    // 1/cluster-size weighting on exactly what curation shipped — the
    // duplication-corrected shares a sampler reads beside the
    // temperature recipe (curation already removed exact+banded dups, so
    // the residual shift here measures what the J >= 0.8 closure still
    // sees past those stages)
    val dupMix = Mining.dupWeightedMixture(acceptedDocs
        .select(col("doc_id"), col("source"), col("text")))
      .localCheckpoint()
    dupMix.coalesce(1).write.mode("overwrite").parquet(s"$outDir/dup_weighted_mixture")
    val dmAgg = dupMix.agg(sum(col("n_docs")), sum(col("eff_fp")),
      sum(col("eff_share_ppm"))).head()
    val (dmDocs, dmEff, dmPpm) = (dmAgg.getLong(0), dmAgg.getLong(1), dmAgg.getLong(2))
    val s11 = Stage("dedup_weighting", dupMix.count(),
      dmDocs == nAccepted && dmEff <= dmDocs * 1000000L &&
        math.abs(dmPpm - 1000000L) <= dupMix.count(),
      s"eff mass $dmEff of ${dmDocs}e6; eff ppm sum=$dmPpm", secs = tick())

    // 12. cluster-aware eval holdout OVER the accepted store: q188's
    // carve-by-component split on what curation shipped — leakage-free
    // by construction, reported per source
    val holdout = Mining.clusterAwareSplit(acceptedDocs
        .select(col("doc_id"), col("source"), col("text")))
      .localCheckpoint()
    holdout.coalesce(1).write.mode("overwrite").parquet(s"$outDir/eval_holdout")
    val hoAgg = holdout.agg(sum(col("n_docs")), sum(col("n_eval"))).head()
    val (hoDocs, hoEval) = (hoAgg.getLong(0), hoAgg.getLong(1))
    val s12 = Stage("holdout", holdout.count(),
      hoDocs == nAccepted && hoEval > 0 && hoEval < hoDocs,
      s"$hoEval of $hoDocs accepted docs carved for eval", secs = tick())

    // 13. cross-modal audit OVER the accepted store: text curation
    // (stage 1) only looked at text — q186's image/audio keep-first
    // verdicts AMONG the survivors say what a multimodal pass would
    // still quarantine (verdicts are computed on the accepted frame
    // itself: a quarantined doc is gone and cannot be anyone's earlier
    // duplicate); text near-dup among the accepted is structurally rare
    // (curation banded those out) but the exact-J test can still catch
    // pairs the bands missed
    val xm = ops.Multimodal.crossModalOf(
        acceptedDocs.select(col("doc_id"), col("source"), col("text")),
        assets = Some(spark.read.parquet(
          ops.Multimodal.buildAssetStore(spark, sfDir))))
      .localCheckpoint()
    xm.coalesce(1).write.mode("overwrite").parquet(s"$outDir/crossmodal_audit")
    val nXm = xm.count()
    val nXmQuar = xm.filter(!col("accepted")).count()
    val s13 = Stage("crossmodal", nXm,
      nXm == nAccepted && nXmQuar < nXm,
      s"$nXmQuar of $nXm accepted docs would quarantine under the multimodal pass", secs = tick())

    // 14. store MAINTENANCE under the threshold policy: the LSM levels
    // run because the stores' own state says so (StoreCompaction.maintain
    // reads delta counts / bucket file counts), clamped by live release
    // pins — never hand-sequenced. The curation fp/index stores get a
    // steady-state pass (single landing → policy correctly no-ops), and
    // the pinned containment-trend store proves the pin contract inside
    // the lifecycle: its fold CLAMPS to the live history pin and served
    // trend rows are bit-identical before and after the pass.
    import graft.streaming.{ScrubStream, StoreCompaction}
    val pol = StoreCompaction.MaintenancePolicy(
      minorAtDeltas = 2, keepLatestDeltas = 1, maxFilesPerBucket = 4, nBuckets = 8)
    val (trendDir, trendBounds) = ScrubStream.buildShingleTrendStore(spark, sfDir)
    // the trend is |landings| rows — snapshot it whole (a SUM of
    // full-range xxhash64 values would overflow int64 under ANSI)
    def trendSnap(): Seq[Seq[Any]] = ScrubStream
      .containmentTrend(spark, trendDir, Catalog.table(spark, sfDir, "documents"),
        trendBounds)
      .collect().toSeq.map(_.toSeq)
    val hBefore = trendSnap()
    val fpRep = StoreCompaction.maintain(spark, stores.fp, Seq("fp"), pol)
    val idxRep = StoreCompaction.maintain(spark, stores.index,
      Seq("band_idx", "band_hash"), pol)
    val trendRep = StoreCompaction.maintain(spark, trendDir, Seq("h"), pol)
    val hAfter = trendSnap()
    trendRep.minorUpto.foreach { u =>
      require(u <= 0L, s"trend fold crossed the live history pin: upto=$u")
    }
    val s14 = Stage("maintenance",
      fpRep.nDeltas + idxRep.nDeltas + trendRep.nDeltas,
      hBefore == hAfter && trendRep.clampedByPins &&
        fpRep.minorUpto.isEmpty && idxRep.minorUpto.isEmpty,
      s"fp/index no-op at ${fpRep.nDeltas}/${idxRep.nDeltas} deltas; trend " +
        s"fold clamped to pin (upto=${trendRep.minorUpto}); served trend " +
        "bit-identical", secs = tick())

    // 15. FORGET as a lifecycle stage: an erasure request wave lands
    // through the streamed forget sink against a COPY of the stage-1
    // curation family (the shared store is content-addressed and serves
    // other queries; a deployment would run this against the live one),
    // then the q202-style audit runs as a cross-stage invariant:
    // ABSENCE (no forgotten id in any of the five stores) and EQUALITY
    // (the mutated family's decisions equal a from-scratch curation run
    // over the survivors — the q204 law inside the lifecycle).
    import graft.streaming.ForgetStream
    // the stage is self-contained per run: a fresh copy plus fresh
    // checkpoint/markers/landing, so re-running the lifecycle replays
    // the erasure deterministically instead of the checkpoint skipping
    // it against a freshly re-copied (unerased) store
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
      f.delete(); ()
    }
    val fRoot = s"$outDir/forget_stores"
    Seq(fRoot, s"$outDir/forget_requests", s"$outDir/forget_req_stage",
      s"$outDir/forget_markers", s"$outDir/forget_ck", s"$outDir/forget_fresh")
      .foreach(p => rmTree(new java.io.File(p)))
    val fStores = CurationStream.Layout(fRoot)
    stores.dirs.zip(fStores.dirs).foreach { case (from, to) =>
      spark.read.parquet(from)
        .write.partitionBy("batch_id").mode("overwrite").parquet(to)
    }
    val (fm, fr) = (ops.ForgetOps.ForgetMod, ops.ForgetOps.ForgetRes)
    val archive = spark.read.parquet(fStores.accepted)
      .select("doc_id", "text", "source")
      .unionByName(spark.read.parquet(fStores.quarantine)
        .select("doc_id", "text", "source"))
      .localCheckpoint()
    val fIds = archive.filter(pmod(col("doc_id"), lit(fm)) === lit(fr))
      .select("doc_id").localCheckpoint()
    val landing = new java.io.File(s"$outDir/forget_requests")
    landing.mkdirs()
    val stage = s"$outDir/forget_req_stage"
    fIds.coalesce(1).write.mode("overwrite").parquet(stage)
    new java.io.File(stage).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(landing, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    ForgetStream.forgetSink(
      ForgetStream.readRequestStream(spark, landing.getPath), archive,
      ForgetStream.ForgetTargets(curationRoot = Some(fRoot)),
      s"$outDir/forget_markers", s"$outDir/forget_ck").awaitTermination()
    val nForgotten = fIds.count()
    val leftAcross = fStores.dirs
      .map(st => spark.read.parquet(st)
        .join(fIds, Seq("doc_id"), "left_semi").count()).sum
    val fresh = CurationStream.Layout(s"$outDir/forget_fresh")
    CurationStream.processBatch(
      archive.filter(pmod(col("doc_id"), lit(fm)) =!= lit(fr)),
      fresh.fp, fresh.index, fresh.decisions, 0L)
    def decSnap(dir: String) = graft.streaming.CurationStream
      .decisions(spark, dir).collect().map(_.toSeq).toSeq
    val forgetEqual =
      decSnap(fStores.decisions) == decSnap(fresh.decisions)
    val s15 = Stage("forget", nForgotten,
      leftAcross == 0L && forgetEqual,
      s"erased $nForgotten docs across 5 stores ($leftAcross rows left); " +
        s"decisions ≡ survivor rerun: $forgetEqual", secs = tick())

    // 16. RETENTION as a lifecycle stage: the LM family driven through
    // the full pin → split-forget-wave → release → expire sequence a
    // deployment under retention limits actually runs. The invariants
    // are q214's and q215's laws as cross-stage checks: (a) the release
    // pinned BEFORE the wave keeps serving its slice retrain minus the
    // wave (split landings never seal a horizon); (b) after the pin is
    // explicitly released (expiry refuses under live pins — retention
    // outranking a release is a decision, not an accident) and the
    // oldest two landings expire as pure partition drops, the windowed
    // serve equals the retained-window retrain minus the wave.
    val ttlStore = s"$outDir/retention_lm"
    val (rLanding, rStage2, rMarkers, rCk) = (s"$outDir/retention_requests",
      s"$outDir/retention_req_stage", s"$outDir/retention_markers",
      s"$outDir/retention_ck")
    Seq(ttlStore, rLanding, rStage2, rMarkers, rCk)
      .foreach(p => rmTree(new java.io.File(p)))
    val rdocs = Catalog.table(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val rq = rdocs.agg(max(col("doc_id"))).head().getLong(0) / 4
    val rBounds = Seq(rq, 2 * rq, 3 * rq, Long.MaxValue)
    rBounds.zipWithIndex.foreach { case (hiB, k) =>
      val loB = if (k == 0) Long.MinValue else rBounds(k - 1)
      CorpusStream.lmStore(ttlStore).land(
        rdocs.filter(col("doc_id") >= loB && col("doc_id") < hiB), k.toLong)
    }
    StoreCompaction.registerPin(ttlStore, "rel_v1", 1L)
    val rContent = rdocs.withColumn("src_batch",
      when(col("doc_id") < rq, 0L).when(col("doc_id") < 2 * rq, 1L)
        .when(col("doc_id") < 3 * rq, 2L).otherwise(3L)).localCheckpoint()
    val rIds = rdocs.filter(pmod(col("doc_id"), lit(fm)) === lit(fr))
      .select("doc_id")
    rIds.coalesce(1).write.mode("overwrite").parquet(rStage2)
    new java.io.File(rLanding).mkdirs()
    new java.io.File(rStage2).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(rLanding, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    ForgetStream.forgetSink(
      ForgetStream.readRequestStream(spark, rLanding), rContent,
      ForgetStream.ForgetTargets(cellStores = Seq(CorpusStream.lmStore(ttlStore)),
        splitBySrcBatch = true),
      rMarkers, rCk).awaitTermination()
    def lmSnap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val rSurv = pmod(col("doc_id"), lit(fm)) =!= lit(fr)
    val pinServedOk =
      lmSnap(CorpusStream.lmStore(ttlStore).servedAt(spark, upto = 1L)) ==
        lmSnap(graft.streaming.CorpusStream.lmCells(
          rdocs.filter(col("doc_id") < 2 * rq && rSurv)))
    StoreCompaction.releasePin(ttlStore, "rel_v1")
    val exp = StoreCompaction.expireBefore(ttlStore, 2L)
    val windowOk =
      lmSnap(CorpusStream.lmStore(ttlStore).servedWindow(spark, lo = 2L)) ==
        lmSnap(graft.streaming.CorpusStream.lmCells(
          rdocs.filter(col("doc_id") >= 2 * rq && rSurv)))
    val s16 = Stage("retention", exp.droppedBatches.size.toLong,
      pinServedOk && windowOk && exp.floor == 2L && !exp.droppedBase,
      s"release served through the split wave: $pinServedOk; expired " +
        s"${exp.droppedBatches.size} partitions to floor ${exp.floor}; " +
        s"windowed serve ≡ retained-window retrain: $windowOk", secs = tick())

    // 17. EPOCH BANDING as a lifecycle stage: the retained store from
    // stage 16 keeps landing (batches 4-7), SCHEDULED maintenance with
    // an epoch policy bands the complete margin-clear epochs — partition
    // count bounded by O(window / epochSize) instead of O(window) — with
    // the windowed serve bit-unchanged across the fold, and a CERTIFIED
    // expiry then drops a whole epoch as ONE directory, persisting the
    // audit row a licensing review files (q219/q220's laws as
    // cross-stage checks). Self-contained per run: stage 16 rebuilds the
    // store fresh, so this replays deterministically.
    val rAudit = s"$outDir/retention_audit"
    rmTree(new java.io.File(rAudit))
    rBounds.zipWithIndex.foreach { case (hiB, k) =>
      val loB = if (k == 0) Long.MinValue else rBounds(k - 1)
      CorpusStream.lmStore(ttlStore).land(
        rdocs.filter(col("doc_id") >= loB && col("doc_id") < hiB), (4 + k).toLong)
    }
    val preFold = lmSnap(
      CorpusStream.lmStore(ttlStore).servedWindow(spark, lo = 2L))
    val mrep = StoreCompaction.maintain(spark, ttlStore, Seq("w1", "w2"),
      StoreCompaction.MaintenancePolicy(keepLatestDeltas = 1,
        epochSize = Some(2L)))
    val foldUnchanged = lmSnap(
      CorpusStream.lmStore(ttlStore).servedWindow(spark, lo = 2L)) == preFold
    val expE = StoreCompaction.expireBeforeCertified(spark, ttlStore,
      lo = 4L, rAudit, storeName = "retention_lm")
    val certRows = StoreCompaction.expiryCertificate(spark, rAudit)
      .select("store", "floor", "action", "n")
      .collect().map(_.toSeq).toSet
    val certOk = certRows ==
      Set(Seq("retention_lm", 4L, "epoch_drop", 1L))
    val windowOk4 = lmSnap(
      CorpusStream.lmStore(ttlStore).servedWindow(spark, lo = 4L)) ==
      lmSnap(graft.streaming.CorpusStream.lmCells(rdocs))
    val s17 = Stage("epoch_banding", mrep.epochsFolded,
      mrep.epochsFolded == 2L && foldUnchanged && certOk && windowOk4 &&
        expE.floor == 4L,
      s"policy banded ${mrep.epochsFolded} epochs (serve unchanged: " +
        s"$foldUnchanged); certified one-directory epoch expiry to floor " +
        s"${expE.floor} (certificate ground-true: $certOk); windowed serve " +
        s"≡ window retrain: $windowOk4", secs = tick())

    // 18. RETENTION ACROSS THE REMAINING FAMILIES: the landed asset
    // store (payload bytes under batch_id/kind — q221's layout) and the
    // WINDOW-MODE curation stores (q225's layout) sweep through the
    // lifecycle on the SAME landing clock as stage 16's LM store —
    // erasure as surgical per-doc deletes, expiry as directory drops
    // (CERTIFIED for the payload bytes: age-based deletion of media is
    // exactly what a licensing audit asks proof of), then the
    // cross-stage invariants: (a) the windowed curation verdict equals
    // a from-scratch election on the retained survivors; (b) packing
    // and the mixture manifest RE-DERIVED from the windowed accepted
    // set conserve exactly that set (the stage-4/6 laws re-applied
    // after retention); (c) every windowed-accepted doc still has its
    // payload rows in the retained asset window — the two families
    // expired on the same clock, so curation can never ship a doc whose
    // media already left disk.
    val (wfpD, widxD, aStore, aAudit, wScratch) = (s"$outDir/wincur_fps",
      s"$outDir/wincur_bands", s"$outDir/asset_ttl", s"$outDir/asset_audit",
      s"$outDir/wincur_scratch")
    Seq(wfpD, widxD, aStore, aAudit, wScratch)
      .foreach(p => rmTree(new java.io.File(p)))
    val rdocsFull = Catalog.table(spark, sfDir, "documents")
      .select("doc_id", "text", "source").localCheckpoint()
    val assetsAll = spark.read.parquet(ops.Multimodal.buildAssetStore(spark, sfDir))
    rBounds.zipWithIndex.foreach { case (hiB, k) =>
      val loB = if (k == 0) Long.MinValue else rBounds(k - 1)
      val in = col("doc_id") >= loB && col("doc_id") < hiB
      graft.streaming.CurationStream.writeWindowDelta(
        rdocsFull.filter(in), wfpD, widxD, k.toLong)
      assetsAll.filter(in).repartition(col("kind"))
        .write.partitionBy("kind").mode("overwrite")
        .parquet(s"$aStore/batch_id=$k")
    }
    val wIds = rdocsFull.filter(pmod(col("doc_id"), lit(fm)) === lit(fr))
      .select("doc_id").localCheckpoint()
    graft.streaming.Forget.surgicalDelete(spark, wfpD, wIds)
    graft.streaming.Forget.surgicalDelete(spark, widxD, wIds)
    graft.streaming.Forget.surgicalDelete(spark, aStore, wIds,
      partCol = "batch_id", subPartBy = Seq("kind"))
    StoreCompaction.expireBefore(wfpD, 2L)
    StoreCompaction.expireBefore(widxD, 2L)
    val aExp = StoreCompaction.expireBeforeCertified(spark, aStore, 2L,
      aAudit, storeName = "asset_ttl")
    // (a) the served window election ≡ from-scratch on retained survivors
    val winDec = graft.streaming.CurationStream
      .windowedDecisions(spark, wfpD, widxD, lo = 2L).localCheckpoint()
    winDec.coalesce(1).write.mode("overwrite").parquet(s"$outDir/wincur_decisions")
    val winSurvivors = rdocsFull.filter(col("doc_id") >= 2 * rq &&
      pmod(col("doc_id"), lit(fm)) =!= lit(fr))
    graft.streaming.CurationStream.writeWindowDelta(winSurvivors,
      s"$wScratch/fps", s"$wScratch/bands", 0L)
    val decEqual = winDec.collect().map(_.toSeq).toSeq ==
      graft.streaming.CurationStream.windowedDecisions(spark,
        s"$wScratch/fps", s"$wScratch/bands", lo = 0L)
        .collect().map(_.toSeq).toSeq
    // (b) downstream packing + mixture manifest over the WINDOWED
    // accepted set conserve it exactly
    val winAccepted = winDec
      .filter(!col("is_exact_dup") && !coalesce(col("is_band_dup"), lit(false)))
      .select("doc_id").join(rdocsFull, Seq("doc_id")).localCheckpoint()
    val nWinAcc = winAccepted.count()
    val packs18 = Dedup.packAccepted(winAccepted.select("doc_id", "text"))
      .localCheckpoint()
    packs18.coalesce(1).write.mode("overwrite").parquet(s"$outDir/wincur_shards")
    val packed18 = packs18.agg(sum(col("n_docs"))).head().getLong(0)
    val masses18 = Mining.withRenormWeight(winAccepted.select("source"))
      .groupBy("source", "w").agg(count(lit(1)).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy((t: (String, Long, Long)) => t._1)
    val sched18 = Mining.renormManifestDf(spark, masses18).localCheckpoint()
    sched18.coalesce(1).write.mode("overwrite").parquet(s"$outDir/wincur_schedule")
    val slot18 = sched18.agg(sum(col("n_slots"))).head().getLong(0)
    // (c) every windowed-accepted doc keeps its payload rows in the
    // retained asset window (same expiry clock on both families)
    val winAssets = spark.read.parquet(aStore)
      .filter(StoreCompaction.windowedReadFilter(aStore, 2L, Long.MaxValue))
    val missingAssets = winAccepted.select("doc_id")
      .join(winAssets.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .count()
    val aCertOk = StoreCompaction.expiryCertificate(spark, aAudit)
      .filter(col("store") === "asset_ttl" && col("action") === "landing_drop" &&
        col("n") === 2L).count() == 1L
    val s18 = Stage("family_retention", nWinAcc,
      decEqual && packed18 == nWinAcc && slot18 == nWinAcc &&
        missingAssets == 0L && aExp.droppedBatches == Seq(0L, 1L) && aCertOk,
      s"window election ≡ survivor rerun: $decEqual; re-packed $packed18 " +
        s"and scheduled $slot18 of $nWinAcc windowed-accepted docs; " +
        s"$missingAssets accepted docs missing payloads; certified " +
        s"${aExp.droppedBatches.size} payload-landing drops", secs = tick())

    // 19. AMENDMENT as a lifecycle stage: the weekly 100 TB event — a
    // re-crawled/re-parsed batch whose CONTENT changed — swept through a
    // curation family by the STREAMED amendment sink (requests land as
    // files naming the corrected landing; the sink erases the old
    // landing with two-level re-election and re-lands the corrected
    // batch through the id-ordered insert, certifying BEFORE the
    // mutation). Invariants: the amended family's decisions equal a
    // from-scratch curation of the corrected corpus (the q228 law inside
    // the lifecycle); the certificate's masses ground-true against the
    // fixture; and the compliance ledger's amendment leg serves the
    // cumulative record off the audit store alone. Self-contained per
    // run (fresh stores/requests/checkpoint), so re-passes replay the
    // amendment deterministically.
    // The stage also proves the ERASURE–CORRECTION ORDER: a
    // right-to-be-forgotten wave lands BEFORE the correction, the
    // corrected batch still contains the forgotten docs (a re-crawled
    // shard would), and the sink — given the wave's request dir — drops
    // them before amending, so forget-then-amend equals a from-scratch
    // build on (corrected corpus MINUS the wave).
    import graft.streaming.Amend
    val aRootS = s"$outDir/amend_stores"
    val aStores = CurationStream.Layout(aRootS)
    val (aLanding, aStage2, aMarkers, aCk, aScratch, aCert, aFReq, aFMark) =
      (s"$outDir/amend_requests", s"$outDir/amend_req_stage",
        s"$outDir/amend_markers", s"$outDir/amend_ck",
        s"$outDir/amend_scratch", s"$outDir/amend_cert",
        s"$outDir/amend_forget_requests", s"$outDir/amend_forget_markers")
    Seq(aRootS, aLanding, aStage2, aMarkers, aCk, aScratch, aCert,
        aFReq, aFMark)
      .foreach(p => rmTree(new java.io.File(p)))
    val (corrB0, corrCorpus0, aw) = ops.ForgetOps.amendFixture(spark, sfDir)
    val corrB = corrB0.localCheckpoint()
    val corrCorpus = corrCorpus0.localCheckpoint()
    val aBounds = Seq(aw, 2 * aw, 3 * aw, Long.MaxValue)
    aBounds.zipWithIndex.foreach { case (hiB, k) =>
      val loB = if (k == 0) Long.MinValue else aBounds(k - 1)
      CurationStream.processBatch(
        rdocsFull.filter(col("doc_id") >= loB && col("doc_id") < hiB), aStores, k.toLong)
    }
    // the erasure wave: docs ≡ 4 (mod 9) below the corrected landing's
    // upper bound — it hits batch 0 AND the landing the correction
    // targets (the residue is ≡ 1 mod 3, so the corrected batch KEEPS
    // these docs and really would resurrect them)
    val fIds19 = rdocsFull.filter(col("doc_id") < 2 * aw &&
        pmod(col("doc_id"), lit(9L)) === 4L)
      .select("doc_id").localCheckpoint()
    fIds19.coalesce(1).write.mode("overwrite").parquet(aFReq)
    graft.streaming.ForgetStream.processBatch(fIds19,
      rdocsFull.select("doc_id", "text", "source"),
      graft.streaming.ForgetStream.ForgetTargets(curationRoot = Some(aRootS)),
      aFMark, 0L)
    corrB.select(lit(1L).as("amend_batch"), col("doc_id"), col("text"),
        col("source"))
      .coalesce(1).write.mode("overwrite").parquet(aStage2)
    new java.io.File(aLanding).mkdirs()
    new java.io.File(aStage2).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(aLanding, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    Amend.amendSink(Amend.readAmendStream(spark, aLanding),
      Amend.AmendTargets(curationRoot = Some(aRootS),
        forgetRequestDirs = Seq(aFReq)), aMarkers, aCk,
      auditRoot = Some(aCert)).awaitTermination()
    val aFresh = CurationStream.Layout(aScratch)
    CurationStream.processBatch(
      corrCorpus.join(fIds19, Seq("doc_id"), "left_anti"),
      aFresh.fp, aFresh.index, aFresh.decisions, 0L)
    val amendEqual = decSnap(aStores.decisions) == decSnap(aFresh.decisions)
    val nCorr = corrB.count()
    val nFb = corrB.join(fIds19, Seq("doc_id"), "left_semi").count()
    val nOldLanding = rdocsFull
      .filter(col("doc_id") >= aw && col("doc_id") < 2 * aw).count()
    val nF1 = fIds19.filter(col("doc_id") >= aw).count()
    val certMap = Amend.amendmentCertificate(spark, aCert)
      .filter(col("store") === "curation" && col("amend") === 1L)
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    // the wave already erased its landing-1 docs, so the amendment's
    // forget leg sees the landing minus them; the insert leg lands the
    // corrected batch minus the re-applied erasure
    val certTrue = certMap.get("old_docs_erased").contains(nOldLanding - nF1) &&
      certMap.get("corrected_docs_landed").contains(nCorr - nFb)
    val reapTrue = Amend.amendmentCertificate(spark, aCert)
      .filter(col("store") === "erasure_reapply" &&
        col("action") === "erasure_reapplied" && col("n") === nFb)
      .count() == 1L
    val aLedger = graft.streaming.Compliance.ledger(spark, Nil,
      amendAuditRoots = Seq(aCert)).localCheckpoint()
    aLedger.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/amendment_ledger")
    val ledgerOk = aLedger.filter(col("store") === "curation" &&
        col("metric") === "amendments" && col("value") === 1L).count() == 1L &&
      aLedger.filter(col("store") === "erasure_reapply" &&
        col("metric") === "erasure_reapplied" && col("value") === nFb)
        .count() == 1L
    val s19 = Stage("amendment", nCorr,
      amendEqual && certTrue && reapTrue && ledgerOk && nFb > 0,
      s"corrected batch of $nCorr docs replaced a $nOldLanding-doc " +
        s"landing after an erasure wave; $nFb forgotten docs dropped " +
        s"from the correction; decisions ≡ corrected-minus-wave rerun: " +
        s"$amendEqual; certificates ground-true: $certTrue", secs = tick())

    // 20. SCHEMA EVOLUTION as a lifecycle stage: the reference declares
    // `on_schema_change='append_new_columns'` for its incremental models
    // (`int_sensor_readings_cleaned.sql:15`); here the same release
    // event sweeps through a DELTA STORE inside the lifecycle — two
    // pre-add landings at cell schema v1, two post-add at v2 (n_alpha
    // appended, marker version bumps), the evolved windowed serve reads
    // the union under the REGISTERED schema (pre-add deltas null-fill),
    // and an in-stage type-change landing must REFUSE loudly. The served
    // totals equal a recompute where the new statistic counts exactly
    // the post-append landings. Self-contained per run.
    val evoDir = s"$outDir/evo_store"
    rmTree(new java.io.File(evoDir))
    aBounds.zipWithIndex.foreach { case (hiB, k) =>
      val loB = if (k == 0) Long.MinValue else aBounds(k - 1)
      graft.streaming.StoreCompaction.writeEvolvedDelta(
        ops.ForgetOps.statCells(
          rdocsFull.filter(col("doc_id") >= loB && col("doc_id") < hiB),
          withAlpha = k >= 2),
        evoDir, k.toLong)
    }
    val evoVersion = graft.streaming.StoreCompaction.cellSchemaOf(evoDir)
      .map(_._1)
    val evoServed = graft.streaming.StoreCompaction
      .readWindowEvolved(spark, evoDir, lo = 0L)
      .groupBy("source")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        coalesce(sum(col("n_alpha")), lit(0L)).cast("long").as("n_alpha"))
      .localCheckpoint()
    save("evolved_stats", evoServed.orderBy("source"))
    val evoExpected = ops.ForgetOps
      .statCells(rdocsFull.filter(col("doc_id") < 2 * aw), withAlpha = false)
      .withColumn("n_alpha", lit(null).cast("long"))
      .unionByName(ops.ForgetOps.statCells(
        rdocsFull.filter(col("doc_id") >= 2 * aw), withAlpha = true))
      .groupBy("source")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        coalesce(sum(col("n_alpha")), lit(0L)).cast("long").as("n_alpha"))
    val evoEqual = evoServed.orderBy("source").collect().toSeq ==
      evoExpected.orderBy("source").collect().toSeq
    val evoRefused =
      try {
        graft.streaming.StoreCompaction.writeEvolvedDelta(
          ops.ForgetOps.statCells(rdocsFull, withAlpha = false)
            .withColumn("n_tokens", col("n_tokens").cast("double")),
          evoDir, 4L)
        false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("type changes") &&
          !new java.io.File(evoDir, "batch_id=4").exists()
      }
    val s20 = Stage("schema_evolution", evoServed.count(),
      evoVersion.contains(2) && evoEqual && evoRefused,
      s"cell schema evolved to v${evoVersion.getOrElse(-1)}; evolved " +
        s"windowed serve ≡ recompute: $evoEqual; in-stage type-change " +
        s"landing refused before writing: $evoRefused", secs = tick())

    Seq(s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s12, s13, s14, s15,
      s16, s17, s18, s19, s20)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.CorpusRun <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Sessions.fromEnv()
    val stages = run(spark, sfDir, outDir)
    stages.foreach { st =>
      val mark = if (st.ok) "ok  " else "FAIL"
      println(f"[corpus] $mark ${st.name}%-16s ${st.secs}%7.1f s rows=${st.rows}%-8d ${st.detail}")
    }
    println(f"[corpus] total ${stages.map(_.secs).sum}%.1f s over ${stages.size} stages")
    println(s"[corpus] artifacts at $outDir")
    spark.stop()
    if (!stages.forall(_.ok)) sys.exit(1)
  }
}
