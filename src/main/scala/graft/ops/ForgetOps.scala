package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog
import graft.exec.DerivedStore
import graft.queries.Q
import graft.streaming.{CellStore, CorpusStream, CurationStream, EmbeddingStream, Forget, LshStream}

/** q200-q202 — right-to-be-forgotten over the artifact stores, end to
  * end: a deterministic forget set (doc_id % 17 = 3, ~6 % of the corpus)
  * is erased from a two-landing LM cell store (negative-delta landing)
  * and a two-landing keep-earliest band store (surgical delete +
  * keeper re-election), and the served results must equal a RETRAIN /
  * RE-DEDUP on the surviving corpus — the oracle literally recomputes
  * everything `WHERE doc_id % 17 <> 3`. The audit query proves absence
  * and pins the O(affected) cost surface (rows removed, rows
  * re-elected) against SQL-derived ground truth.
  *
  * Mechanics in [[graft.streaming.Forget]]; scale story there too
  * (negative cells are an O(|forgotten|) append; identity-store erasure
  * rewrites only partitions holding a forgotten row; re-election work is
  * bounded by the forgotten docs' bucket occupancy, never a corpus
  * re-dedup).
  */
object ForgetOps {

  private def docs(s: SparkSession, dir: String) =
    Catalog.table(s, dir, "documents")

  /** The deterministic forget set: doc_id ≡ 3 (mod 17). */
  val ForgetMod = 17L
  val ForgetRes = 3L
  private def forgottenPred =
    pmod(col("doc_id"), lit(ForgetMod)) === lit(ForgetRes)
  private val survivorsSql =
    s"(SELECT * FROM documents WHERE doc_id % $ForgetMod <> $ForgetRes)"

  // ── id-ordered landings ───────────────────────────────────────────────

  /** The width of `n` id-ordered landings of `d`: max(doc_id) / n. */
  private def landingWidth(d: DataFrame, n: Int): Long =
    d.agg(max(col("doc_id"))).head().getLong(0) / n

  /** Lands `d` as `n` id-ordered slices of width `w` through `land(slice,
    * k)`: slice k holds the doc_ids in [k·w, (k+1)·w), the first open
    * below and the last open above.
    */
  private def landSlices(d: DataFrame, n: Int, w: Long)(
      land: (DataFrame, Long) => Unit): Unit =
    (0 until n).foreach { k =>
      val id = col("doc_id")
      land(d.filter(
        if (k == 0) id < w
        else if (k == n - 1) id >= k * w
        else id >= k * w && id < (k + 1) * w), k.toLong)
    }

  private def landSlices(d: DataFrame, n: Int)(
      land: (DataFrame, Long) => Unit): Unit =
    landSlices(d, n, landingWidth(d, n))(land)

  /** Each doc's slice under [[landSlices]]: the `src_batch` a split forget
    * negates.
    */
  private def landingOf(w: Long, n: Int): Column =
    (1 until n - 1).foldLeft(when(col("doc_id") < w, 0L)) { (c, k) =>
      c.when(col("doc_id") < (k + 1) * w, k.toLong)
    }.otherwise(n - 1L)

  // ── the LM store with a forget landing ────────────────────────────────

  /** Two id-ordered LM cell landings (split at max(doc_id)/2), then the
    * forget landing: batch 2 = the forgotten docs' cells NEGATED.
    * Idempotent.
    */
  def buildLmForgetStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("lm_forget", dir, "documents") { root =>
      val d = docs(s, dir)
      landSlices(d, 2)((sl, k) => CorpusStream.lmStore(root).land(sl, k))
      CorpusStream.lmStore(root).forget(d.filter(forgottenPred), 2L)
    }

  private def q200OracleSql: String = TextOps.fluencyOracleSql(survivorsSql)

  /** q200 — fluency AFTER FORGETTING: the LM store erases the forget set
    * by landing ONE negative cell delta (no rewrite — the fold algebra
    * absorbs it), and scoring the survivors against the folded counts
    * must equal batch q101 retrained from scratch on the surviving
    * corpus. The oracle IS that retrain. Erasure cost: O(|forgotten|)
    * cells appended, zero store rewrites — the additive-store property
    * that makes per-request GDPR erasure affordable on a 100 TB corpus's
    * count models.
    */
  val q200 = Q("q200_lm_forget", q200OracleSql) { (s, dir) =>
    val store = buildLmForgetStore(s, dir)
    val survivors = docs(s, dir).filter(!forgottenPred)
    TextOps.fluencyScores(survivors,
      Some(CorpusStream.lmStore(store).servedAt(s)))
  }

  // ── the band store with forget + re-election ──────────────────────────

  /** Two id-ordered band-store landings, then the forget pass
    * ([[Forget.reelectBandStores]]); the forget report is persisted
    * beside the stores for q202. Idempotent.
    * Returns (indexDir, decisionsDir, reportDir).
    */
  def buildLshForgetStore(s: SparkSession, dir: String): (String, String, String) = {
    val root = DerivedStore.cached("lsh_forget", dir, "documents") { root =>
      val (idx, dec, rep) = (s"$root/index", s"$root/decisions", s"$root/report")
      val d = docs(s, dir).select("doc_id", "source", "text")
      landSlices(d, 2)((sl, k) => LshStream.processBatch(sl, idx, dec, k))
      val fIds = d.filter(forgottenPred).select("doc_id")
      val r = Forget.reelectBandStores(s, idx, dec, fIds)
      import s.implicits._
      Seq((fIds.count(), r.index.rowsRemoved, r.decisions.rowsRemoved,
          r.nReelected, r.index.nRewritten.toLong, r.decisions.nRewritten.toLong))
        .toDF("n_forgotten", "idx_rows_removed", "dec_rows_removed",
          "n_reelected", "idx_parts_rewritten", "dec_parts_rewritten")
        .coalesce(1).write.mode("overwrite").parquet(rep)
    }
    (s"$root/index", s"$root/decisions", s"$root/report")
  }

  private def q201OracleSql: String = Dedup.keepEarliestOracleSql(survivorsSql)

  /** q201 — keep-earliest dedup AFTER FORGETTING, with keeper
    * RE-ELECTION: erasing the forget set from the band index + decision
    * stores and re-electing among survivors must reproduce q124 run from
    * scratch on the surviving corpus — a forgotten keeper's duplicates
    * re-point at the earliest surviving family member, which becomes a
    * keeper itself. Served straight off the mutated decision store
    * (first-verdict-wins reader, zero text scans — the corrective
    * landing is an ordinary batch partition). Re-election work is
    * bounded by the forgotten docs' band-bucket occupancy.
    */
  val q201 = Q("q201_forget_reelect", q201OracleSql) { (s, dir) =>
    val (_, dec, _) = buildLshForgetStore(s, dir)
    LshStream.decisions(s, dec)
  }

  private def q202OracleSql: String = {
    s"""WITH ${OracleSql.shingleCtes()}, ${Dedup.lshBandCtes}, fban AS (
       |  SELECT DISTINCT band_idx, band_hash FROM bands
       |  WHERE doc_id % $ForgetMod = $ForgetRes
       |), aff AS (
       |  SELECT DISTINCT b.doc_id FROM bands b
       |  JOIN fban f ON b.band_idx = f.band_idx AND b.band_hash = f.band_hash
       |  WHERE b.doc_id % $ForgetMod <> $ForgetRes
       |)
       |SELECT
       |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % $ForgetMod = $ForgetRes) AS BIGINT) AS n_forgotten,
       |  -- derived from the bands CTE, not a 16x constant: a forgotten doc
       |  -- with <3 shingles owns no band rows, and the report counts truth
       |  CAST((SELECT COUNT(*) FROM bands WHERE doc_id % $ForgetMod = $ForgetRes) AS BIGINT) AS idx_rows_removed,
       |  -- every landed doc gets exactly one decision row (disjoint landings)
       |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % $ForgetMod = $ForgetRes) AS BIGINT) AS dec_rows_removed,
       |  CAST((SELECT COUNT(*) FROM aff) AS BIGINT) AS n_reelected,
       |  CAST(0 AS BIGINT) AS idx_forgotten_left,
       |  CAST(0 AS BIGINT) AS dec_forgotten_left""".stripMargin
  }

  /** q202 — the forget AUDIT: absence proof + cost surface. The store's
    * persisted forget report (rows removed per store, docs re-elected)
    * must match SQL-derived ground truth (16 band rows and 1 decision row
    * per forgotten doc; re-elected = survivors sharing a band bucket
    * with a forgotten doc), and a recount of forgotten ids across both
    * mutated stores must be ZERO — the compliance check that the erasure
    * actually erased.
    */
  val q202 = Q("q202_forget_audit", q202OracleSql) { (s, dir) =>
    val (idx, dec, rep) = buildLshForgetStore(s, dir)
    val fIds = docs(s, dir).filter(forgottenPred).select("doc_id")
    val idxLeft = s.read.parquet(idx).join(fIds, Seq("doc_id"), "left_semi").count()
    val decLeft = s.read.parquet(dec).join(fIds, Seq("doc_id"), "left_semi").count()
    s.read.parquet(rep)
      .select(col("n_forgotten"), col("idx_rows_removed"),
        col("dec_rows_removed"), col("n_reelected"),
        lit(idxLeft).as("idx_forgotten_left"),
        lit(decLeft).as("dec_forgotten_left"))
  }

  // ── the diversity store with a forget landing ─────────────────────────

  /** Two diversity-cell landings, then the negative forget landing on
    * both stores. Idempotent. Returns (dimDir, statDir).
    */
  def buildDivForgetStore(s: SparkSession, dir: String): (String, String) = {
    val root = DerivedStore.cached("div_forget", dir, "documents") { root =>
      val (dims, stats) = (s"$root/dims", s"$root/stats")
      val d = docs(s, dir)
      landSlices(d, 2)((sl, k) => CellStore.land(sl, k, CorpusStream.divStores(dims, stats)))
      CellStore.forget(d.filter(forgottenPred), 2L, CorpusStream.divStores(dims, stats))
    }
    (s"$root/dims", s"$root/stats")
  }

  private def q203OracleSql: String = Similarity.q178OracleSql(survivorsSql)

  /** q203 — diversity AFTER FORGETTING: the negative-cell erasure law
    * ([[graft.streaming.CellStore.forget]]) on a TWO-store family —
    * one negated landing on the dimension-sum and stat stores makes the
    * served per-source diversity equal q178 recomputed on the surviving
    * corpus (the centroid identity is linear in exactly the sums the
    * cells carry, so erasure distributes through it). Oracle = q178's SQL
    * over the survivors. With q200 this pins the law across store
    * families: any SUM-cell store in the system is erasable by one
    * O(|forgotten|) append.
    */
  val q203 = Q("q203_diversity_forget", q203OracleSql) { (s, dir) =>
    val (dims, stats) = buildDivForgetStore(s, dir)
    CorpusStream.diversityFromDeltas(s, dims, stats)
  }

  // ── curation amnesia: forget + replay through the full store family ──

  /** Replayed copies land at doc_id + ReplayOffset (far above any
    * fixture id, SQL-expressible on both sides).
    */
  val ReplayOffset = 1000000L

  /** Batch 0 = the full corpus through `CurationStream.processBatch`;
    * then the forget set is erased from all five stores with two-level
    * re-election (corrective partition 1); then batch 2 REPLAYS exact
    * copies of the forgotten docs' content under new ids — the amnesia
    * probe: the family must decide them from scratch. Idempotent.
    * Returns the family root.
    */
  def buildCurationForgetStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("cur_forget", dir, "documents") { root =>
      val d = docs(s, dir).select("doc_id", "text", "source")
      val stores = CurationStream.Layout(root)
      CurationStream.processBatch(d, stores, 0L)
      Forget.forgetFromCurationStores(s, root,
        d.filter(forgottenPred).select("doc_id"), correctiveId = 1L)
      val replay = d.filter(forgottenPred)
        .select((col("doc_id") + lit(ReplayOffset)).as("doc_id"),
          col("text"), col("source"))
      CurationStream.processBatch(replay, stores, 2L)
    }

  private def q204OracleSql: String = {
    val modified =
      s"""(SELECT doc_id, text, source FROM documents WHERE doc_id % $ForgetMod <> $ForgetRes
         |   UNION ALL
         |   SELECT doc_id + $ReplayOffset AS doc_id, text, source FROM documents
         |   WHERE doc_id % $ForgetMod = $ForgetRes)""".stripMargin
    s"""${Dedup.curationVerdictCtes(modified)}
       |SELECT e.doc_id, e.is_exact_dup, e.exact_dup_of,
       |  v.n_earlier, v.dup_of, v.is_band_dup
       |FROM exact e LEFT JOIN verdicts v ON e.doc_id = v.doc_id
       |ORDER BY e.doc_id""".stripMargin
  }

  /** q204 — CURATION AMNESIA end to end: after erasing the forget set
    * from the full curation family (fp history, band index, decisions,
    * accepted/quarantine — with exact-ownership AND band-keeper
    * re-election, [[graft.streaming.Forget.forgetFromCurationStores]]),
    * exact copies of the forgotten content are REPLAYED under new ids,
    * and the family's complete decision table must equal q127 computed
    * from scratch over (survivors ∪ replayed copies). That one equality
    * carries the whole legal-erasure contract: the store keeps no memory
    * of erased content (replayed unique docs are accepted, not flagged
    * as duplicates of ghosts), orphaned fingerprints transfer to the
    * earliest surviving duplicate (which q127 now shows as an OWNER —
    * formerly-quarantined content re-admitted), remaining duplicates
    * re-point, and band families that lost or gained a keeper re-rank
    * in both directions. Serving is a pure decisions-store read.
    */
  val q204 = Q("q204_curation_amnesia", q204OracleSql) { (s, dir) =>
    s.read.parquet(CurationStream.Layout(buildCurationForgetStore(s, dir)).decisions)
      .select(CurationStream.DecisionCols.map(col): _*)
      .orderBy("doc_id")
  }

  // ── k-anonymity after erasure ──────────────────────────────────────

  /** Two QI-cell landings, then the negative forget landing.
    * Idempotent. Returns the delta dir.
    */
  def buildKAnonForgetStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("kanon_forget", dir, "documents") { root =>
      val d = docs(s, dir)
      landSlices(d, 2)((sl, k) => CorpusStream.kAnonStore(root).land(sl, k))
      CorpusStream.kAnonStore(root).forget(d.filter(forgottenPred), 2L)
    }

  private def q205OracleSql: String = TextOps.q189OracleSql(survivorsSql)

  /** q205 — k-anonymity AFTER FORGETTING: erasure SHRINKS
    * quasi-identifier groups, so a privacy pass that trusted its
    * pre-erasure audit under-suppresses — a group at exactly k members
    * drops below k when one member is erased, and its remaining docs
    * become re-identification risks. One negative QI-cell landing
    * ([[graft.streaming.CellStore.forget]]) re-serves the q189
    * audit at survivor-exact group sizes (groups folded to zero
    * disappear; negative folds refuse); oracle = q189's SQL over the
    * survivors. The third store family under the negative-cell erasure
    * law — and the one where erasure makes a SAFETY verdict stricter,
    * not just smaller.
    */
  val q205 = Q("q205_kanon_after_forget", q205OracleSql) { (s, dir) =>
    val store = buildKAnonForgetStore(s, dir)
    graft.ops.TextOps.kAnonymityFromCells(
      CorpusStream.kAnonStore(store).servedAt(s))
  }

  // ── round 10: the erasure loop closed over EVERY content-bearing store ──

  private val survivorAnd = s"AND doc_id % $ForgetMod <> $ForgetRes"

  // ── q206: containment trend AFTER forgetting (shingle-index family) ──

  /** Four quartile landings of the shingle-index trend store (q199's
    * exact build), the trend-history pin registered, then the forget
    * set surgically deleted from every landing — erasure MUTATES pinned
    * history by design (legal erasure outranks bit-identical time
    * travel; the pin keeps the slices servable, their VALUES change
    * where the forgotten docs contributed). Idempotent.
    * Returns (deltaDir, bounds).
    */
  def buildTrendForgetStore(s: SparkSession, dir: String): (String, Seq[Long]) = {
    val d = docs(s, dir)
    val q = landingWidth(d, 4)
    val bounds = Seq(q, 2 * q, 3 * q, Long.MaxValue)
    val root = DerivedStore.cached("trend_forget", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      landSlices(d, 4, q)((sl, k) =>
        graft.streaming.ScrubStream.writeShingleDelta(sl, deltas, k))
      graft.streaming.StoreCompaction.registerPin(deltas, "trend_history", 0L)
      Forget.surgicalDelete(s, deltas, d.filter(forgottenPred).select("doc_id"))
    }
    (s"$root/deltas", bounds)
  }

  /** q206 — containment trend AFTER FORGETTING: the q199 trend store is
    * "pinned history" and therefore erasure-hostile BY DESIGN — this
    * query proves the resolution: a surgical delete removes the
    * forgotten docs' (h, doc_id) rows from every landing (only
    * partitions holding one are rewritten), the history pin stays live
    * and servable, and the full containment-over-time trend re-serves
    * at survivor-exact values at EVERY pin. Oracle: q199's four-landing
    * SQL over the surviving corpus. The identity-store erasure law on
    * the shingle-index family — the same mechanics cover the q185
    * serving index and the q198 release-delta store (one row shape).
    */
  val q206 = Q("q206_trend_forget",
    Dedup.q199OracleSql(s"doc_id >= 50 $survivorAnd")) { (s, dir) =>
    val (deltas, bounds) = buildTrendForgetStore(s, dir)
    graft.streaming.ScrubStream.containmentTrend(
      s, deltas, docs(s, dir).filter(!forgottenPred), bounds)
  }

  // ── q207: scrub verdict store AFTER forgetting ────────────────────────

  /** Two id-ordered scrub-store landings (the streaming sink's batch
    * path), then the forget set surgically deleted. Idempotent.
    */
  def buildScrubForgetStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("scrub_forget", dir, "documents") { root =>
      val rows = s"$root/rows"
      val benchRoot = graft.streaming.ScrubStream.buildBenchArtifact(s, dir)
      val bench = s.read.parquet(s"$benchRoot/hashes").localCheckpoint()
      val corpus = docs(s, dir).filter(col("doc_id") >= 50)
        .select(col("doc_id"), col("text"), col("source"))
      landSlices(corpus, 2)((sl, b) =>
        graft.streaming.ScrubStream.batchScrub(sl, bench)
          .write.mode("overwrite").parquet(s"$rows/batch_id=$b"))
      Forget.surgicalDelete(s, rows,
        docs(s, dir).filter(forgottenPred).select("doc_id"))
    }
    s"$root/rows"
  }

  /** q207 — the decontamination dashboard AFTER FORGETTING: the scrub
    * verdict store (per-doc rows q141 serves off) erases by surgical
    * partition delete, and the per-source contamination report then
    * equals the batch scrub chain run on the surviving corpus — the
    * GDPR path for the q136-q143 family (verdict rows are doc-derived
    * content: token counts, scrubbed fingerprints). Zero corpus or
    * benchmark rescans: erasure cost is the affected verdict partitions.
    */
  val q207 = Q("q207_scrub_forget",
    Dedup.q141OracleSql(s"doc_id >= 50 $survivorAnd")) {
    (s, dir) =>
      val rows = buildScrubForgetStore(s, dir)
      Dedup.scrubReport(s.read.parquet(rows))
  }

  // ── q208: embedding history + semantic decisions AFTER forgetting ─────

  /** Two id-ordered landings of the streamed SemDeDup store pair
    * (history vectors + scoreBatch decisions, clusters assigned by the
    * q104 learned quantizer treated as FROZEN), then the forget pass
    * ([[graft.streaming.Forget.reelectSemanticStores]]). Idempotent.
    * Returns (historyDir, decisionsDir).
    */
  def buildSemanticForgetStore(s: SparkSession, dir: String): (String, String) = {
    val root = DerivedStore.cached("sem_forget", dir, "documents") { root =>
      val (hist, dec) = (s"$root/history", s"$root/decisions")
      val e = Catalog.table(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.ops.Similarity.asDouble(col("embedding")).as("v"))
        .localCheckpoint()
      val asg = graft.ops.Similarity
        .semanticDedup(e, k = graft.ops.Similarity.SemK, maxIters = 2)
        .select("vec_id", "cluster")
      val m = e.join(asg, Seq("vec_id"))
        .select("vec_id", "cluster", "v").localCheckpoint()
      val cut = m.agg(max(col("vec_id"))).head().getLong(0) / 2
      val b0 = m.filter(col("vec_id") < cut).localCheckpoint()
      val b1 = m.filter(col("vec_id") >= cut).localCheckpoint()
      b0.write.mode("overwrite").parquet(s"$hist/batch_id=0")
      b1.write.mode("overwrite").parquet(s"$hist/batch_id=1")
      graft.streaming.EmbeddingStream.scoreBatch(b0, b0.filter(lit(false)))
        .write.mode("overwrite").parquet(s"$dec/batch_id=0")
      graft.streaming.EmbeddingStream.scoreBatch(b1, b0)
        .write.mode("overwrite").parquet(s"$dec/batch_id=1")
      Forget.reelectSemanticStores(s, hist, dec,
        m.filter(forgottenVecPred).select("vec_id"))
    }
    (s"$root/history", s"$root/decisions")
  }

  private def forgottenVecPred =
    pmod(col("vec_id"), lit(ForgetMod)) === lit(ForgetRes)

  /** q208 — SEMANTIC DEDUP AFTER FORGETTING: erasing vectors from the
    * streamed SemDeDup stores (the literal embeddings leave disk —
    * derived content is as identifying as the text) with
    * cluster-bounded keeper re-election must reproduce q104's learned-
    * cluster dedup computed from scratch on the surviving vectors —
    * a forgotten semantic keeper's near-duplicates re-point at the
    * earliest surviving cluster member. The quantizer stays FROZEN
    * (erasure governs serving stores; its k aggregate centroids retain
    * no per-vector content, and retraining is q132's rebuild trigger's
    * job), so the oracle assigns clusters over the full table and
    * re-elects among survivors. Work is bounded by the affected
    * clusters' occupancy — never a corpus re-embed.
    */
  val q208 = Q("q208_semantic_forget",
    Similarity.q104OracleSql(s" WHERE a.vec_id % $ForgetMod <> $ForgetRes")) { (s, dir) =>
    val (_, dec) = buildSemanticForgetStore(s, dir)
    s.read.parquet(dec)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("max_prior_sim"), col("dup_of"), col("is_semantic_dup"))
      .orderBy("vec_id")
  }

  // ── q209: span window store AFTER forgetting (MIN re-election) ────────

  /** Two id-ordered span-cell landings, then the first-occurrence
    * re-election forget pass. Idempotent. Returns the delta dir.
    */
  def buildSpanForgetStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("span_forget", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val d = docs(s, dir).select("doc_id", "text")
      landSlices(d, 2)((sl, k) => CorpusStream.spanStore(deltas).land(sl, k))
      Forget.forgetSpanCells(s, deltas, d.filter(forgottenPred),
        d.filter(!forgottenPred), correctiveId = 2L)
    }
    s"$root/deltas"
  }

  /** q209 — SPAN SCRUB AFTER FORGETTING: the window store's `first_key`
    * is a MIN over occurrences, NOT sum-negatable — a forgotten doc that
    * held a window's first occurrence must hand the attribution to the
    * earliest SURVIVING occurrence, or every survivor's scrub plan cuts
    * against a ghost. [[graft.streaming.Forget.forgetSpanCells]]
    * surgically deletes the affected hashes' rows and lands survivor-
    * recomputed cells for exactly those hashes; the served q182 plan for
    * the survivors then equals the batch plan over the surviving corpus
    * — keep-first dedup with the ghosts genuinely gone (a span that was
    * only duplicated against forgotten content is no longer cut).
    */
  val q209 = Q("q209_span_forget",
    Mining.q182OracleSql(survivorsSql)) {
    (s, dir) =>
      val deltas = buildSpanForgetStore(s, dir)
      CorpusStream.spanScrubFromDeltas(s, deltas,
        docs(s, dir).filter(!forgottenPred).select("doc_id", "text"))
  }

  // ── q210: CDC chunk store AFTER forgetting (negative cells) ───────────

  /** Two id-ordered CDC landings on both stores, then the negative
    * forget landing. Idempotent. Returns (chunkDir, docDir).
    */
  def buildCdcForgetStore(s: SparkSession, dir: String): (String, String) = {
    val root = DerivedStore.cached("cdc_forget", dir, "documents") { root =>
      val (chunks, nd) = (s"$root/chunks", s"$root/docs")
      val d = docs(s, dir).select("doc_id", "source", "text")
      landSlices(d, 2)((sl, k) => CellStore.land(sl, k, CorpusStream.cdcStores(chunks, nd)))
      CellStore.forget(d.filter(forgottenPred), 2L, CorpusStream.cdcStores(chunks, nd))
    }
    (s"$root/chunks", s"$root/docs")
  }

  /** q210 — CDC DUPLICATION AFTER FORGETTING: chunk instance counts are
    * SUM cells and the chunk length `ln` is a constant attribute of the
    * fp (same content → same chunk), so CDC erasure is ONE negative
    * landing per store — no re-election, the insight that keeps this
    * family additive. Chunks whose count folds to zero are tombstones
    * the serve path drops (and negative folds refuse); the per-source
    * duplication report then equals a re-chunk of the surviving corpus.
    * A doc whose chunks were only duplicated against forgotten content
    * correctly stops counting as duplicated.
    */
  val q210 = Q("q210_cdc_forget",
    Dedup.q171OracleSql(survivorsSql)) {
    (s, dir) =>
      val (chunks, nd) = buildCdcForgetStore(s, dir)
      CorpusStream.cdcReportFromDeltas(s, chunks, nd)
  }

  // ── q211: window-majority (code-switch) store AFTER forgetting ────────

  /** Two id-ordered window-majority landings, then the surgical delete.
    * Idempotent. Returns the delta dir.
    */
  def buildCsForgetStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("cs_forget", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val d = docs(s, dir).select("doc_id", "text")
      landSlices(d, 2)((sl, k) => CorpusStream.writeCsDelta(sl, deltas, k))
      Forget.surgicalDelete(s, deltas,
        d.filter(forgottenPred).select("doc_id"))
    }
    s"$root/deltas"
  }

  /** q211 — CODE-SWITCH SEGMENTATION AFTER FORGETTING: the window-
    * majority store's rows are pure per-doc derived content ((doc, w,
    * lang) — a doc's windows never depend on other docs), so erasure is
    * the plain identity surgical delete and the served q195 segmentation
    * over the survivors equals the batch recompute exactly. The simplest
    * store family in the erasure taxonomy — pinned so the wiring exists
    * and stays covered, not because the math is deep.
    */
  val q211 = Q("q211_cs_forget",
    TextOps.q195OracleSql(survivorsSql)) {
    (s, dir) =>
      val deltas = buildCsForgetStore(s, dir)
      CorpusStream.codeSwitchFromDeltas(s, deltas,
        docs(s, dir).filter(!forgottenPred).select("doc_id"))
  }

  // ── q212: asset store AFTER forgetting (the payload bytes leave) ──────

  /** A private copy of the multimodal asset store (kind-partitioned
    * payload binaries), then the forget set's payload rows surgically
    * deleted — `partCol = "kind"`, proving the surgical mechanics on a
    * non-batchId partitioning. Idempotent. Returns the store path.
    */
  def buildAssetForgetStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("asset_forget", dir, "documents") { root =>
      s.read.parquet(graft.ops.Multimodal.buildAssetStore(s, dir))
        .repartition(col("kind"))
        .write.partitionBy("kind").mode("overwrite").parquet(root)
      Forget.surgicalDelete(s, root,
        docs(s, dir).filter(forgottenPred).select("doc_id"),
        partCol = "kind")
    }

  /** q212 — ASSET-STORE ERASURE AUDIT: the round-9 verdict's sharpest
    * compliance gap — "nothing ever deletes the payload bytes" — closed
    * and audited: after the surgical delete, every payload family holds
    * exactly the surviving docs' rows (count + id mass) and a recount of
    * forgotten ids is ZERO across all six kinds. The literal bytes are
    * gone from disk (partition rewrite, not a mask); the spec pins that
    * surviving payloads are bit-identical to a rebuild on survivors. At
    * 100 TB the store would partition by (kind, batch) so the rewrite
    * touches only affected batches; the kind-level fixture proves the
    * generalized partCol mechanics.
    */
  val q212 = Q("q212_asset_forget_audit",
    s"""WITH s AS (SELECT doc_id FROM documents WHERE doc_id % $ForgetMod <> $ForgetRes),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
       |  FROM s
       |)
       |SELECT k.kind, a.n_rows, a.sum_doc_id,
       |  CAST(0 AS BIGINT) AS n_forgotten_left
       |FROM (VALUES ('bmp2x1'), ('grid_bmp'), ('grid_bmp_sparse'),
       |  ('wav4'), ('wav64'), ('wav64_sparse')) k(kind)
       |CROSS JOIN agg a
       |ORDER BY k.kind""".stripMargin) { (s, dir) =>
    val store = buildAssetForgetStore(s, dir)
    val fIds = docs(s, dir).filter(forgottenPred).select("doc_id")
    assetAudit(s.read.parquet(store), fIds, "n_forgotten_left")
  }

  /** Per payload kind of `assets`: row count, id mass, and the rows left
    * whose doc is in `gone` (as `leftCol`).
    */
  private def assetAudit(assets: DataFrame, gone: DataFrame, leftCol: String): DataFrame = {
    val left = assets.join(broadcast(gone), Seq("doc_id"), "left_semi")
      .groupBy("kind").agg(count(lit(1)).as("n_left"))
    assets.groupBy("kind")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).cast("long").as("sum_doc_id"))
      .join(left, Seq("kind"), "left")
      .select(col("kind"), col("n_rows"), col("sum_doc_id"),
        coalesce(col("n_left"), lit(0L)).as(leftCol))
      .orderBy("kind")
  }

  // ── q213: embedding-occupancy cells AFTER forgetting (CellStore) ──────

  /** The frozen quantizer (the round-1 fixed-point centroids whose
    * cosine argmax IS the q104/q130 `asg2` assignment), two snapshot-
    * tagged occupancy landings split at max(vec_id)/2 (snapshots =
    * vec_id parity), then the negative forget landing through the
    * GENERIC [[graft.streaming.CellStore]] erasure — the same
    * entry every eval/feature/MW cell store uses, so this build is the
    * symmetry proof that any add-mergeable store in the system erases
    * with one negated landing. Idempotent. Returns
    * (deltaDir, centroidPath).
    */
  def buildOccForgetStore(s: SparkSession, dir: String): (String, String) = {
    val root = DerivedStore.cached("occ_forget", dir, "documents") { root =>
      val (deltas, cents) = (s"$root/deltas", s"$root/centroids")
      val e = Catalog.table(s, dir, "embeddings")
      val ed = e.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val init = ed.select(col("vec_id"), col("v"),
        pmod(Dedup.h60Col(concat(lit("sem:"), col("vec_id").cast("string"))),
          lit(Similarity.SemK.toLong)).cast("int").as("init"))
      val asg1 = Similarity.kmeans(init, "init", maxIters = 1)._1
      Similarity.fixedPointCentroids(
          ed.join(asg1, "vec_id").select(col("cluster"), col("v")), "cluster")
        .select(col("cluster").cast("int").as("label"), col("c").as("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(cents)
      val snap = e.select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(2L)).as("snapshot_id"))
      val cut = snap.agg(max(col("vec_id"))).head().getLong(0) / 2
      val occ = EmbeddingStream.occupancyStore(deltas, cents)
      occ.land(snap.filter(col("vec_id") < cut), 0L)
      occ.land(snap.filter(col("vec_id") >= cut), 1L)
      occ.forget(snap.filter(forgottenVecPred), 2L)
    }
    (s"$root/deltas", s"$root/centroids")
  }

  private def q213OracleSql: String =
    s"""WITH ${Similarity.frozenAsgChainSql},
       |asg AS (
       |  SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM asg2
       |  WHERE vec_id % $ForgetMod <> $ForgetRes
       |), tagged AS (
       |  SELECT vec_id, cluster, vec_id % 2 AS snap FROM asg
       |), ca AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS na FROM tagged WHERE snap = 0 GROUP BY 1
       |), cb AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS nb FROM tagged WHERE snap = 1 GROUP BY 1
       |), ${Similarity.occupancyChi2TailSql}
       |ORDER BY cluster""".stripMargin

  /** q213 — OCCUPANCY DRIFT AFTER FORGETTING: the last cell-store family
    * without an erasure audit (the round-10 handoff's symmetry gap).
    * Forgetting vectors lands their (snapshot, cluster) counts negated
    * through the generic CellStore erasure — the forgotten vectors
    * re-assigned against the SAME frozen quantizer the sink uses, so the
    * folded occupancy equals a recount over the survivors and the served
    * q130 pair-χ² statistic (snapshot A vs B) is survivor-exact: the
    * drift dashboard stops counting erased vectors the moment the forget
    * lands, with zero vector rescans and zero store rewrites. Cells
    * folded to zero are tombstones the serve path drops (and negative
    * folds refuse). Oracle: the unrolled frozen-assign chain filtered to
    * survivors, recounted per (parity-snapshot, cluster), through the
    * exact χ² tail.
    */
  val q213 = Q("q213_occupancy_forget", q213OracleSql) { (s, dir) =>
    val (deltas, cents) = buildOccForgetStore(s, dir)
    EmbeddingStream.occupancyPairFromDeltas(s,
      EmbeddingStream.occupancyStore(deltas, cents), 0L, 1L)
  }

  // ── q214: a release pin SURVIVES erasure (pin-preserving split forget) ──

  /** Four quartile LM landings (batches 0-3 by doc_id), the release pin
    * registered at batch 1 — and THEN the forget wave, landed
    * PIN-PRESERVINGLY ([[graft.streaming.CellStore.forgetSplit]]):
    * one negative delta per source batch the forgotten docs span, ids
    * encoding the source batch, NO forget horizon sealed. The pin stays
    * registered and legal throughout. Idempotent.
    * Returns (deltaDir, the pin slice's doc_id bound).
    */
  def buildLmPinForgetStore(s: SparkSession, dir: String): (String, Long) = {
    val d = docs(s, dir)
    val q = landingWidth(d, 4)
    val root = DerivedStore.cached("lmpin_forget", dir, "documents") { root =>
      landSlices(d, 4, q)((sl, k) => CorpusStream.lmStore(root).land(sl, k))
      graft.streaming.StoreCompaction.registerPin(root, "release_b1", 1L)
      val forgotten = d.filter(forgottenPred)
        .withColumn("src_batch", landingOf(q, 4))
      CorpusStream.lmStore(root).forgetSplit(forgotten, requestId = 0L)
    }
    (root, 2 * q)
  }

  private val pinnedSurvivorsSql =
    s"""(SELECT * FROM documents
       | WHERE doc_id % $ForgetMod <> $ForgetRes
       |   AND doc_id < (SELECT (MAX(doc_id) // 4) * 2 FROM documents))""".stripMargin

  /** q214 — a RELEASE PIN SURVIVES ERASURE: the refinement the round-10
    * soak demanded. A whole-wave negative landing is an aggregate
    * correction, so it seals the store's forget horizon and a release
    * pinned BELOW a later wave's frontier refuses to serve. When the
    * content archive records each doc's original landing batch, the wave
    * can land ONE NEGATIVE DELTA PER SOURCE BATCH instead
    * ([[graft.streaming.CellStore.forgetSplit]]), each under an id
    * encoding the batch it negates — and every pinned read then folds
    * exactly the negatives inside its slice
    * ([[graft.streaming.StoreCompaction.pinnedReadFilter]], all
    * partition-pruned). This query serves the batch-1 release pinned
    * BEFORE the wave: fluency of the pin slice's survivors against the
    * pinned post-forget counts must equal a retrain on (docs landed in
    * batches 0-1) minus (their forgotten members) — the release still
    * serves, the erased docs are gone from it retroactively, and no
    * horizon refusal fires. Cost: k = |landings the forgotten docs span|
    * small appends instead of one, still zero store rewrites.
    */
  val q214 = Q("q214_pinned_forget",
    TextOps.fluencyOracleSql(pinnedSurvivorsSql)) { (s, dir) =>
    val (store, cut2) = buildLmPinForgetStore(s, dir)
    // the law under test: the pin registered before the wave is STILL
    // servable (a whole-wave forget would have sealed the horizon at 3
    // and made this raise)
    graft.streaming.StoreCompaction.requireServableAt(store, 1L)
    val pinnedSurvivors = docs(s, dir)
      .filter(!forgottenPred && col("doc_id") < cut2)
    TextOps.fluencyScores(pinnedSurvivors,
      Some(CorpusStream.lmStore(store).servedAt(s, upto = 1L)))
  }

  // ── q215: retention expiry + windowed serving + split forget compose ──

  /** Four quartile LM landings, a pin-preserving (split) forget wave,
    * then RETENTION EXPIRY of the two oldest landings
    * ([[graft.streaming.StoreCompaction.expireBefore]]): batches 0-1
    * leave disk as pure partition drops — and the split negatives for
    * source batches 0-1 leave WITH them, because an erasure correction
    * for expired content is itself expired. Idempotent.
    * Returns (deltaDir, the window's doc_id floor).
    */
  def buildLmTtlStore(s: SparkSession, dir: String): (String, Long) = {
    val d = docs(s, dir)
    val q = landingWidth(d, 4)
    val root = DerivedStore.cached("lmttl", dir, "documents") { root =>
      landSlices(d, 4, q)((sl, k) => CorpusStream.lmStore(root).land(sl, k))
      val forgotten = d.filter(forgottenPred)
        .withColumn("src_batch", landingOf(q, 4))
      CorpusStream.lmStore(root).forgetSplit(forgotten, requestId = 0L)
      graft.streaming.StoreCompaction.expireBefore(root, lo = 2L)
    }
    (root, 2 * q)
  }

  private val windowSurvivorsSql =
    s"""(SELECT * FROM documents
       | WHERE doc_id % $ForgetMod <> $ForgetRes
       |   AND doc_id >= (SELECT (MAX(doc_id) // 4) * 2 FROM documents))""".stripMargin

  /** q215 — RETENTION EXPIRY: the age-based dual of doc-level forget. A
    * 100 TB corpus under licensing windows or privacy retention limits
    * expires whole LANDINGS, and on a per-batchId delta store that is
    * pure partition drops — O(dropped landings) file deletes, zero
    * rewrites, zero jobs ([[graft.streaming.StoreCompaction
    * .expireBefore]], with the wrong shapes refused loudly: live pins,
    * folded bases, whole-wave negatives, in-flight forgets). Serving
    * switches to WINDOWED reads: this query scores the retained window's
    * survivors against the windowed post-forget counts, which must equal
    * a retrain on (docs of the two retained landings) minus (their
    * forgotten members) — retention, erasure, and serving composing on
    * one store. The split-forget design is what makes the composition
    * work: each negative belongs to the source batch it negates, so it
    * windows correctly AND expires with its batch (a whole-wave negative
    * can do neither).
    */
  val q215 = Q("q215_retention_window",
    TextOps.fluencyOracleSql(windowSurvivorsSql)) { (s, dir) =>
    val (store, cut2) = buildLmTtlStore(s, dir)
    val windowSurvivors = docs(s, dir)
      .filter(!forgottenPred && col("doc_id") >= cut2)
    TextOps.fluencyScores(windowSurvivors,
      Some(CorpusStream.lmStore(store).servedWindow(s, lo = 2L)))
  }

  // ── q216: ANN retrieval AFTER erasure (file-level surgical delete) ────

  /** A private copy of the q97/q99 PQ code artifact laid out as an
    * append-per-landing store is on disk — plain part-FILES whose rows
    * cluster by vec_id range (`repartitionByRange`), no batch_id dirs —
    * then the forget set's code rows erased FILE-surgically
    * ([[graft.streaming.Forget.surgicalDeleteFiles]]: one column-pruned
    * detection pass, only files holding a forgotten row rewritten).
    * Idempotent. Returns the store path.
    */
  def buildPqForgetStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("pq_forget", dir, "documents") { root =>
      s.read.parquet(Similarity.buildPqIndex(s, dir))
        .repartitionByRange(8, col("vec_id"))
        .write.mode("overwrite").parquet(root)
      Forget.surgicalDeleteFiles(s, root,
        Catalog.table(s, dir, "embeddings")
          .filter(forgottenVecPred).select("vec_id"),
        keyCol = "vec_id")
    }

  /** q216 — RETRIEVAL AFTER ERASURE: the compliance question for the
    * serving surface — an erased vector must stop being RETRIEVABLE,
    * even while the raw embeddings table (the content archive, erased
    * last) still holds it. The PQ code artifact is an UNPARTITIONED
    * parquet store (plain files appended per landing), so erasure is the
    * file-granular surgical delete: detection via `input_file_name`,
    * only files holding a forgotten row rewritten — O(affected files)
    * on a range-clustered store. The q99 IVF-PQ search then runs
    * unchanged off the mutated artifact: candidates join THROUGH the
    * codes store, so forgotten vectors simply no longer exist to score,
    * and the served top-10 (+ the candidate count, which proves the
    * index shrank) equals the search over a survivor-built index. The
    * coarse centroids and seed codebook stay frozen (q97's convention,
    * mirrored by the oracle; a production deployment uses the TRAINED
    * codebook — q107's Lloyd aggregates, which retain no per-vector
    * content — and this erasure applies to its code store unchanged;
    * codebook retraining is q132's rebuild trigger's job).
    */
  val q216 = Q("q216_retrieval_after_forget",
    Similarity.q99OracleSql(s" AND vec_id % $ForgetMod <> $ForgetRes", candidates = true)) {
    (s, dir) =>
      Similarity.pqSearch(s, dir, buildPqForgetStore(s, dir), candidates = true)
  }

  // ── q217: the erasure certificate, ground-truthed ─────────────────────

  /** Six store families (LM, k-anonymity, CDC pair, shingle index,
    * asset payloads) built with their own sink writers (two id-ordered
    * landings each; assets copied kind-partitioned), then ONE streamed
    * forget wave in pin-preserving mode erases the forget set from all
    * of them — and the certificate the sink persists is what q217
    * serves. Idempotent. Returns the marker root.
    */
  def buildCertStores(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("cert", dir, "documents") { root =>
      val markers = s"$root/markers"
      val d = Catalog.table(s, dir, "documents").localCheckpoint()
      val cut = landingWidth(d, 2)
      val (lm, kanon, chunks, nd, shingle, assets) = (s"$root/lm",
        s"$root/kanon", s"$root/chunks", s"$root/nd", s"$root/shingle",
        s"$root/assets")
      landSlices(d, 2, cut) { (sl, b) =>
        CorpusStream.lmStore(lm).land(sl, b)
        CorpusStream.kAnonStore(kanon).land(sl, b)
        CellStore.land(sl, b, CorpusStream.cdcStores(chunks, nd))
        graft.streaming.ScrubStream.writeShingleDelta(sl, shingle, b)
      }
      s.read.parquet(graft.ops.Multimodal.buildAssetStore(s, dir))
        .repartition(col("kind"))
        .write.partitionBy("kind").mode("overwrite").parquet(assets)
      val content = d.withColumn("src_batch", landingOf(cut, 2))
      graft.streaming.ForgetStream.processBatch(
        d.filter(forgottenPred).select("doc_id"), content,
        graft.streaming.ForgetStream.ForgetTargets(
          cellStores = CorpusStream.lmStore(lm) +: CorpusStream.kAnonStore(kanon) +:
            CorpusStream.cdcStores(chunks, nd),
          shingleIndexDirs = Seq(shingle),
          assetStore = Some((assets, "kind")), splitBySrcBatch = true),
        markers, batchId = 0L)
    }
    s"$root/markers"
  }

  /** q217 — the ERASURE CERTIFICATE, ground-truthed: the audit table
    * [[graft.streaming.ForgetStream.processBatch]] persists (one row
    * per store action, written before the request marker) must match
    * counts derived from the DATA alone — split landings equal the
    * distinct source batches the forgotten docs span, the shingle
    * index's removed rows equal the forgotten docs' distinct trigram
    * count (the store's exact row shape), and the asset store's removed
    * rows equal six payload kinds per forgotten doc. q202 proved the
    * band family's external report; this proves the sink's OWN
    * certificate across six families in one wave — the
    * proof-of-erasure a GDPR audit files, with the numbers it files
    * independently recomputable.
    */
  val q217 = Q("q217_erasure_certificate",
    s"""WITH f AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % $ForgetMod = $ForgetRes
       |), srcs AS (
       |  SELECT CAST(COUNT(DISTINCT CASE WHEN doc_id <
       |    (SELECT MAX(doc_id) // 2 FROM documents) THEN 0 ELSE 1 END) AS BIGINT) AS k
       |  FROM f
       |), nf AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f
       |), tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t
       |  FROM f WHERE doc_id >= 50
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(t) >= 3 THEN ${OracleSql.shingleSetSql()} ELSE [] END AS ss FROM tk
       |), shn AS (
       |  SELECT CAST(COALESCE(SUM(len(ss)), 0) AS BIGINT) AS n FROM sh
       |)
       |SELECT * FROM (
       |  VALUES
       |    ('lm', 'negative_split_landing', (SELECT k FROM srcs)),
       |    ('k_anonymity', 'negative_split_landing', (SELECT k FROM srcs)),
       |    ('cdc_chunks', 'negative_split_landing', (SELECT k FROM srcs)),
       |    ('cdc_docs', 'negative_split_landing', (SELECT k FROM srcs)),
       |    ('shingle_index', 'surgical_delete', (SELECT n FROM shn)),
       |    ('asset_payloads', 'surgical_delete', (SELECT n FROM nf) * CAST(6 AS BIGINT))
       |) AS t(family, action, n)
       |ORDER BY family, action""".stripMargin) { (s, dir) =>
    val markers = buildCertStores(s, dir)
    graft.streaming.ForgetStream.erasureCertificate(s, markers)
      .select(col("family"), col("action"), col("n"))
      .orderBy("family", "action")
  }

  // ── q218: containment over a retention window (identity-store TTL) ────

  /** Four quartile landings of the shingle inverted index, the forget
    * set surgically deleted from every landing (identity erasure), then
    * the two oldest landings EXPIRED — the retention lifecycle on an
    * identity store, where expiry needs no negative reconciliation at
    * all (the window is a pure partition slice). Idempotent. Returns
    * (deltaDir, the window's doc_id floor).
    */
  def buildShingleTtlStore(s: SparkSession, dir: String): (String, Long) = {
    val d = docs(s, dir)
    val q = landingWidth(d, 4)
    val root = DerivedStore.cached("shingle_ttl", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      landSlices(d, 4, q) { (sl, k) =>
        graft.streaming.ScrubStream.writeShingleDelta(sl, deltas, k)
      }
      Forget.surgicalDelete(s, deltas, d.filter(forgottenPred).select("doc_id"))
      graft.streaming.StoreCompaction.expireBefore(deltas, 2L)
    }
    (s"$root/deltas", 2 * q)
  }

  /** q218 — CONTAINMENT over a retention window: the identity-store
    * side of q215. The shingle index under retention expires whole
    * landings as partition drops with NO negative-cell reconciliation
    * (its erasure is surgical, so windows are pure partition slices),
    * and the served containment table equals q184 computed over exactly
    * the retained window's surviving corpus — erasure, expiry, and
    * windowed serving composing on the dedup surface. Oracle: the
    * q185/q198 containment SQL with the corpus bounded to the retained
    * window's survivors.
    */
  val q218 = Q("q218_containment_window",
    Dedup.containmentOracleSql(
      s"doc_id >= 50 AND doc_id >= (SELECT (MAX(doc_id) // 4) * 2 FROM documents) " +
        s"AND doc_id % $ForgetMod <> $ForgetRes")) { (s, dir) =>
    val (deltas, cut2) = buildShingleTtlStore(s, dir)
    val spine = docs(s, dir).filter(col("doc_id") >= 50 &&
      col("doc_id") >= cut2 && !forgottenPred)
    graft.streaming.ScrubStream.containmentWindowed(s, deltas, spine, lo = 2L)
  }

  // ── q219/q220: policy-driven epoch folds + the expiry certificate ────

  /** Eight octile LM landings, a pin-preserving (split) forget wave,
    * then the RETENTION LIFECYCLE as a deployment actually runs it:
    * scheduled maintenance with an epoch-banding policy
    * ([[graft.streaming.StoreCompaction.MaintenancePolicy]] `epochSize
    * = 2`, replay margin 3) folds the complete, margin-clear epochs
    * 0-1 into per-epoch base partitions — taking their split negatives
    * with them — and a CERTIFIED expiry
    * ([[graft.streaming.StoreCompaction.expireBeforeCertified]]) then
    * drops everything below batch 6: two whole epochs as single
    * directory drops, two raw landings, and the split negatives that
    * expire with their source batches, with one persisted audit row per
    * action. Idempotent. Returns
    * (deltaDir, auditRoot, the window's doc_id floor).
    */
  def buildLmEpochStore(s: SparkSession, dir: String): (String, String, Long) = {
    val d = docs(s, dir)
    val o = landingWidth(d, 8)
    // the split wave below decodes src_batch with `doc_id div o`: o=0
    // would null the div (non-ANSI) and silently land every negative
    // under least(null, 7) = 7 — refuse loudly on a degenerate fixture
    require(o > 0, s"lm epoch store needs max(doc_id) >= 8, got octile width $o")
    val root = DerivedStore.cached("lmepoch", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val audit = s"$root/expiry_audit"
      landSlices(d, 8, o)((sl, k) => CorpusStream.lmStore(deltas).land(sl, k))
      val forgotten = d.filter(forgottenPred)
        .withColumn("src_batch", least(expr(s"doc_id div $o"), lit(7L)).cast("long"))
      CorpusStream.lmStore(deltas).forgetSplit(forgotten, requestId = 0L)
      val rep = graft.streaming.StoreCompaction.maintain(s, deltas,
        Seq("w1", "w2"), graft.streaming.StoreCompaction.MaintenancePolicy(
          keepLatestDeltas = 3, epochSize = Some(2L)))
      require(rep.epochsFolded == 2L,
        s"the banding policy must fold epochs 0-1 (ends 1, 3 <= margin 4): $rep")
      graft.streaming.StoreCompaction.expireBeforeCertified(s, deltas,
        lo = 6L, audit, storeName = "lm")
    }
    (s"$root/deltas", s"$root/expiry_audit", 6 * o)
  }

  private val epochWindowSurvivorsSql =
    s"""(SELECT * FROM documents
       | WHERE doc_id % $ForgetMod <> $ForgetRes
       |   AND doc_id >= (SELECT (MAX(doc_id) // 8) * 6 FROM documents))""".stripMargin

  /** q219 — EPOCH-BANDED retention, policy-driven: q215 proved expiry
    * as partition drops when the store never folds, leaving partition
    * count O(retention window); this query runs the layout a 100 TB
    * deployment wants — scheduled maintenance bands complete epochs
    * into per-epoch bases (O(window / epochSize) partitions, the
    * listing cost `epochprobe` measures), whole-epoch expiry stays ONE
    * directory drop, and the windowed serve off the mixed layout (raw
    * tail + folded epochs + split negatives riding inside both) must
    * equal a retrain on the retained window's survivors. The oracle IS
    * that retrain.
    */
  val q219 = Q("q219_epoch_window",
    TextOps.fluencyOracleSql(epochWindowSurvivorsSql)) { (s, dir) =>
    val (store, _, cut6) = buildLmEpochStore(s, dir)
    val windowSurvivors = docs(s, dir)
      .filter(!forgottenPred && col("doc_id") >= cut6)
    TextOps.fluencyScores(windowSurvivors,
      Some(CorpusStream.lmStore(store).servedWindow(s, lo = 6L)))
  }

  /** q220 — the EXPIRY CERTIFICATE, ground-truthed: q217's
    * proof-of-erasure discipline extended to age-based deletion. The
    * audit rows [[graft.streaming.StoreCompaction.expireBeforeCertified]]
    * persists for q219's expiry pass must match counts derived from the
    * data alone: two whole epochs dropped (epochs 0-1, banded by the
    * maintenance policy before the floor reached them), two raw
    * landings dropped (batches 4-5), and one expired split negative per
    * source batch in {4, 5} the forgotten docs actually span — the
    * numbers a retention/licensing audit files, independently
    * recomputable.
    */
  val q220 = Q("q220_expiry_certificate",
    s"""WITH o AS (SELECT MAX(doc_id) // 8 AS o FROM documents),
       |sb AS (
       |  SELECT DISTINCT LEAST(doc_id // (SELECT o FROM o), 7) AS b
       |  FROM documents WHERE doc_id % $ForgetMod = $ForgetRes
       |)
       |SELECT store, floor, action, n FROM (
       |  VALUES
       |    ('lm', CAST(6 AS BIGINT), 'epoch_drop', CAST(2 AS BIGINT)),
       |    ('lm', CAST(6 AS BIGINT), 'landing_drop', CAST(2 AS BIGINT)),
       |    ('lm', CAST(6 AS BIGINT), 'split_negative_drop',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM sb WHERE b IN (4, 5)))
       |) AS t(store, floor, action, n)
       |WHERE n > 0
       |ORDER BY action""".stripMargin) { (s, dir) =>
    val (_, audit, _) = buildLmEpochStore(s, dir)
    graft.streaming.StoreCompaction.expiryCertificate(s, audit)
      .select(col("store"), col("floor"), col("action"), col("n"))
      .orderBy("action")
  }

  // ── q221: the LANDED asset store — payload bytes expiring by age ─────

  /** The asset store re-laid as a LANDED table — `batch_id=N/kind=K`,
    * landing batch OUTER so age-based expiry has an axis to drop, payload
    * family INNER so kind scans stay partition-pruned (the layout q212's
    * own scale note prescribes). Four quartile landings of the payload
    * binaries, the forget set's payloads surgically deleted at landing
    * granularity (the rewrite preserves the kind directories —
    * `subPartBy`), then the two oldest landings EXPIRED with a
    * certificate: under a licensing retention window the payload bytes
    * are the FIRST thing that must leave disk, and on this layout they
    * leave as whole directory drops. Idempotent. Returns
    * (storeDir, auditRoot, the window's doc_id floor).
    */
  def buildAssetTtlStore(s: SparkSession, dir: String): (String, String, Long) = {
    val d = docs(s, dir)
    val q = landingWidth(d, 4)
    val root = DerivedStore.cached("asset_ttl", dir, "documents") { root =>
      val store = s"$root/assets"
      val audit = s"$root/expiry_audit"
      val assets = s.read.parquet(Multimodal.buildAssetStore(s, dir))
      landSlices(assets, 4, q) { (sl, k) =>
        sl.repartition(col("kind"))
          .write.partitionBy("kind").mode("overwrite")
          .parquet(s"$store/batch_id=$k")
      }
      Forget.surgicalDelete(s, store,
        d.filter(forgottenPred).select("doc_id"),
        partCol = "batch_id", subPartBy = Seq("kind"))
      graft.streaming.StoreCompaction.expireBeforeCertified(s, store,
        lo = 2L, audit, storeName = "assets")
    }
    (s"$root/assets", s"$root/expiry_audit", 2 * q)
  }

  /** q221 — ASSET PAYLOADS EXPIRING BY AGE: the round-10 verdict's most
    * user-visible gap — the asset store partitioned by `kind` alone, so
    * retention had no axis to drop and only doc-level forget ever
    * reached the media bytes. The landed `batch_id/kind` layout fixes
    * that: expiry drops whole landing directories (payload bytes
    * included — zero jobs, zero rewrites), erasure targets only the
    * landings a forgotten doc's payloads live in, and this query audits
    * the retained window per payload family — row count + id mass over
    * a windowed, metadata-only read (the binary column never leaves the
    * parquet pages) with a recount of forgotten AND expired ids pinned
    * at zero. Equals the q212 audit computed over the retained window's
    * survivors; kind pruning and payload pruning are PlanSpec-pinned on
    * this store.
    */
  val q221 = Q("q221_asset_retention",
    s"""WITH s AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % $ForgetMod <> $ForgetRes
       |    AND doc_id >= (SELECT (MAX(doc_id) // 4) * 2 FROM documents)
       |), agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
       |  FROM s
       |)
       |SELECT k.kind, a.n_rows, a.sum_doc_id,
       |  CAST(0 AS BIGINT) AS n_gone_left
       |FROM (VALUES ('bmp2x1'), ('grid_bmp'), ('grid_bmp_sparse'),
       |  ('wav4'), ('wav64'), ('wav64_sparse')) k(kind)
       |CROSS JOIN agg a
       |ORDER BY k.kind""".stripMargin) { (s, dir) =>
    val (store, _, cut2) = buildAssetTtlStore(s, dir)
    graft.streaming.StoreCompaction.requireWindowServableAt(store, 2L,
      Long.MaxValue)
    val assets = s.read.parquet(store)
      .filter(graft.streaming.StoreCompaction.windowedReadFilter(store, 2L,
        Long.MaxValue))
    // rows that must be GONE from the window: forgotten (erased) or
    // landed below the retention floor (expired)
    val gone = docs(s, dir)
      .filter(forgottenPred || col("doc_id") < cut2).select("doc_id")
    assetAudit(assets, gone, "n_gone_left")
  }

  // ── q222: the DSIR selector trained on a retention window ────────────

  /** Four feature-cell landings sliced by doc_id mod 4 (round-robin
    * landing shards, so the benchmark/target docs spread across every
    * landing instead of concentrating in the oldest), a pin-preserving
    * forget wave, then landings 0-1 expired — the licensing scenario
    * where two of four ingest shards lose their license. Idempotent.
    */
  def buildFeatureTtlStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("feat_ttl", dir, "documents") { root =>
      val d = docs(s, dir)
      (0 until 4).foreach { k =>
        CorpusStream.featureStore(root)
          .land(d.filter(pmod(col("doc_id"), lit(4L)) === k.toLong), k.toLong)
      }
      val forgotten = d.filter(forgottenPred)
        .withColumn("src_batch", pmod(col("doc_id"), lit(4L)))
      CorpusStream.featureStore(root).forgetSplit(forgotten, requestId = 0L)
      graft.streaming.StoreCompaction.expireBefore(root, lo = 2L)
    }

  /** q222 — the DSIR SELECTOR trained on a retention window: "train the
    * selector only on licensed data", operationally. The feature-cell
    * store expires two of its four landing shards; the importance ratio
    * table then trains on the WINDOWED fold ([[graft.streaming
    * .CorpusStream.ratioWindowed]] — split-forget negatives inside the
    * window included) and the joinless in-row apply scores the window's
    * surviving candidates. Must equal q164 run from scratch on exactly
    * the retained landings' survivors — the oracle IS that run. At
    * 100 TB this is the difference between retraining a selector on a
    * re-filtered corpus and folding the cells of the landings still on
    * disk: O(window cells) vs O(corpus).
    */
  val q222 = Q("q222_selector_window",
    Mining.q164OracleSql(s"(SELECT * FROM documents WHERE doc_id % 4 >= 2 " +
      s"AND doc_id % $ForgetMod <> $ForgetRes)")) { (s, dir) =>
    val store = buildFeatureTtlStore(s, dir)
    val ratio = CorpusStream.ratioWindowed(s, store, lo = 2L)
    val windowSurv = docs(s, dir)
      .filter(pmod(col("doc_id"), lit(4L)) >= 2L && !forgottenPred)
    graft.ops.Mining.applyRatio(
        graft.ops.Mining.bigramBuckets(windowSurv), ratio)
      .select("doc_id", "n_bigrams", "score_sum", "score_mean_fp")
      .orderBy("doc_id")
  }

  // ── q223: keep-earliest dedup over a retention window ────────────────

  /** Four id-ordered band-index + decision landings (the streamed dedup
    * sink's exact batch path), the forget set surgically erased from
    * both stores, then the two oldest landings expired on both.
    * Idempotent. Returns (indexDir, the window's doc_id floor).
    */
  def buildLshTtlStore(s: SparkSession, dir: String): (String, Long) = {
    val d = docs(s, dir).select("doc_id", "source", "text")
    val q = landingWidth(d, 4)
    val root = DerivedStore.cached("lsh_ttl", dir, "documents") { root =>
      val (idx, dec) = (s"$root/index", s"$root/decisions")
      landSlices(d, 4, q)((sl, k) => LshStream.processBatch(sl, idx, dec, k))
      val fIds = d.filter(forgottenPred).select("doc_id")
      Forget.surgicalDelete(s, idx, fIds)
      Forget.surgicalDelete(s, dec, fIds)
      graft.streaming.StoreCompaction.expireBefore(idx, 2L)
      graft.streaming.StoreCompaction.expireBefore(dec, 2L)
    }
    (s"$root/index", 2 * q)
  }

  private def q223OracleSql: String = Dedup.keepEarliestOracleSql(windowSurvivorsSql)

  /** q223 — KEEP-EARLIEST DEDUP over a retention window: stored verdicts
    * cannot window (a doc deduped against an expired landing names an
    * owner whose bytes left disk), so the windowed serve RE-ELECTS from
    * the windowed band INDEX — per-doc identity state that slices by
    * partition — and one in-window election reproduces q124 run from
    * scratch on exactly the retained window's survivors (the oracle IS
    * that run). Erasure composes: the index was surgically erased first,
    * so forgotten docs neither appear nor own anything. Cost: one
    * equi-join over the window's band rows, O(window index), zero corpus
    * text — at 100 TB the alternative is re-sharding and re-deduping the
    * retained corpus.
    */
  val q223 = Q("q223_dedup_window", q223OracleSql) { (s, dir) =>
    val (idx, cut2) = buildLshTtlStore(s, dir)
    val spine = docs(s, dir).filter(!forgottenPred && col("doc_id") >= cut2)
    LshStream.windowedDecisions(s, idx, spine, lo = 2L).orderBy("doc_id")
  }

  // ── q225: the full curation verdict over a retention window ──────────

  /** Four quartile landings of the WINDOW-MODE curation stores
    * ([[CurationStream.writeWindowDelta]] — per-doc fp
    * rows and per-doc band rows, ownership never materialized), the
    * forget set surgically erased from both (per-doc identity deletes,
    * NO re-election correctives — the next election elects among
    * whoever survives), then the two oldest landings expired.
    * Idempotent. Returns (fpDir, idxDir).
    */
  def buildCurationTtlStore(s: SparkSession, dir: String): (String, String) = {
    val root = DerivedStore.cached("cur_ttl", dir, "documents") { root =>
      val (fpD, idxD) = (s"$root/fps", s"$root/bands")
      val d = docs(s, dir).select("doc_id", "source", "text")
      landSlices(d, 4)((sl, k) => CurationStream.writeWindowDelta(sl, fpD, idxD, k))
      val fIds = d.filter(forgottenPred).select("doc_id")
      Forget.surgicalDelete(s, fpD, fIds)
      Forget.surgicalDelete(s, idxD, fIds)
      graft.streaming.StoreCompaction.expireBefore(fpD, 2L)
      graft.streaming.StoreCompaction.expireBefore(idxD, 2L)
    }
    (s"$root/fps", s"$root/bands")
  }

  /** q225 — the FULL CURATION VERDICT over a retention window: the
    * round-11 analysis showed the streamed curation stores cannot
    * window (first-seen-global fp ownership; bands for exact-survivors
    * only — a window doc whose owner expired has no row in the slice),
    * so this is the WINDOW-MODE layout that can: per-doc identity rows
    * land per batch, and gate → exact-first-owner → rep-banding →
    * keep-earliest is ONE serve-time election over the window slice
    * ([[CurationStream.windowedDecisions]]). Erasure
    * needed no re-election correctives (ownership is never
    * materialized) and expiry was pure partition drops — and the served
    * table equals batch q127 run from scratch on the retained window's
    * surviving corpus, which is what the oracle computes. Cost:
    * O(window rows), zero text at serve time; `windowprobe` measured
    * the election law.
    */
  val q225 = Q("q225_curation_window",
    s"""${Dedup.curationVerdictCtes(windowSurvivorsSql)}
       |SELECT e.doc_id, e.is_exact_dup, e.exact_dup_of,
       |  v.n_earlier, v.dup_of, v.is_band_dup
       |FROM exact e LEFT JOIN verdicts v ON e.doc_id = v.doc_id
       |ORDER BY e.doc_id""".stripMargin) { (s, dir) =>
    val (fpD, idxD) = buildCurationTtlStore(s, dir)
    CurationStream.windowedDecisions(s, fpD, idxD, lo = 2L)
  }

  // ── q226-q228: corrected-content landings (amendments) ───────────────

  /** The shared amendment fixture: batch 1 (the second doc_id quartile)
    * is re-landed with CORRECTED content — the weekly 100 TB case (a
    * re-crawled shard, a fixed parser), which is NOT a replay because
    * the content changed. The correction, expressible identically in
    * Spark and DuckDB: a parser fix DROPPED every doc_id % 3 = 2; docs
    * with doc_id % 3 = 0 resolved to the text of doc_id + 2·width — a
    * text that ALREADY EXISTS later in the corpus, so the corrected
    * (lower-id) doc must STEAL exact ownership from the later copy; the
    * remaining docs had their text corrected in place (e → a). Returns
    * (correctedBatch, correctedCorpus, quartileWidth).
    */
  def amendFixture(s: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val d = docs(s, dir).select("doc_id", "text", "source")
    val w = landingWidth(d, 4)
    val donor = d.select((col("doc_id") - lit(2 * w)).as("doc_id"),
      col("text").as("donor_text"))
    val batch = d
      .filter(col("doc_id") >= w && col("doc_id") < 2 * w &&
        pmod(col("doc_id"), lit(3L)) =!= lit(2L))
      .join(donor, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === lit(0L),
          coalesce(col("donor_text"), col("text")))
          .otherwise(expr("replace(text, 'e', 'a')")).as("text"),
        col("source"))
    val corpus = d.filter(col("doc_id") < w || col("doc_id") >= 2 * w)
      .unionByName(batch)
    (batch, corpus, w)
  }

  /** The corrected corpus as a DuckDB relation — the amendment oracles'
    * from-scratch input (quartiles 0/2/3 unchanged ∪ the corrected
    * batch), mirroring [[amendFixture]] expression by expression.
    */
  private val correctedCorpusSql: String =
    s"""(SELECT doc_id, text, source FROM documents
       | WHERE doc_id < (SELECT MAX(doc_id) // 4 FROM documents)
       |    OR doc_id >= 2 * (SELECT MAX(doc_id) // 4 FROM documents)
       | UNION ALL
       | SELECT b.doc_id,
       |   CASE WHEN b.doc_id % 3 = 0 THEN COALESCE(d2.text, b.text)
       |        ELSE REPLACE(b.text, 'e', 'a') END AS text,
       |   b.source
       | FROM documents b LEFT JOIN documents d2
       |   ON d2.doc_id = b.doc_id + 2 * (SELECT MAX(doc_id) // 4 FROM documents)
       | WHERE b.doc_id >= (SELECT MAX(doc_id) // 4 FROM documents)
       |   AND b.doc_id < 2 * (SELECT MAX(doc_id) // 4 FROM documents)
       |   AND b.doc_id % 3 <> 2)""".stripMargin

  /** Four quartile LM landings, then batch 1 AMENDED to the corrected
    * content ([[graft.streaming.Amend.amendSumCells]] — one partition
    * overwrite with the corrected cells, no negative delta, no old
    * content needed). Idempotent. Returns the delta dir.
    */
  def buildLmAmendStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("lm_amend", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val d = docs(s, dir)
      val (batch, _, w) = amendFixture(s, dir)
      landSlices(d, 4, w)((sl, k) => CorpusStream.lmStore(deltas).land(sl, k))
      graft.streaming.Amend.amendSumCells(CorpusStream.lmStore(deltas), batch, 1L)
    }
    s"$root/deltas"
  }

  /** q226 — AMENDING an additive store: batch 1's corrected content
    * replaces its landing partition ([[graft.streaming.Amend
    * .amendSumCells]]) and the served fluency model must equal a
    * from-scratch retrain on the CORRECTED corpus — the oracle IS that
    * retrain. On a SUM-cell store the amendment needs neither the old
    * content nor a negative delta: the landing partition holds exactly
    * the old content's cells, so one overwrite with the corrected cells
    * makes every fold (pinned at P ≥ 1, windowed over the batch) serve
    * the corrected-corpus recompute of its slice. Replay of the
    * amendment rewrites identical bytes.
    */
  val q226 = Q("q226_amend_lm",
    TextOps.fluencyOracleSql(correctedCorpusSql)) { (s, dir) =>
    val deltas = buildLmAmendStore(s, dir)
    val (_, corpus, _) = amendFixture(s, dir)
    TextOps.fluencyScores(corpus,
      Some(CorpusStream.lmStore(deltas).servedAt(s)))
  }

  /** Four quartile landings of the WINDOW-MODE curation stores, then
    * batch 1 amended in place ([[graft.streaming.Amend
    * .amendWindowCuration]] — the corrected batch's per-doc fp and band
    * rows overwrite the landing partitions). Idempotent. Returns
    * (fpDir, idxDir).
    */
  def buildWindowAmendStore(s: SparkSession, dir: String): (String, String) = {
    val root = DerivedStore.cached("cur_amend_ttl", dir, "documents") { root =>
      val (fpD, idxD) = (s"$root/fps", s"$root/bands")
      val d = docs(s, dir).select("doc_id", "source", "text")
      val (batch, _, w) = amendFixture(s, dir)
      landSlices(d, 4, w)((sl, k) => CurationStream.writeWindowDelta(sl, fpD, idxD, k))
      graft.streaming.Amend.amendWindowCuration(batch, fpD, idxD, 1L)
    }
    (s"$root/fps", s"$root/bands")
  }

  /** q227 — AMENDING a per-doc identity store family: the window-mode
    * curation layout amends by pure partition overwrite — ownership is
    * never materialized, so the serve-time election sees the corrected
    * rows and re-elects IMPLICITLY (no corrective machinery, the same
    * property its erasure has), and the landing keeps its AGE (a later
    * retention floor expires corrected content on the original batch's
    * clock — the ForgetSpec pin). The served verdict table must equal
    * the q127 kernel run from scratch on the corrected corpus.
    */
  val q227 = Q("q227_amend_curation_window",
    s"""${Dedup.curationVerdictCtes(correctedCorpusSql)}
       |SELECT e.doc_id, e.is_exact_dup, e.exact_dup_of,
       |  v.n_earlier, v.dup_of, v.is_band_dup
       |FROM exact e LEFT JOIN verdicts v ON e.doc_id = v.doc_id
       |ORDER BY e.doc_id""".stripMargin) { (s, dir) =>
    val (fpD, idxD) = buildWindowAmendStore(s, dir)
    CurationStream.windowedDecisions(s, fpD, idxD, lo = 0L)
  }

  /** Four quartile landings through the MATERIALIZED curation family
    * ([[CurationStream.processBatch]]), then batch 1
    * amended ([[graft.streaming.Amend.amendCurationBatch]] — the old
    * landing's docs forgotten with two-level re-election, the corrected
    * batch landed through the id-ordered re-electing insert; forget
    * correctives at partition 4, insert correctives at 5). Idempotent.
    * Returns the family root.
    */
  def buildCurationAmendStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("cur_amend", dir, "documents") { root =>
      val d = docs(s, dir).select("doc_id", "text", "source")
      val (batch, _, w) = amendFixture(s, dir)
      landSlices(d, 4, w)((sl, k) =>
        CurationStream.processBatch(sl, CurationStream.Layout(root), k))
      graft.streaming.Amend.amendCurationBatch(s, root, batch,
        batchId = 1L, correctiveId = 4L,
        audit = Some((s"$root/amend_audit", "curation")))
    }

  /** q228 — AMENDING the materialized first-seen curation family: the
    * case replay landings never face — corrected content must propagate
    * through MATERIALIZED ownership. The composition: erase the old
    * landing's docs (exact-ownership and band-keeper re-election, the
    * q204 machinery), then land the corrected batch through an
    * ID-ORDERED re-electing insert where a corrected doc that PRECEDES
    * an existing owner of its fingerprint STEALS the ownership — the
    * old owner demotes to exact dup, its duplicates re-point, its bands
    * leave the index, and every band family that changed membership
    * re-elects. The served decision table must equal the q127 kernel
    * run from scratch on the corrected corpus — the oracle IS that
    * from-scratch build (q204's shape with the corrected corpus).
    */
  val q228 = Q("q228_amend_curation",
    s"""${Dedup.curationVerdictCtes(correctedCorpusSql)}
       |SELECT e.doc_id, e.is_exact_dup, e.exact_dup_of,
       |  v.n_earlier, v.dup_of, v.is_band_dup
       |FROM exact e LEFT JOIN verdicts v ON e.doc_id = v.doc_id
       |ORDER BY e.doc_id""".stripMargin) { (s, dir) =>
    CurationStream.decisions(s, CurationStream.Layout(buildCurationAmendStore(s, dir)).decisions)
  }

  // ── q229: the cumulative cross-family compliance ledger ──────────────

  /** Eight octile LM landings, TWO streamed pin-preserving erasure waves
    * (doc_id % 17 ∈ {3, 5} — each lands one split negative per octile it
    * spans and one erasure-certificate row), then TWO certified expiry
    * floors (2 and 4 — each drops landings and the split negatives that
    * expire with them, recording expiry-certificate rows). Idempotent.
    * Returns (deltaDir, forgetMarkerRoot, expiryAuditRoot).
    */
  def buildComplianceStore(s: SparkSession, dir: String): (String, String, String) = {
    val root = DerivedStore.cached("compliance", dir, "documents") { root =>
      val (deltas, markers, audit) =
        (s"$root/deltas", s"$root/forget_markers", s"$root/expiry_audit")
      val d = docs(s, dir).select("doc_id", "text", "source")
      val o = landingWidth(d, 8)
      require(o > 0, s"compliance store needs max(doc_id) >= 8, got width $o")
      landSlices(d, 8, o)((sl, k) => CorpusStream.lmStore(deltas).land(sl, k))
      val content = d.withColumn("src_batch",
        least(expr(s"doc_id div $o"), lit(7L)).cast("long"))
      val targets = graft.streaming.ForgetStream.ForgetTargets(
        cellStores = Seq(CorpusStream.lmStore(deltas)), splitBySrcBatch = true)
      Seq(3L -> 0L, 5L -> 1L).foreach { case (res, reqId) =>
        graft.streaming.ForgetStream.processBatch(
          d.filter(pmod(col("doc_id"), lit(ForgetMod)) === lit(res))
            .select("doc_id"),
          content, targets, markers, reqId)
      }
      graft.streaming.StoreCompaction.expireBeforeCertified(s, deltas,
        lo = 2L, audit, storeName = "lm")
      graft.streaming.StoreCompaction.expireBeforeCertified(s, deltas,
        lo = 4L, audit, storeName = "lm")
    }
    (s"$root/deltas", s"$root/forget_markers", s"$root/expiry_audit")
  }

  /** q229 — the CUMULATIVE COMPLIANCE LEDGER, stores-served: the
    * per-wave erasure certificate and per-floor expiry certificate
    * accumulated into the one table a compliance review files — per
    * store: requests processed, split negatives landed, floors
    * certified, landings/negatives/files dropped, the current floor and
    * live pins — computed from the persisted audit artifacts and the
    * store's own markers alone, ZERO corpus or store-data scans
    * (PlanSpec pins no documents scan in the plan). The oracle derives
    * every number from the corpus: each wave lands one split negative
    * per octile its residue class spans; the two floors drop landings
    * 0-3 (one file each — `coalesce(1)` landings) and exactly the split
    * negatives whose source batch lies below 4.
    */
  val q229 = Q("q229_compliance_ledger",
    s"""WITH o AS (SELECT MAX(doc_id) // 8 AS o FROM documents),
       |sbA AS (
       |  SELECT DISTINCT LEAST(doc_id // (SELECT o FROM o), 7) AS b
       |  FROM documents WHERE doc_id % $ForgetMod = 3
       |), sbB AS (
       |  SELECT DISTINCT LEAST(doc_id // (SELECT o FROM o), 7) AS b
       |  FROM documents WHERE doc_id % $ForgetMod = 5
       |)
       |SELECT store, metric, CAST(value AS BIGINT) AS value FROM (
       |  VALUES
       |    ('lm', 'current_floor', CAST(4 AS BIGINT)),
       |    ('lm', 'expiry_floors', CAST(2 AS BIGINT)),
       |    ('lm', 'files_dropped',
       |      4 + (SELECT CAST(COUNT(*) AS BIGINT) FROM sbA WHERE b < 4)
       |        + (SELECT CAST(COUNT(*) AS BIGINT) FROM sbB WHERE b < 4)),
       |    ('lm', 'forget_requests', CAST(2 AS BIGINT)),
       |    ('lm', 'landings_dropped', CAST(4 AS BIGINT)),
       |    ('lm', 'live_pins', CAST(0 AS BIGINT)),
       |    ('lm', 'negative_split_landings',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM sbA)
       |        + (SELECT CAST(COUNT(*) AS BIGINT) FROM sbB)),
       |    ('lm', 'split_negatives_dropped',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM sbA WHERE b < 4)
       |        + (SELECT CAST(COUNT(*) AS BIGINT) FROM sbB WHERE b < 4))
       |) AS t(store, metric, value)
       |WHERE metric IN ('current_floor', 'expiry_floors', 'forget_requests',
       |  'live_pins') OR value > 0
       |ORDER BY store, metric""".stripMargin) { (s, dir) =>
    val (deltas, markers, audit) = buildComplianceStore(s, dir)
    graft.streaming.Compliance.ledger(s, Seq("lm" -> deltas),
      forgetMarkerRoots = Seq(markers), expiryAuditRoots = Seq(audit))
  }

  // ── q230: cell-schema evolution (append_new_columns at store layer) ──

  /** The evolving per-source token-stat cells: (source, n_docs,
    * n_tokens) at schema v1; v2 APPENDS n_alpha (total alphanumeric
    * chars). The v2 kernel is what later landings write; pre-add deltas
    * null-fill the new column through the evolved windowed read.
    */
  def statCells(d: DataFrame, withAlpha: Boolean): DataFrame = {
    val m = d.select(col("source"),
        graft.ops.TextOps.tokens(col("text")).as("t"))
      .select(col("source"), size(col("t")).cast("long").as("n_tok"),
        expr("aggregate(transform(t, x -> CAST(length(x) AS BIGINT)), " +
          "0L, (a, x) -> a + x)").as("alpha"))
    if (withAlpha)
      m.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        sum(col("alpha")).cast("long").as("n_alpha"))
    else
      m.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
  }

  /** Four quartile landings of the token-stat store, the first two at
    * cell schema v1 and the last two at v2 (n_alpha appended) — landed
    * through [[graft.streaming.StoreCompaction.writeEvolvedDelta]], so
    * the append registers and the marker versions the store. Idempotent.
    * Returns the delta dir.
    */
  def buildSchemaEvoStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("schema_evo", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val d = docs(s, dir).select("doc_id", "text", "source")
      landSlices(d, 4) { (sl, k) =>
        graft.streaming.StoreCompaction.writeEvolvedDelta(
          statCells(sl, withAlpha = k >= 2),
          deltas, k)
      }
    }
    s"$root/deltas"
  }

  /** q230 — CELL-SCHEMA EVOLUTION served: the reference declares
    * `on_schema_change='append_new_columns'` for its incremental models
    * (`int_sensor_readings_cleaned.sql:15`) and the Materializer honors
    * it for MODEL tables; this is the same contract at the DELTA-STORE
    * layer, versioned and enforced — the first landing registers the
    * cell schema, an appended column bumps the marker, and type changes
    * or drops/renames refuse loudly (ForgetSpec). The evolved windowed
    * read null-fills the appended n_alpha for pre-add landings, so the
    * served totals equal a recompute where the new statistic counts
    * exactly the docs landed since the append — which is what the
    * oracle computes (n_alpha over the upper two quartiles only).
    */
  val q230 = Q("q230_schema_evolution",
    s"""WITH tk AS (
       |  SELECT source, doc_id,
       |    ${OracleSql.tokens()} AS t
       |  FROM documents
       |), m AS (
       |  SELECT source, doc_id, len(t) AS n_tok,
       |    CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
       |      AS BIGINT) AS alpha
       |  FROM tk
       |)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(SUM(CASE WHEN doc_id >=
       |      2 * (SELECT MAX(doc_id) // 4 FROM documents) THEN alpha END), 0)
       |    AS BIGINT) AS n_alpha
       |FROM m GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val deltas = buildSchemaEvoStore(s, dir)
    graft.streaming.StoreCompaction.readWindowEvolved(s, deltas, lo = 0L)
      .groupBy("source")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        coalesce(sum(col("n_alpha")), lit(0L)).cast("long").as("n_alpha"))
      .orderBy("source")
  }

  /** q231 — the AMENDMENT LEG of the compliance ledger: corrections are
    * audited like erasure and expiry. q228's amendment writes its
    * certificate BEFORE the mutation (the expiry-certificate discipline
    * — proof never loses a race with the change it proves) and
    * first-writer-wins (a replayed amendment must not overwrite the
    * original record with its no-op numbers); the ledger accumulates
    * distinct amendments and their erased/landed masses per store. The
    * oracle derives both masses from the corpus alone: the old landing
    * was the full second quartile, the corrected batch its docs with
    * doc_id % 3 ≠ 2.
    */
  val q231 = Q("q231_amendment_ledger",
    s"""SELECT store, metric, CAST(value AS BIGINT) AS value FROM (
       |  VALUES
       |    ('curation', 'amended_docs_erased',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
       |       WHERE doc_id >= (SELECT MAX(doc_id) // 4 FROM documents)
       |         AND doc_id < 2 * (SELECT MAX(doc_id) // 4 FROM documents))),
       |    ('curation', 'amended_rows_landed',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
       |       WHERE doc_id >= (SELECT MAX(doc_id) // 4 FROM documents)
       |         AND doc_id < 2 * (SELECT MAX(doc_id) // 4 FROM documents)
       |         AND doc_id % 3 <> 2)),
       |    ('curation', 'amendments', CAST(1 AS BIGINT))
       |) AS t(store, metric, value)
       |ORDER BY store, metric""".stripMargin) { (s, dir) =>
    val root = buildCurationAmendStore(s, dir)
    graft.streaming.Compliance.ledger(s, Nil,
      amendAuditRoots = Seq(s"$root/amend_audit"))
  }

  /** Four quartile LM landings on a store OPTED INTO the pre-fold
    * archive ([[graft.streaming.StoreCompaction.declarePrefoldKeep]]),
    * epoch-banded at size 2 (epochs 0 and 1 fold, sources archived under
    * `.prefold/`), then batch 1 — now INSIDE folded epoch 0 — amended to
    * the corrected content: [[graft.streaming.Amend.amendSumCells]]
    * takes the RE-BAND path, replacing the archived delta and re-folding
    * the epoch from the archive. Idempotent. Returns the delta dir.
    */
  def buildLmRebandStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("lm_reband", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val d = docs(s, dir)
      val (batch, _, w) = amendFixture(s, dir)
      graft.streaming.StoreCompaction.declarePrefoldKeep(deltas)
      landSlices(d, 4, w)((sl, k) => CorpusStream.lmStore(deltas).land(sl, k))
      graft.streaming.StoreCompaction.foldEpochs(s, deltas,
        epochSize = 2L, uptoBatch = 3L)
      graft.streaming.Amend.amendSumCells(CorpusStream.lmStore(deltas), batch, 1L)
    }
    s"$root/deltas"
  }

  /** q232 — AMENDING an EPOCH-BANDED landing via the re-band path:
    * corrections arrive late by nature (takedown notices, re-licensing,
    * parser-bug discoveries), which is exactly when banding has reached
    * the landing — q226's amendment on the layout where it used to be a
    * loud dead end. The store opted into keeping pre-fold deltas, so the
    * amendment replaces the archived delta and RE-FOLDS the epoch from
    * the archive (cost O(epoch), not O(store)); the windowed serve over
    * the re-banded layout must equal a from-scratch retrain on the
    * corrected corpus — the oracle IS that retrain (the reference's
    * MERGE semantics, `notebooks/databricks_data_flow.sql:193-203`,
    * don't stop applying because data got compacted).
    */
  val q232 = Q("q232_amend_rebanded_epoch",
    TextOps.fluencyOracleSql(correctedCorpusSql)) { (s, dir) =>
    val deltas = buildLmRebandStore(s, dir)
    val (_, corpus, _) = amendFixture(s, dir)
    TextOps.fluencyScores(corpus,
      Some(CorpusStream.lmStore(deltas).servedWindow(s, lo = 0L)))
  }

  /** The evolving per-DOC stat rows — [[statCells]]' identity twin
    * (one row per doc, no aggregation): (doc_id, source, n_tok) at
    * schema v1; v2 APPENDS n_alpha. What an identity-store family's
    * sink writes when a release adds a per-doc statistic.
    */
  def statRows(d: DataFrame, withAlpha: Boolean): DataFrame = {
    val m = d.select(col("doc_id"), col("source"),
        graft.ops.TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        size(col("t")).cast("long").as("n_tok"),
        expr("aggregate(transform(t, x -> CAST(length(x) AS BIGINT)), " +
          "0L, (a, x) -> a + x)").as("alpha"))
    if (withAlpha)
      m.select(col("doc_id"), col("source"), col("n_tok"),
        col("alpha").as("n_alpha"))
    else m.select(col("doc_id"), col("source"), col("n_tok"))
  }

  /** Four quartile landings of a per-doc IDENTITY store, the first two
    * at schema v1 and the last two at v2 (n_alpha appended) — landed
    * through the same [[graft.streaming.StoreCompaction
    * .writeEvolvedDelta]] path every identity sink now uses, so the
    * append registers on the `_cell_schema` marker. Idempotent. Returns
    * the store dir.
    */
  def buildIdentityEvoStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("identity_evo", dir, "documents") { root =>
      val store = s"$root/docstats"
      val d = docs(s, dir).select("doc_id", "text", "source")
      landSlices(d, 4) { (sl, k) =>
        graft.streaming.StoreCompaction.writeEvolvedDelta(
          statRows(sl, withAlpha = k >= 2),
          store, k)
      }
    }
    s"$root/docstats"
  }

  /** q233 — SCHEMA EVOLUTION on an IDENTITY-store family: q230 proved
    * the append_new_columns contract for SUM-cell stores; this is the
    * same contract on per-doc identity rows, where the failure mode
    * without it is nastier — a plain partitioned read samples ONE
    * file's footer, so the served schema of a mixed-schema store
    * depended on which file Spark picked (new columns silently absent,
    * or reads failing). Every identity sink now lands through the
    * registered-schema write path, and the windowed serve reads under
    * the REGISTERED union schema: pre-append docs null-fill the new
    * column deterministically — `on_schema_change='append_new_columns'`
    * (`int_sensor_readings_cleaned.sql:15`) enforced store-wide. The
    * oracle computes the per-doc rows with the new statistic NULL below
    * the append boundary.
    */
  val q233 = Q("q233_identity_schema_evolution",
    s"""WITH tk AS (
       |  SELECT doc_id, source,
       |    ${OracleSql.tokens()} AS t
       |  FROM documents
       |)
       |SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tok,
       |  CASE WHEN doc_id >= 2 * (SELECT MAX(doc_id) // 4 FROM documents)
       |    THEN CAST(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
       |      AS BIGINT) END AS n_alpha
       |FROM tk ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val store = buildIdentityEvoStore(s, dir)
    graft.streaming.StoreCompaction.readWindow(s, store, lo = 0L)
      .select("doc_id", "source", "n_tok", "n_alpha")
      .orderBy("doc_id")
  }

  /** The q229 compliance fixture with the lifecycle INTERLEAVED and a
    * ledger SNAPSHOT landed after each audit event: eight octile LM
    * landings, then wave A (doc_id % 17 = 3) → certified floor 2 →
    * snapshot 0, then wave B (doc_id % 17 = 5) → certified floor 4 →
    * snapshot 1. Idempotent. Returns (snapDir, deltaDir, markerRoot,
    * auditRoot).
    */
  def buildLedgerSnapshotStore(s: SparkSession,
      dir: String): (String, String, String, String) = {
    val root = DerivedStore.cached("ledger_snap", dir, "documents") { root =>
      val (deltas, markers, audit, snaps) =
        (s"$root/deltas", s"$root/forget_markers", s"$root/expiry_audit",
          s"$root/snapshots")
      val d = docs(s, dir).select("doc_id", "text", "source")
      val o = landingWidth(d, 8)
      require(o > 0, s"ledger snapshot store needs max(doc_id) >= 8, got width $o")
      landSlices(d, 8, o)((sl, k) => CorpusStream.lmStore(deltas).land(sl, k))
      val content = d.withColumn("src_batch",
        least(expr(s"doc_id div $o"), lit(7L)).cast("long"))
      val targets = graft.streaming.ForgetStream.ForgetTargets(
        cellStores = Seq(CorpusStream.lmStore(deltas)), splitBySrcBatch = true)
      def snapshot(id: Long): Unit = {
        graft.streaming.Compliance.landLedgerSnapshot(s, snaps, id,
          Seq("lm" -> deltas), forgetMarkerRoots = Seq(markers),
          expiryAuditRoots = Seq(audit))
        ()
      }
      graft.streaming.ForgetStream.processBatch(
        d.filter(pmod(col("doc_id"), lit(ForgetMod)) === lit(3L))
          .select("doc_id"), content, targets, markers, 0L)
      graft.streaming.StoreCompaction.expireBeforeCertified(s, deltas,
        lo = 2L, audit, storeName = "lm")
      snapshot(0L)
      graft.streaming.ForgetStream.processBatch(
        d.filter(pmod(col("doc_id"), lit(ForgetMod)) === lit(5L))
          .select("doc_id"), content, targets, markers, 1L)
      graft.streaming.StoreCompaction.expireBeforeCertified(s, deltas,
        lo = 4L, audit, storeName = "lm")
      snapshot(1L)
    }
    (s"$root/snapshots", s"$root/deltas", s"$root/forget_markers", s"$root/expiry_audit")
  }

  /** q234 — the compliance ledger as a SERVED STORE: q229 made the
    * ledger a query over the audit roots; a review also asks
    * POINT-IN-TIME questions — "what did the ledger say when we shipped
    * release N" — which a recompute cannot answer once later waves land.
    * Ledger snapshots land per batch like every other family (schema-
    * registered, retention-capable), and the as-of serve reads ONE
    * snapshot partition — zero audit-root scans, zero corpus scans
    * (PlanSpec-pinned). The oracle derives snapshot 0's numbers (after
    * wave A and floor 2, BEFORE wave B ran) from the corpus alone.
    */
  val q234 = Q("q234_ledger_snapshot",
    s"""WITH o AS (SELECT MAX(doc_id) // 8 AS o FROM documents),
       |sbA AS (
       |  SELECT DISTINCT LEAST(doc_id // (SELECT o FROM o), 7) AS b
       |  FROM documents WHERE doc_id % $ForgetMod = 3
       |)
       |SELECT store, metric, CAST(value AS BIGINT) AS value FROM (
       |  VALUES
       |    ('lm', 'current_floor', CAST(2 AS BIGINT)),
       |    ('lm', 'expiry_floors', CAST(1 AS BIGINT)),
       |    ('lm', 'files_dropped',
       |      2 + (SELECT CAST(COUNT(*) AS BIGINT) FROM sbA WHERE b < 2)),
       |    ('lm', 'forget_requests', CAST(1 AS BIGINT)),
       |    ('lm', 'landings_dropped', CAST(2 AS BIGINT)),
       |    ('lm', 'live_pins', CAST(0 AS BIGINT)),
       |    ('lm', 'negative_split_landings',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM sbA)),
       |    ('lm', 'split_negatives_dropped',
       |      (SELECT CAST(COUNT(*) AS BIGINT) FROM sbA WHERE b < 2))
       |) AS t(store, metric, value)
       |WHERE metric IN ('current_floor', 'expiry_floors', 'forget_requests',
       |  'live_pins') OR value > 0
       |ORDER BY store, metric""".stripMargin) { (s, dir) =>
    val (snaps, _, _, _) = buildLedgerSnapshotStore(s, dir)
    graft.streaming.Compliance.ledgerAsOf(s, snaps, 0L)
  }

  /** The q228 family built BANDED before the correction arrives: all
    * five stores opt into the pre-fold archive, four landings fold at
    * epoch size 2, and THEN batch 1 — inside folded epoch 0 on every
    * store — is amended through [[graft.streaming.Amend
    * .amendCurationBatch]]. The composition needs no re-fold (surgical
    * deletes reach epoch partitions and the scrubbed archive; the
    * insert lands corrective partitions); the archive supplies the
    * landing's doc list that banding erased. Idempotent. Returns root.
    */
  def buildCurationBandAmendStore(s: SparkSession, dir: String): String =
    DerivedStore.cached("cur_bandamend", dir, "documents") { root =>
      val d = docs(s, dir).select("doc_id", "text", "source")
      val (batch, _, w) = amendFixture(s, dir)
      val stores = CurationStream.Layout(root)
      landSlices(d, 4, w)((sl, k) => CurationStream.processBatch(sl, stores, k))
      // the opt-in precedes the FOLD (after the landings: an empty store
      // dir holding only the marker would break batch 0's history probe)
      stores.dirs.foreach(graft.streaming.StoreCompaction.declarePrefoldKeep)
      stores.dirs.foreach(st =>
        graft.streaming.StoreCompaction.foldEpochs(s, st, 2L, uptoBatch = 3L))
      graft.streaming.Amend.amendCurationBatch(s, root, batch,
        batchId = 1L, correctiveId = 4L,
        audit = Some((s"$root/amend_audit", "curation")))
    }

  /** q236 — q228's law on the BANDED layout: corrections arrive late,
    * so the materialized family's landings have usually epoch-folded by
    * the time one lands — previously the composite amendment's loudest
    * remaining dead end. With the pre-fold archive the amendment works
    * WITHOUT re-folding: erase the landing's docs (the archive names
    * them; surgical deletes reach epoch partitions and the archive
    * itself), then the id-ordered re-electing insert. Banding must not
    * change a single verdict, so the oracle is q228's verbatim: the
    * q127 kernel from scratch on the corrected corpus.
    */
  val q236 = Q("q236_amend_banded_curation",
    s"""${Dedup.curationVerdictCtes(correctedCorpusSql)}
       |SELECT e.doc_id, e.is_exact_dup, e.exact_dup_of,
       |  v.n_earlier, v.dup_of, v.is_band_dup
       |FROM exact e LEFT JOIN verdicts v ON e.doc_id = v.doc_id
       |ORDER BY e.doc_id""".stripMargin) { (s, dir) =>
    CurationStream.decisions(s,
      CurationStream.Layout(buildCurationBandAmendStore(s, dir)).decisions)
  }

  /** The corrected corpus MINUS the commute-wave forget set (doc_id ≡ 4
    * mod 9 below the second quartile boundary) — what q235's store must
    * serve after erasure and correction both apply.
    */
  private val commuteCorpusSql: String =
    s"""(SELECT * FROM $correctedCorpusSql cc
       | WHERE NOT (cc.doc_id % 9 = 4
       |   AND cc.doc_id < 2 * (SELECT MAX(doc_id) // 4 FROM documents)))""".stripMargin

  /** An LM store where an erasure wave PRECEDES the correction of a
    * landing the wave also hit: four quartile landings, a split-forget
    * wave over doc_id ≡ 4 (mod 9) below 2·w (negatives sourced at
    * batches 0 AND 1), then the STREAMED amendment of batch 1. The
    * corrected content still contains the wave's batch-1 docs — a
    * re-crawled shard naturally would — so the sink re-applies the
    * outstanding erasure before amending and retires batch 1's
    * now-obsolete split negatives. Idempotent. Returns the delta dir.
    */
  def buildLmCommuteStore(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("lm_commute", dir, "documents") { root =>
      val deltas = s"$root/deltas"
      val d = docs(s, dir).select("doc_id", "text", "source")
      val (batch, _, w) = amendFixture(s, dir)
      landSlices(d, 4, w)((sl, k) => CorpusStream.lmStore(deltas).land(sl, k))
      val fIds = d.filter(col("doc_id") < 2 * w &&
        pmod(col("doc_id"), lit(9L)) === 4L).select("doc_id")
      val content = d.withColumn("src_batch", landingOf(w, 4).cast("long"))
      graft.streaming.ForgetStream.processBatch(fIds, content,
        graft.streaming.ForgetStream.ForgetTargets(
          cellStores = Seq(CorpusStream.lmStore(deltas)),
          splitBySrcBatch = true),
        s"$root/forget_markers", 0L)
      fIds.coalesce(1).write.mode("overwrite").parquet(s"$root/requests")
      graft.streaming.Amend.processAmendBatch(
        batch.select(lit(1L).as("amend_batch"), col("doc_id"),
          col("text"), col("source")),
        graft.streaming.Amend.AmendTargets(
          cellStores = Seq(CorpusStream.lmStore(deltas)),
          forgetRequestDirs = Seq(s"$root/requests")),
        s"$root/amend_markers", 0L, Some(s"$root/amend_audit"))
    }
    s"$root/deltas"
  }

  /** q235 — ERASURE–CORRECTION COMMUTATION: a right-to-be-forgotten
    * wave lands BEFORE the correction of a landing it also hit, and the
    * correction (a re-crawled shard) still contains the forgotten docs.
    * The streamed amendment sink re-applies the outstanding erasure to
    * the corrected batch — forget-then-amend ≡ amend-then-forget — and
    * retires the landing's now-obsolete split negatives instead of
    * refusing (their positives are excluded from the corrected cells;
    * batch 0's negatives survive untouched). The served fluency model
    * must equal a from-scratch retrain on the corrected corpus MINUS
    * the wave — the oracle IS that retrain; without the re-applied
    * erasure the amendment would silently resurrect every forgotten
    * batch-1 doc. Reference anchor: the MERGE upsert
    * (`notebooks/databricks_data_flow.sql:193-203`) composes with
    * deletes by key, regardless of arrival order.
    */
  val q235 = Q("q235_amend_respects_erasure",
    TextOps.fluencyOracleSql(commuteCorpusSql)) { (s, dir) =>
    val deltas = buildLmCommuteStore(s, dir)
    val (_, corpus, w) = amendFixture(s, dir)
    val after = corpus.filter(!(pmod(col("doc_id"), lit(9L)) === 4L &&
      col("doc_id") < 2 * w))
    TextOps.fluencyScores(after,
      Some(CorpusStream.lmStore(deltas).servedAt(s)))
  }

  val all: Seq[Q] = Seq(q200, q201, q202, q203, q204, q205, q206, q207,
    q208, q209, q210, q211, q212, q213, q214, q215, q216, q217, q218,
    q219, q220, q221, q222, q223, q225, q226, q227, q228, q229, q230, q231,
    q232, q233, q234, q235, q236)
}
