package graft.ops

import graft.Catalog
import graft.functions.ShingleHashes
import graft.queries.{Det, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-mining operators that round out the training-data pipeline
  * (beyond the dedup/similarity families in Dedup/Similarity/TextOps):
  *
  *  - windowed substring dedup (q48) — the distributed fingerprint
  *    formulation of exact-substring deduplication: instead of a
  *    monolithic suffix array, hash every W-token window and count
  *    cross-document window collisions; work is one shuffle on the
  *    window hash, partial-aggregated map-side, so it scales like any
  *    token-count-proportional aggregation.
  *  - blocked record linkage (q49) — candidate pairs only within
  *    (nation, segment) blocks, scored with integer Levenshtein; B²
  *    work per block where the block key bounds B, never corpus².
  *  - hashed linear quality classifier (q92) — fasttext-shaped scoring
  *    with a fixed seeded weight table; one fused codegen call per row
  *    (functions/TextHash.LinearScore), zero shuffle.
  *  - Bloom-filter decontamination (q93) — the broadcast alternative to
  *    q39's inverted-index join: benchmark shingles are folded into a
  *    65536-bit filter (a ≤2048-row frame), broadcast, and every corpus
  *    shingle membership-tests map-side. At 100 TB the corpus never
  *    shuffles at all; only the (tiny) benchmark side is aggregated.
  *
  * Reference scope: the dbt demo has no corpus mining; these are the
  * builder-brief extensions (training-data pipeline operators), kept
  * oracle-checkable end-to-end via h60 arithmetic (see TextHash).
  */
object Mining {

  private def docs(s: SparkSession, dir: String) = Catalog.table(s, dir, "documents")

  /** Oracle CTEs `lagged` → `isl` → `spans` (doc_id, island,
    * span_tokens): the duplicated window starts of a (doc_id, pos)
    * relation merged into token spans — starts closer than one window
    * join one island.
    */
  private def spanCtes(starts: String): String =
    s"""lagged AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |      OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= $SubstringWindow
       |      THEN 1 ELSE 0 END AS is_start
       |  FROM $starts
       |), isl AS (
       |  SELECT doc_id, pos, SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM lagged
       |), spans AS (
       |  SELECT doc_id, island, MAX(pos) - MIN(pos) + $SubstringWindow AS span_tokens
       |  FROM isl GROUP BY doc_id, island
       |)""".stripMargin

  // ── q48: windowed exact-substring dedup ───────────────────────────────

  /** Window width in tokens. Real pipelines use ~50 (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"); the
    * synthetic docs average ~50 tokens total, so 8 keeps per-doc window
    * counts meaningful at test scale. The shape is width-independent.
    */
  val SubstringWindow = 8
  val SubstringDupThreshold = 0.5

  /** Per-doc duplicated-window report: a window is "duplicated" when its
    * hash occurs in ≥2 documents. `docFreq` is reusable for other window
    * widths (q-gram novelty, coverage maps).
    */
  def windowDocFreq(d: DataFrame, w: Int): DataFrame = {
    d.select(col("doc_id"), explode(ShingleHashes(col("text"), w)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
  }

  private def q48OracleSql: String =
    s"""WITH ${OracleSql.shingleCtes(n = SubstringWindow)}, ex AS (
       |  SELECT doc_id, unnest(hh) AS h FROM hs
       |), df AS (
       |  SELECT h, COUNT(*) AS n_docs FROM ex GROUP BY h
       |), per AS (
       |  SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |  FROM ex JOIN df ON ex.h = df.h GROUP BY ex.doc_id
       |)
       |SELECT doc_id, n_windows, n_dup_windows,
       |  ${OracleSql.round4("CAST(n_dup_windows AS DOUBLE) / n_windows")} AS dup_fraction,
       |  (${OracleSql.round4("CAST(n_dup_windows AS DOUBLE) / n_windows")} >= $SubstringDupThreshold) AS is_substring_dup
       |FROM per ORDER BY doc_id""".stripMargin

  /** q48 — windowed substring dedup: per doc, how many of its W-token
    * windows appear verbatim in at least one other document. Every doc
    * emits ≥1 window (short-text fallback), so the report has one row per
    * document with no outer join.
    */
  val q48 = Q("q48_substring_dedup", q48OracleSql) { (s, dir) =>
    val ex = docs(s, dir)
      .select(col("doc_id"), explode(ShingleHashes(col("text"), SubstringWindow)).as("h"))
    val dfreq = ex.groupBy("h").agg(count(lit(1)).as("n_docs"))
    val frac = Det.dround(col("n_dup_windows").cast("double") / col("n_windows"), 4)
    ex.join(dfreq, Seq("h"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        Det.countIf(col("n_docs") >= 2).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        frac.as("dup_fraction"),
        (frac >= SubstringDupThreshold).as("is_substring_dup"))
      .orderBy("doc_id")
  }

  // ── q181: maximal duplicated-span extraction ──────────────────────────

  private def q181OracleSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), ph AS (
       |  SELECT doc_id, CASE WHEN len(t) >= $SubstringWindow
       |    THEN [struct_pack(pos := i - 1, h := ${OracleSql.h60(s"array_to_string(t[i:i+${SubstringWindow - 1}], ' ')")}) for i in range(1, len(t) - ${SubstringWindow - 2})]
       |    ELSE [struct_pack(pos := 0, h := ${OracleSql.h60("array_to_string(t, ' ')")})] END AS ps
       |  FROM tk
       |), ex AS (
       |  SELECT doc_id, unnest(ps, recursive := true) FROM ph
       |), freq AS (
       |  SELECT h FROM ex GROUP BY h HAVING COUNT(*) >= 2
       |), wc AS (
       |  SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(SUM(CASE WHEN f.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |  FROM ex LEFT JOIN freq f ON ex.h = f.h GROUP BY ex.doc_id
       |), d AS (
       |  SELECT e.doc_id, e.pos FROM ex e JOIN freq f ON e.h = f.h
       |), ${spanCtes("d")}, rep AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
       |    CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
       |  FROM spans GROUP BY doc_id
       |)
       |SELECT w.doc_id, w.n_windows, w.n_dup_windows,
       |  CAST(COALESCE(r.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(COALESCE(r.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  CAST(COALESCE(r.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
       |FROM wc w LEFT JOIN rep r ON w.doc_id = r.doc_id
       |ORDER BY w.doc_id""".stripMargin

  /** Gaps-and-islands over (doc_id, pos) window positions: merge
    * consecutive positions while token intervals overlap (gap <
    * window), emit one row per maximal span with its exact token mass.
    * Windows are per-document partitions — bounded by document length,
    * never a global sort.
    */
  private[graft] def spanIslands(positions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    positions
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("is_start",
        (col("prev").isNull || (col("pos") - col("prev")) >= SubstringWindow).cast("int"))
      .withColumn("island", sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg((max("pos") - min("pos") + SubstringWindow).as("span_tokens"))
  }

  /** q181's span extraction over any documents frame (doc_id, text). */
  private[graft] def duplicatedSpansOf(d: DataFrame): DataFrame = {
    val ex = d.select(col("doc_id"),
      posexplode(call_function("shingle_hashes_all", col("text"),
        lit(SubstringWindow))).as(Seq("pos", "h")))
    val freq = ex.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val wc = ex.join(freq.withColumn("dup", lit(true)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), Det.countIf(col("dup")).as("n_dup_windows"))
    val spans = spanIslands(ex.join(freq, Seq("h"), "left_semi").select("doc_id", "pos"))
    val rep = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("span_tokens").cast("long").as("dup_tokens"),
        max("span_tokens").cast("long").as("max_span_tokens"))
    wc.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"))
      .orderBy("doc_id")
  }

  /** q181 — MAXIMAL duplicated-span extraction (the span form of exact
    * substring dedup, Lee et al. 2022): q48 says WHETHER a document is
    * duplicative; this says WHERE — per document, the maximal token
    * spans every one of whose $SubstringWindow-token windows occurs at
    * least twice in the corpus (within-document repeats included).
    * Consecutive duplicated window positions merge while their token
    * intervals overlap (gap < window), so span token masses are the
    * exact size of the covered-token UNION — what a surgical cut
    * removes, the q136/q137 scalpel pointed at self-duplication instead
    * of benchmark contamination. Short-document fallback windows count
    * as one window of w tokens (both engines, by convention). At 100 TB:
    * one hash aggregate decides duplication; the islands pass runs in
    * per-document window partitions, never a global sort.
    */
  val q181 = Q("q181_duplicated_spans", q181OracleSql) { (s, dir) =>
    duplicatedSpansOf(docs(s, dir))
  }

  // ── q182: keep-first span scrub plan ──────────────────────────────────

  /** Position-key packing for first-occurrence attribution: positions
    * are < 10⁵ per document (the corpus tops out around 10² tokens), so
    * doc_id·10⁵ + pos orders (doc_id, pos) pairs exactly in one BIGINT.
    */
  private val SpanPosKey = 100000L

  /** q182's oracle over a `corpus` relation (q209: the survivors). */
  private[ops] def q182OracleSql(corpus: String = "documents"): String =
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM $corpus
       |), tt AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM tk
       |  WHERE len(t) >= $SubstringWindow
       |), ph AS (
       |  SELECT doc_id, n_tokens,
       |    [struct_pack(pos := i - 1, h := ${OracleSql.h60(s"array_to_string(t[i:i+${SubstringWindow - 1}], ' ')")}) for i in range(1, len(t) - ${SubstringWindow - 2})] AS ps
       |  FROM tt
       |), ex AS (
       |  SELECT doc_id, n_tokens, unnest(ps, recursive := true) FROM ph
       |), fq AS (
       |  SELECT h, COUNT(*) AS n, MIN(doc_id * $SpanPosKey + pos) AS first_key
       |  FROM ex GROUP BY h
       |), cut AS (
       |  SELECT e.doc_id, e.pos FROM ex e JOIN fq ON e.h = fq.h
       |  WHERE fq.n >= 2 AND e.doc_id * $SpanPosKey + e.pos > fq.first_key
       |), ${spanCtes("cut")}, rep AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS cut_spans,
       |    CAST(SUM(span_tokens) AS BIGINT) AS cut_tokens
       |  FROM spans GROUP BY doc_id
       |), base AS (
       |  SELECT DISTINCT doc_id, n_tokens FROM tt
       |)
       |SELECT b.doc_id, b.n_tokens,
       |  CAST(COALESCE(r.cut_spans, 0) AS BIGINT) AS cut_spans,
       |  CAST(COALESCE(r.cut_tokens, 0) AS BIGINT) AS cut_tokens,
       |  b.n_tokens - CAST(COALESCE(r.cut_tokens, 0) AS BIGINT) AS kept_tokens,
       |  b.n_tokens = CAST(COALESCE(r.cut_tokens, 0) AS BIGINT) AS fully_cut
       |FROM base b LEFT JOIN rep r ON b.doc_id = r.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** Span-eligible docs with their positional window hashes. */
  private def spanWindows(d: DataFrame): (DataFrame, DataFrame) = {
    val toks = d.select(col("doc_id"),
      size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tokens"), col("text"))
      .filter(col("n_tokens") >= SubstringWindow)
    val ex = toks.select(col("doc_id"),
      posexplode(call_function("shingle_hashes_all", col("text"),
        lit(SubstringWindow))).as(Seq("pos", "h")))
    (toks, ex)
  }

  /** One batch's window cells — (h, n, first_key) with SUM-mergeable n
    * and MIN-mergeable first_key, so a streaming sink can maintain the
    * whole first-occurrence duplication state as documents land.
    */
  private[graft] def spanWindowCells(d: DataFrame): DataFrame = {
    val (_, ex) = spanWindows(d)
    ex.groupBy("h")
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("doc_id") * SpanPosKey + col("pos")).as("first_key"))
  }

  /** The positional-window inverted index of a batch: DISTINCT
    * (h, doc_id) pairs — the erasure accelerator beside the cell store
    * (see [[graft.streaming.CorpusStream.writeSpanIndexDelta]]).
    */
  private[graft] def spanWindowIndex(d: DataFrame): DataFrame = {
    val (_, ex) = spanWindows(d)
    ex.select(col("h"), col("doc_id")).distinct()
  }

  /** q182's plan for `d` against (possibly unfolded) window cells — the
    * fold is the first aggregation, so batch and store-served paths
    * share this code.
    */
  private[graft] def spanScrubFromCells(d: DataFrame, cells: DataFrame): DataFrame = {
    val (toks, ex) = spanWindows(d)
    scrubFromParts(toks, ex, cells)
  }

  private def scrubFromParts(toks: DataFrame, ex: DataFrame,
      cells: DataFrame): DataFrame = {
    val fq = cells.groupBy("h")
      .agg(sum("n").cast("long").as("n"), min("first_key").as("first_key"))
    val cut = ex.join(fq, Seq("h"))
      .filter(col("n") >= 2 &&
        col("doc_id") * SpanPosKey + col("pos") > col("first_key"))
      .select("doc_id", "pos")
    val rep = spanIslands(cut).groupBy("doc_id")
      .agg(count(lit(1)).as("cut_spans"),
        sum("span_tokens").cast("long").as("cut_tokens"))
    toks.select("doc_id", "n_tokens")
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cut_spans"), lit(0L)).as("cut_spans"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"),
        (col("n_tokens") - coalesce(col("cut_tokens"), lit(0L))).as("kept_tokens"),
        (col("n_tokens") === coalesce(col("cut_tokens"), lit(0L))).as("fully_cut"))
      .orderBy("doc_id")
  }

  /** q182's scrub plan over any documents frame (doc_id, text) — the
    * windows are built once and feed both the cell aggregate and the
    * cut join.
    */
  private[graft] def spanScrubPlanOf(d: DataFrame): DataFrame = {
    val (toks, ex) = spanWindows(d)
    val cells = ex.groupBy("h")
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("doc_id") * SpanPosKey + col("pos")).as("first_key"))
    scrubFromParts(toks, ex, cells)
  }

  /** q182 — the keep-first SPAN SCRUB PLAN: q181 located the duplicated
    * spans; this applies production dedup semantics to them — every
    * duplicated window keeps its FIRST corpus occurrence (min (doc_id,
    * pos), packed into one BIGINT key) and is cut everywhere else, so
    * exactly one copy of every duplicated substring survives (Lee et
    * al. 2022's removal rule). Cut positions merge into maximal spans
    * (token-interval overlap), and the per-doc plan reports spans to
    * cut, exact cut/kept token masses, and the fully-cut flag a
    * whole-doc dedup pass consumes. Documents shorter than the window
    * are excluded — they are whole-doc dedup's job (q30), not span
    * surgery's. Scale shape: one hash aggregate carries both the
    * duplication verdict AND the argmin first-occurrence key; islands
    * ride per-document window partitions.
    */
  val q182 = Q("q182_span_scrub_plan", q182OracleSql()) { (s, dir) =>
    spanScrubPlanOf(docs(s, dir))
  }

  // ── q49: blocked record linkage ───────────────────────────────────────

  val LinkageMaxDistance = 2
  /** Sorted-neighborhood window: each record is compared with at most this
    * many sort-successors (and, via the symmetric explode, the same number
    * of predecessors) inside its block.
    */
  val LinkageWindow = 10

  private val q49OracleSql =
    s"""WITH c AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
       |), r AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
       |    ROW_NUMBER() OVER (PARTITION BY c_nationkey, c_mktsegment
       |                       ORDER BY c_name, c_custkey) AS rn
       |  FROM c
       |), o AS (
       |  SELECT CAST(unnest(range(1, ${LinkageWindow + 1})) AS BIGINT) AS o
       |), p AS (
       |  SELECT a.c_custkey AS ka, b.c_custkey AS kb, levenshtein(a.c_name, b.c_name) AS d
       |  FROM r a CROSS JOIN o JOIN r b
       |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
       |   AND b.rn = a.rn + o.o
       |), sym AS (
       |  SELECT ka AS k, kb AS pk, d FROM p
       |  UNION ALL
       |  SELECT kb AS k, ka AS pk, d FROM p
       |), best AS (
       |  SELECT k, pk, d, ROW_NUMBER() OVER (PARTITION BY k ORDER BY d, pk) AS rn
       |  FROM sym
       |)
       |SELECT c.c_custkey, b.pk AS best_match_key, CAST(b.d AS INTEGER) AS best_distance,
       |  (b.d <= $LinkageMaxDistance) AS is_match
       |FROM c LEFT JOIN (SELECT k, pk, d FROM best WHERE rn = 1) b ON c.c_custkey = b.k
       |ORDER BY c.c_custkey""".stripMargin

  /** Size-bounded candidate pairs for record linkage: sorted-neighborhood
    * within (nation, segment) blocks. Records are ranked by (name, key)
    * inside each block and each record pairs only with its next
    * `window` sort-neighbors, realized as an offset-explode EQUI-join on
    * (block, rank) — never a within-block cross product. Candidate count
    * is ≤ rows × window whatever the block-size distribution, so the cost
    * law is LINEAR in corpus size (spec-pinned in ScaleOpsSpec), unlike
    * naive blocking whose per-block B² blows up when a fixed-cardinality
    * key (here ~125 (nation, segment) cells) meets a growing corpus.
    * Near-duplicate names sort adjacently, which is what makes the window
    * a faithful linkage candidate set (Hernández & Stolfo's classic
    * sorted-neighborhood method).
    */
  def linkageCandidates(c0: DataFrame, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byName = Window.partitionBy("c_nationkey", "c_mktsegment")
      .orderBy("c_name", "c_custkey")
    val r = c0.withColumn("rn", row_number().over(byName))
    val probes = r.select(col("c_custkey").as("ka"), col("c_name").as("na"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("ms"), col("rn"))
      .withColumn("rn_b", explode(sequence(col("rn") + 1, col("rn") + window)))
    val targets = r.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
      col("c_nationkey").as("nk2"), col("c_mktsegment").as("ms2"),
      col("rn").as("rn_b2"))
    probes.join(targets,
        col("nk") === col("nk2") && col("ms") === col("ms2") &&
          col("rn_b") === col("rn_b2"))
      .select(col("ka"), col("kb"), levenshtein(col("na"), col("nb")).as("d"))
  }

  /** q49 — record linkage: every customer's nearest neighbor by edit
    * distance among its sorted-neighborhood candidates (see
    * `linkageCandidates` for the scale story). The argmin is one hash
    * aggregate over a both-orientations explode of each pair — no window
    * sort, same shape as q33.
    */
  val q49 = Q("q49_record_linkage", q49OracleSql) { (s, dir) =>
    val c0 = Catalog.table(s, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val pairs = linkageCandidates(c0, LinkageWindow)
    val sym = pairs.select(explode(array(
        struct(col("ka").as("k"), col("kb").as("pk"), col("d")),
        struct(col("kb").as("k"), col("ka").as("pk"), col("d")))).as("p"))
      .select(col("p.k"), col("p.pk"), col("p.d"))
    val best = sym.groupBy("k")
      .agg(min(struct(col("d"), col("pk"))).as("m"))
      .select(col("k").as("c_custkey"), col("m.pk").as("best_match_key"),
        col("m.d").as("best_distance"))
    c0.select("c_custkey").join(best, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("best_match_key"), col("best_distance"),
        (col("best_distance") <= LinkageMaxDistance).as("is_match"))
      .orderBy("c_custkey")
  }

  // ── q92: hashed linear quality classifier ─────────────────────────────

  val ClassifierBuckets = 64

  /** Fixed seeded weight table (integers in [-5, 5]) — stands in for a
    * trained fasttext/logreg quality model; inlined into the oracle SQL
    * from the same values so the scores are bit-checkable.
    */
  val classifierWeights: Seq[Long] = {
    val rnd = new scala.util.Random(777)
    Seq.fill(ClassifierBuckets)((rnd.nextInt(11) - 5).toLong)
  }

  /** Oracle fragment: the per-token mean quality score of an `sc`
    * (n_tokens, score) row, 4-decimal — the mirror of `linear_score`'s mean.
    */
  private def qualityMeanSql: String =
    s"CASE WHEN n_tokens = 0 THEN 0.0 ELSE ${OracleSql.round4("CAST(score AS DOUBLE) / n_tokens")} END"

  private def q92OracleSql: String = {
    val w = classifierWeights.mkString("[", ", ", "]")
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), hs AS (
       |  SELECT doc_id, list_transform(t, s -> ${OracleSql.h60("s")}) AS hh FROM tk
       |), sc AS (
       |  SELECT doc_id, CAST(len(hh) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(list_sum(list_transform(hh,
       |      h -> list_extract($w, CAST(h % $ClassifierBuckets AS BIGINT) + 1))), 0) AS BIGINT) AS score
       |  FROM hs
       |)
       |SELECT doc_id, n_tokens, score,
       |  $qualityMeanSql AS quality_score,
       |  ($qualityMeanSql > 0.0) AS is_quality
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** q92 — model-based quality scoring: per-token hashed-bucket weights
    * summed into a document score (term-frequency weighted), thresholded
    * on the per-token mean. One fused codegen projection per row — the
    * operator an LLM-corpus quality gate runs over every document, with
    * zero shuffle until the final sort.
    */
  val q92 = Q("q92_quality_classifier", q92OracleSql) { (s, dir) =>
    val mean = when(col("n_tokens") === 0L, lit(0.0))
      .otherwise(Det.dround(col("score").cast("double") / col("n_tokens"), 4))
    docs(s, dir)
      .select(col("doc_id"), call_function("linear_score", col("text")).as("_ls"))
      .select(col("doc_id"), element_at(col("_ls"), 1).as("n_tokens"),
        element_at(col("_ls"), 2).as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        mean.as("quality_score"), (mean > 0.0).as("is_quality"))
      .orderBy("doc_id")
  }

  // ── q102: per-source quality calibration ──────────────────────────────

  private def q102OracleSql: String = {
    val w = classifierWeights.mkString("[", ", ", "]")
    val tier = "CASE WHEN q.quality_score >= th.p90 THEN 4 WHEN q.quality_score >= th.p70 THEN 3" +
      " WHEN q.quality_score >= th.p50 THEN 2 WHEN q.quality_score >= th.p30 THEN 1 ELSE 0 END"
    s"""WITH tk AS (
       |  SELECT doc_id, source, ${OracleSql.tokens()} AS t FROM documents
       |), hs AS (
       |  SELECT doc_id, source, list_transform(t, s -> ${OracleSql.h60("s")}) AS hh FROM tk
       |), sc AS (
       |  SELECT doc_id, source, CAST(len(hh) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(list_sum(list_transform(hh,
       |      h -> list_extract($w, CAST(h % $ClassifierBuckets AS BIGINT) + 1))), 0) AS BIGINT) AS score
       |  FROM hs
       |), sq AS (
       |  SELECT doc_id, source, $qualityMeanSql AS quality_score FROM sc
       |), ranked AS (
       |  SELECT source, doc_id, quality_score,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM sq
       |), th AS (
       |  SELECT source,
       |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.3) + 1 AS BIGINT) THEN quality_score END) AS p30,
       |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) + 1 AS BIGINT) THEN quality_score END) AS p50,
       |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.7) + 1 AS BIGINT) THEN quality_score END) AS p70,
       |    MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.9) + 1 AS BIGINT) THEN quality_score END) AS p90
       |  FROM ranked GROUP BY source, n
       |)
       |SELECT q.doc_id, q.source, q.quality_score, th.p50, th.p90,
       |  CAST($tier AS INTEGER) AS tier,
       |  ($tier >= 2) AS keep
       |FROM sq q JOIN th ON q.source = th.source
       |ORDER BY q.doc_id""".stripMargin
  }

  /** q102 — per-source quality calibration (the DCLM/FineWeb practice):
    * raw classifier scores aren't comparable across sources (web text and
    * curated text have different score distributions), so the keep
    * decision is "top share WITHIN each source". Thresholds are exact
    * per-source order statistics computed by `RankSelect.groupQuantiles`
    * — histogram rank selection whose parallelism is bounded by value
    * buckets, never a per-source corpus sort (a source at 100 TB is one
    * window partition in the naive form — the q27/q61 anti-pattern).
    * The tiny (sources × 4) threshold table then BROADCASTS back and tier
    * assignment is a pure projection: the corpus is scanned, scored, and
    * tiered with no corpus-sized shuffle at all.
    */
  val q102 = Q("q102_source_calibration", q102OracleSql) { (s, dir) =>
    val mean = when(col("n_tokens") === 0L, lit(0.0))
      .otherwise(Det.dround(col("score").cast("double") / col("n_tokens"), 4))
    val sq = docs(s, dir)
      .select(col("doc_id"), col("source"), call_function("linear_score", col("text")).as("_ls"))
      .select(col("doc_id"), col("source"),
        element_at(col("_ls"), 1).as("n_tokens"), element_at(col("_ls"), 2).as("score"))
      .select(col("doc_id"), col("source"), mean.as("quality_score"))
    val th = RankSelect.groupQuantiles(sq, "source", "quality_score", "doc_id",
      Seq("p30" -> 0.3, "p50" -> 0.5, "p70" -> 0.7, "p90" -> 0.9))
      .select(col("source"), col("p30"), col("p50"), col("p70"), col("p90"))
    val tier = when(col("quality_score") >= col("p90"), 4)
      .when(col("quality_score") >= col("p70"), 3)
      .when(col("quality_score") >= col("p50"), 2)
      .when(col("quality_score") >= col("p30"), 1)
      .otherwise(0)
    sq.join(broadcast(th), Seq("source"))
      .select(col("doc_id"), col("source"), col("quality_score"), col("p50"), col("p90"),
        tier.as("tier"), (tier >= 2).as("keep"))
      .orderBy("doc_id")
  }

  // ── q93: Bloom-filter decontamination ─────────────────────────────────

  val BloomBits = 65536                // 2^16 bits → 2048 32-bit words
  val BloomFlagThreshold = 0.3

  /** Build the benchmark Bloom filter: two probes per shingle hash
    * (low 16 bits, bits 20-35), folded into 32-bit words via bit_or.
    * ≤2048 rows regardless of benchmark size — the broadcastable index.
    */
  def bloomFilter(benchmark: DataFrame): DataFrame = {
    benchmark
      .select(explode(ShingleHashes(col("text"), Dedup.ShingleN)).as("h"))
      .select(explode(array(
        col("h").bitwiseAND(lit((BloomBits - 1).toLong)),
        shiftright(col("h"), 20).bitwiseAND(lit((BloomBits - 1).toLong)))).as("p"))
      .select(shiftright(col("p"), 5).as("w"), col("p").bitwiseAND(lit(31L)).as("b"))
      .groupBy("w")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)))").as("bits"))
  }

  private def q93OracleSql: String = {
    val m = BloomBits - 1
    s"""WITH ${OracleSql.shingleCtes()}, bex AS (
       |  SELECT unnest(hh) AS h FROM hs WHERE doc_id < 50
       |), probes AS (
       |  SELECT h & $m AS p FROM bex
       |  UNION ALL
       |  SELECT (h >> 20) & $m AS p FROM bex
       |), bloom AS (
       |  SELECT p >> 5 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS bits
       |  FROM probes GROUP BY 1
       |), cex AS (
       |  SELECT doc_id, unnest(hh) AS h FROM hs WHERE doc_id >= 50
       |), probed AS (
       |  SELECT doc_id, h & $m AS p1, (h >> 20) & $m AS p2 FROM cex
       |), tested AS (
       |  SELECT doc_id,
       |    CASE WHEN b1.bits IS NOT NULL AND ((b1.bits >> CAST(t.p1 & 31 AS INT)) & 1) = 1
       |          AND b2.bits IS NOT NULL AND ((b2.bits >> CAST(t.p2 & 31 AS INT)) & 1) = 1
       |      THEN 1 ELSE 0 END AS hit
       |  FROM probed t
       |  LEFT JOIN bloom b1 ON (t.p1 >> 5) = b1.w
       |  LEFT JOIN bloom b2 ON (t.p2 >> 5) = b2.w
       |), per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(SUM(hit) AS BIGINT) AS n_hits
       |  FROM tested GROUP BY doc_id
       |)
       |SELECT doc_id, n_shingles, n_hits,
       |  ${OracleSql.round4("CAST(n_hits AS DOUBLE) / n_shingles")} AS hit_fraction,
       |  (${OracleSql.round4("CAST(n_hits AS DOUBLE) / n_shingles")} >= $BloomFlagThreshold) AS is_flagged
       |FROM per ORDER BY doc_id""".stripMargin
  }

  /** q93 — Bloom-gate decontamination: the benchmark slice (doc_id < 50)
    * folds into a 65536-bit filter; corpus shingles test membership
    * map-side through two broadcast joins against the ≤2048-row word
    * table. Deliberately approximate (false positives ≈ the standard
    * (1-e^{-kn/m})^k curve) but one-sided: a clean doc can be flagged,
    * a contaminated one never cleared — the cheap first gate before
    * q39's exact containment join. The corpus side never shuffles.
    */
  val q93 = Q("q93_bloom_decontaminate", q93OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val bloom = bloomFilter(d.filter(col("doc_id") < 50))
    val m = (BloomBits - 1).toLong
    val probed = d.filter(col("doc_id") >= 50)
      .select(col("doc_id"), explode(ShingleHashes(col("text"), Dedup.ShingleN)).as("h"))
      .select(col("doc_id"),
        col("h").bitwiseAND(lit(m)).as("p1"),
        shiftright(col("h"), 20).bitwiseAND(lit(m)).as("p2"))
    val b1 = bloom.select(col("w").as("w1"), col("bits").as("bits1"))
    val b2 = bloom.select(col("w").as("w2"), col("bits").as("bits2"))
    val hit = when(
      col("bits1").isNotNull && col("bits2").isNotNull &&
        expr("(shiftright(bits1, CAST(p1 & 31 AS INT)) & 1) = 1") &&
        expr("(shiftright(bits2, CAST(p2 & 31 AS INT)) & 1) = 1"), 1L).otherwise(0L)
    val frac = Det.dround(col("n_hits").cast("double") / col("n_shingles"), 4)
    probed
      .join(broadcast(b1), shiftright(col("p1"), 5) === col("w1"), "left")
      .join(broadcast(b2), shiftright(col("p2"), 5) === col("w2"), "left")
      .select(col("doc_id"), hit.as("hit"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum(col("hit")).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        frac.as("hit_fraction"), (frac >= BloomFlagThreshold).as("is_flagged"))
      .orderBy("doc_id")
  }

  // ── q95: per-source token-budget selection ────────────────────────────

  /** Fraction of each source's token mass the budget admits. */
  val BudgetFraction = 0.4

  /** The q95 scoring/selection CTE body (tk/sc/q/win), shared with q119's
    * oracle so the resharder consumes exactly the selection q95 defines.
    */
  private def q95WithBody: String = {
    val w = classifierWeights.mkString("[", ", ", "]")
    s"""tk AS (
       |  SELECT doc_id, source, ${OracleSql.tokens()} AS t FROM documents
       |), sc AS (
       |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(list_sum(list_transform(t,
       |      s -> list_extract($w, CAST(${OracleSql.h60("s")} % $ClassifierBuckets AS BIGINT) + 1))), 0) AS BIGINT) AS score
       |  FROM tk
       |), q AS (
       |  SELECT doc_id, source, n_tokens, $qualityMeanSql AS quality_score FROM sc
       |), win AS (
       |  SELECT doc_id, source, n_tokens, quality_score,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source) AS tokens_total
       |  FROM q
       |)""".stripMargin
  }

  private def q95OracleSql: String =
    s"""WITH $q95WithBody
       |SELECT doc_id, source, n_tokens, quality_score,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |  CAST(FLOOR(tokens_total * $BudgetFraction) AS BIGINT) AS quota,
       |  (cum_tokens <= FLOOR(tokens_total * $BudgetFraction)) AS selected
       |FROM win ORDER BY doc_id""".stripMargin

  /** q95 — data selection under a token budget: within each source, admit
    * documents in quality order (classifier score per token, doc_id
    * tie-break) until the source's cumulative token count exceeds its
    * quota (a fixed fraction of its token mass). Both windows share the
    * same source partitioning — ONE shuffle on source, no global sort;
    * at 100 TB this is a per-source prefix scan, and a pathologically hot
    * source falls back to the PrefixSum kernel (q56's shape).
    */
  val q95 = Q("q95_token_budget", q95OracleSql) { (s, dir) =>
    val mean = when(col("n_tokens") === 0L, lit(0.0))
      .otherwise(Det.dround(col("score").cast("double") / col("n_tokens"), 4))
    val scored = docs(s, dir)
      .select(col("doc_id"), col("source"), call_function("linear_score", col("text")).as("_ls"))
      .select(col("doc_id"), col("source"),
        element_at(col("_ls"), 1).as("n_tokens"), element_at(col("_ls"), 2).as("score"))
      .select(col("doc_id"), col("source"), col("n_tokens"), mean.as("quality_score"))
      // the quality order (score desc, doc_id) as ONE integral head key:
      // quality_score is 4-decimal fixed point, so −round(q·10⁴) orders
      // exactly like q desc — which lets the per-source running total run
      // as runningTotalBy's bucket-partitioned two-pass instead of a
      // per-source window (one task per source: at 100 TB a handful of
      // sources means a handful of tasks — the SinglePartition problem
      // × |sources|, measured in §8's orderprobe)
      .withColumn("_negq", -round(col("quality_score") * lit(10000.0)).cast("long"))
      .localCheckpoint() // scoring runs once; totals + both prefix passes share it
    // per-source totals: a hash aggregate + broadcast join back, never a
    // whole-source window
    val totals = scored.groupBy("source")
      .agg(sum(col("n_tokens")).cast("long").as("tokens_total"))
    val quota = floor(col("tokens_total") * BudgetFraction).cast("long")
    graft.exec.PrefixSum
      .runningTotalBy(scored, "source", Seq("_negq", "doc_id"), "n_tokens", "cum_tokens")
      .join(broadcast(totals), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality_score"),
        col("cum_tokens"), quota.as("quota"),
        (col("cum_tokens") <= quota).as("selected"))
      .orderBy("doc_id")
  }

  // ── q119: deterministic corpus resharding with manifests ─────────────

  /** Token budget per training shard (the size bound). */
  val ShardBudget = 4096L

  private def q119OracleSql: String = {
    val hkSql = OracleSql.h60("CAST(s.doc_id AS VARCHAR)")
    val chSql = OracleSql.h60(OracleSql.normalized("d.text"))
    s"""WITH $q95WithBody, sel AS (
       |  SELECT doc_id, n_tokens FROM win
       |  WHERE cum_tokens <= FLOOR(tokens_total * $BudgetFraction)
       |), h AS (
       |  SELECT s.doc_id, s.n_tokens, $hkSql AS hk, $chSql AS ch
       |  FROM sel s JOIN documents d ON s.doc_id = d.doc_id
       |), cum AS (
       |  SELECT doc_id, n_tokens, hk, ch,
       |    SUM(n_tokens) OVER (ORDER BY hk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
       |  FROM h
       |)
       |SELECT CAST(cum_before // $ShardBudget AS BIGINT) AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       |  bit_xor(ch) AS checksum,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
       |FROM cum
       |GROUP BY 1
       |ORDER BY shard_id""".stripMargin
  }

  /** q119 — deterministic resharding of the CURATED corpus into
    * size-bounded training shards, with a verification manifest: q95's
    * budget-selected documents are laid out in h60(doc_id) hash order
    * (decorrelates source/ingest order, reproducible across runs and
    * engines), a PrefixSum running token total cuts shard boundaries
    * every $ShardBudget tokens (each shard ≤ budget + one document), and
    * the manifest reports per-shard row counts plus an order-independent
    * XOR content checksum (q78's reconciliation primitive) — what a
    * training job validates before reading a shard. Scale shape: the
    * selection is q95's per-source window pass, the prefix sum is the
    * PrefixSum kernel (NO single-partition window — bucketed two-pass
    * scan), and the manifest is one hash aggregate over shard_id; output
    * rows = shard count, growing with corpus tokens / budget. Re-running
    * on the same corpus is byte-identical (spec-pinned): every step is a
    * pure function of content hashes.
    */
  val q119 = Q("q119_reshard_manifest", q119OracleSql) { (s, dir) =>
    val sel = q95.fn(s, dir).filter(col("selected"))
      .select(col("doc_id"), col("n_tokens"))
    val h = sel.join(docs(s, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        Dedup.h60Col(col("doc_id").cast("string")).as("hk"),
        Dedup.h60Col(TextOps.normalized(col("text"))).as("ch"))
    val cum = graft.exec.PrefixSum.runningTotal(h, "hk", "n_tokens", "cum")
      .withColumn("cum_before", col("cum") - col("n_tokens"))
    cum.groupBy(expr(s"CAST(cum_before div $ShardBudget AS BIGINT)").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("shard_tokens"),
        expr("bit_xor(ch)").as("checksum"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("shard_id")
  }

  // ── q123: fixed hash-range shard manifest (streaming-foldable) ───────

  /** Number of fixed hash-range shards; range width over the 60-bit h60
    * space is 2^60 / ShardCount. */
  val ShardCount = 16
  private val ShardRangeWidth = (1L << 60) / ShardCount

  /** Per-document shard statistics — the SHARED projection of batch q123
    * and the streaming manifest fold (ShardStream), so the two paths can
    * never diverge: shard assignment is a pure function of the content
    * hash (hk div rangeWidth), token count is q54's tokenizer, and the
    * checksum key is q119's normalized-text h60. `nShards` parameterizes
    * the range count (q123 pins 16; q125 exercises 8 — any divisor of
    * the 60-bit space works, the width is 2^60 / nShards).
    */
  def shardStats(d: DataFrame, nShards: Int = ShardCount): DataFrame = {
    val width = (1L << 60) / nShards
    d.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        Dedup.h60Col(col("doc_id").cast("string")).as("hk"),
        Dedup.h60Col(TextOps.normalized(col("text"))).as("ch"))
      .withColumn("shard_id", expr(s"CAST(hk div $width AS BIGINT)"))
  }

  /** Manifest aggregate over a shard-stats frame: every column is
    * associative AND commutative (count/sum add, XOR combines, min/max
    * compose), so per-batch partial manifests fold to the whole-corpus
    * manifest under ANY batch boundaries — the property the streaming
    * twin rides (StreamingSpec-pinned).
    */
  def shardManifest(stats: DataFrame): DataFrame = stats
    .groupBy(col("shard_id"))
    .agg(count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).cast("long").as("shard_tokens"),
      expr("bit_xor(ch)").as("checksum"),
      min(col("doc_id")).as("min_doc_id"),
      max(col("doc_id")).as("max_doc_id"))
    .orderBy("shard_id")

  private def q123OracleSql: String = {
    val hkSql = OracleSql.h60("CAST(doc_id AS VARCHAR)")
    val chSql = OracleSql.h60(OracleSql.normalized())
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(len(${OracleSql.tokens()}) AS BIGINT) AS n_tokens,
       |    $hkSql AS hk, $chSql AS ch
       |  FROM documents
       |)
       |SELECT CAST(hk // $ShardRangeWidth AS BIGINT) AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       |  bit_xor(ch) AS checksum,
       |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       |  CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
       |FROM h
       |GROUP BY 1
       |ORDER BY shard_id""".stripMargin
  }

  /** q123 — FIXED hash-range sharding of the corpus with the same
    * verification manifest as q119, built to be maintained INCREMENTALLY:
    * q119 cuts exactly-size-bounded shards with a global prefix sum (a
    * batch job's layout — inserting one document shifts every later
    * boundary), while q123 assigns each document to one of $ShardCount
    * fixed h60 ranges as a pure per-row function. The trade is balance
    * (shard mass varies binomially around tokens/$ShardCount instead of
    * being cut at exact budgets) for MERGEABILITY: the manifest is an
    * associative fold, so document deltas landing in any order fold into
    * the artifact without rescanning history — the streaming half lives
    * in ShardStream, spec-pinned equal to this query. Scale shape: one
    * map pass + one $ShardCount-group hash aggregate; no window, no
    * prefix sum, no shuffle beyond the final 16-row rollup.
    */
  val q123 = Q("q123_hash_shard_manifest", q123OracleSql) { (s, dir) =>
    shardManifest(shardStats(docs(s, dir)))
  }

  /** Shard count for the q125 membership listing — deliberately NOT
    * q123's, to exercise the parameterization. */
  val MembershipShards = 8

  private def q125OracleSql: String = {
    val width = (1L << 60) / MembershipShards
    val hkSql = OracleSql.h60("CAST(doc_id AS VARCHAR)")
    val chSql = OracleSql.h60(OracleSql.normalized())
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(len(${OracleSql.tokens()}) AS BIGINT) AS n_tokens,
       |    $hkSql AS hk, $chSql AS ch
       |  FROM documents
       |)
       |SELECT CAST(hk // $width AS BIGINT) AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
       |  bit_xor(ch) AS checksum,
       |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY hk, doc_id), ',')
       |    AS doc_order
       |FROM h
       |GROUP BY 1
       |ORDER BY shard_id""".stripMargin
  }

  /** q125 — shard MEMBERSHIP: the manifest plus each shard's ordered
    * document list (hash order — the read order a training job consumes,
    * q119's decorrelation argument), at a different shard count than
    * q123 to exercise `shardStats`' parameterization. This is the last
    * mile before a training run: the reader takes (shard_id → doc ids in
    * order) and validates n_docs/checksum against the manifest columns
    * beside it. Scale shape: the list aggregate is the only addition —
    * per-shard output is corpus/nShards ids, the one deliberately
    * corpus-proportional column (a membership table IS its data); the
    * aggregate is still a single hash agg on shard_id, and at 100 TB the
    * natural emission is one membership FILE per shard (partitionBy on
    * the same frame), not one row — the row form is what the oracle can
    * hash-check.
    */
  val q125 = Q("q125_shard_membership", q125OracleSql) { (s, dir) =>
    shardStats(docs(s, dir), MembershipShards)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("shard_tokens"),
        expr("bit_xor(ch)").as("checksum"),
        expr("array_join(transform(array_sort(collect_list(struct(hk, doc_id))), " +
          "r -> CAST(r.doc_id AS STRING)), ',')").as("doc_order"))
      .orderBy("shard_id")
  }

  // ── q96: winnowing fingerprint sketches ───────────────────────────────

  val WinnowK = 3                      // k-gram width (tokens)
  val WinnowWindow = 4                 // winnowing window (k-grams)
  val WinnowDupThreshold = 0.5

  /** Winnowed sketch column: min hash of each w-window over the
    * positional k-gram hashes, deduplicated. Guarantee (Schleimer et al.
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting"):
    * any shared run of w+k-1 tokens shares ≥1 selected fingerprint, at
    * ~2/(w+1) of the k-gram count — the sketch that replaces full window
    * sets at 100 TB. One fused codegen pass per row (monotonic-deque
    * sliding min); `winnowSketchTree` is the spec-pinned built-in-tree
    * reference.
    */
  def winnowSketch(text: Column): Column = {
    val ws = ShingleHashes.winnow(text, WinnowK, WinnowWindow)
    slice(ws, lit(2), size(ws) - 1)
  }

  /** The built-in-HOF formulation (transform(sequence)/slice/array_min) —
    * kept as the bit-equal reference tree for the fused kernel; the SQL
    * arithmetic the oracle mirrors. Interpreted lambdas re-slice per
    * window, so this form is ~10× the kernel's cost on the bench.
    */
  private[graft] def winnowSketchTree(text: Column): Column = {
    val hw = ShingleHashes.positional(text, WinnowK)
    array_distinct(
      when(size(hw) >= WinnowWindow,
        transform(sequence(lit(1), size(hw) - (WinnowWindow - 1)),
          i => array_min(slice(hw, i, lit(WinnowWindow)))))
        .otherwise(array(array_min(hw))))
  }

  private def q96OracleSql: String = {
    val (k, w) = (WinnowK, WinnowWindow)
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(t) >= $k
       |    THEN [array_to_string(t[i:i+${k - 1}], ' ') for i in range(1, len(t) - ${k - 2})]
       |    ELSE [array_to_string(t, ' ')] END AS ss FROM tk
       |), hs AS (
       |  SELECT doc_id, list_transform(ss, s -> ${OracleSql.h60("s")}) AS hw FROM sh
       |), sk AS (
       |  SELECT doc_id, len(hw) AS n_kgrams,
       |    list_distinct(CASE WHEN len(hw) >= $w
       |      THEN [list_min(hw[i:i+${w - 1}]) for i in range(1, len(hw) - ${w - 2})]
       |      ELSE [list_min(hw)] END) AS sketch
       |  FROM hs
       |), ex AS (
       |  SELECT doc_id, unnest(sketch) AS fp FROM sk
       |), df AS (
       |  SELECT fp, COUNT(*) AS n_docs FROM ex GROUP BY fp
       |), per AS (
       |  SELECT ex.doc_id, CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fps
       |  FROM ex JOIN df ON ex.fp = df.fp GROUP BY ex.doc_id
       |)
       |SELECT sk.doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
       |  CAST(len(sketch) AS BIGINT) AS sketch_size, per.n_dup_fps,
       |  ${OracleSql.round4("CAST(per.n_dup_fps AS DOUBLE) / len(sketch)")} AS dup_fraction,
       |  (${OracleSql.round4("CAST(per.n_dup_fps AS DOUBLE) / len(sketch)")} >= $WinnowDupThreshold) AS is_winnow_dup
       |FROM sk JOIN per ON sk.doc_id = per.doc_id
       |ORDER BY sk.doc_id""".stripMargin
  }

  /** q96 — winnowing dedup report: per doc, the sketch size and how many
    * of its winnowed fingerprints occur in other documents. Same
    * two-shuffle shape as q48 but over the ~2/(w+1)-compressed sketch —
    * the variant that keeps the fingerprint table sub-corpus-sized.
    */
  val q96 = Q("q96_winnowing", q96OracleSql) { (s, dir) =>
    val sk = docs(s, dir)
      .select(col("doc_id"), ShingleHashes.winnow(col("text"), WinnowK, WinnowWindow).as("ws"))
      .select(col("doc_id"), element_at(col("ws"), 1).as("n_kgrams"),
        slice(col("ws"), lit(2), size(col("ws")) - 1).as("sketch"))
    val ex = sk.select(col("doc_id"), explode(col("sketch")).as("fp"))
    val dfreq = ex.groupBy("fp").agg(count(lit(1)).as("n_docs"))
    val per = ex.join(dfreq, Seq("fp"))
      .groupBy("doc_id")
      .agg(Det.countIf(col("n_docs") >= 2).as("n_dup_fps"))
    val frac = Det.dround(col("n_dup_fps").cast("double") / col("sketch_size"), 4)
    sk.select(col("doc_id"), col("n_kgrams"), size(col("sketch")).cast("long").as("sketch_size"))
      .join(per, Seq("doc_id"))
      .select(col("doc_id"), col("n_kgrams"), col("sketch_size"), col("n_dup_fps"),
        frac.as("dup_fraction"), (frac >= WinnowDupThreshold).as("is_winnow_dup"))
      .orderBy("doc_id")
  }

  // ── q148: seeded epoch shuffle (deterministic training order) ─────────

  /** Shard fan-out of the epoch order. At 100 TB this is the number of
    * independently-consumable order files per epoch (thousands on a real
    * cluster); each shard's internal order is a bounded local sort.
    */
  val EpochShards = 16

  private def q148OracleSql: String =
    s"""WITH epochs AS (SELECT 1 AS epoch UNION ALL SELECT 2),
       |keyed AS (
       |  SELECT e.epoch, d.doc_id,
       |    ${OracleSql.h60("CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} AS k
       |  FROM documents d CROSS JOIN epochs e
       |), ranked AS (
       |  SELECT epoch, doc_id, k, k % $EpochShards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY epoch, k % $EpochShards ORDER BY k, doc_id) AS pos
       |  FROM keyed
       |)
       |SELECT epoch, shard, COUNT(*) AS n_docs,
       |  CAST(SUM(pos * doc_id) AS BIGINT) AS ord_dot,
       |  MIN(k) AS first_key
       |FROM ranked GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  /** The per-doc (epoch, doc_id, k, shard, pos) order frame — shared by
    * the q148 rollup and the MiningSpec permutation-property checks.
    */
  private[graft] def epochOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs(s, dir).select(col("doc_id"))
      .withColumn("epoch", explode(array(lit(1), lit(2))))
      .withColumn("k", Dedup.h60Col(
        concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", col("k") % EpochShards)
    val w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    keyed.withColumn("pos", row_number().over(w))
  }

  /** q148 — seeded epoch shuffle: the deterministic global training
    * order a pretraining run consumes each epoch. Every (epoch, doc)
    * gets a shuffle key h60(md5(epoch:doc_id)); the key's low bits pick
    * one of [[EpochShards]] shards and the key orders docs WITHIN the
    * shard — so "shuffle 100 TB" is one hash shuffle plus per-shard
    * local sorts (each window partition is one shard of one epoch,
    * bounded by corpus/shards), never a global sort and never an
    * `Exchange SinglePartition`. Different epochs = different keys =
    * independent permutations, reproducible across runs and engines.
    * The per-shard positional checksum Σ pos·doc_id pins the ENTIRE
    * permutation (any swap of two docs changes it), so the oracle
    * verifies the order itself, not just membership.
    */
  val q148 = Q("q148_epoch_shuffle", q148OracleSql) { (s, dir) =>
    epochOrder(s, dir)
      .groupBy("epoch", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("pos") * col("doc_id")).cast("long").as("ord_dot"),
        min(col("k")).as("first_key"))
      .orderBy("epoch", "shard")
  }

  // ── q149: weighted mixture interleave schedule ────────────────────────

  /** q149 — deterministic weighted round-robin interleave: the SCHEDULE
    * twin of the q62/q111 mixture SAMPLERS. Each source s gets an
    * integer weight w_s (parsed from the source name so both engines
    * derive it identically); one cycle of the schedule is the sources in
    * lexicographic order, w_s consecutive slots each (cycle length
    * L = Σ w_s). The r-th document of source s (0-based, ordered by
    * doc_id) lands at slot (r div w_s)·L + off_s + (r mod w_s) — pure
    * arithmetic on the within-source rank, so the whole epoch schedule
    * needs ONE distributed grouped rank ([[graft.exec.PrefixSum
    * .runningTotalBy]]: windows partitioned by (source, range-bucket),
    * never one task per source) and zero further shuffles. Slots are
    * globally unique by construction; when a source exhausts, its later
    * slots simply go unfilled (real samplers re-normalize — the schedule
    * keeps the gap so consumers can detect exhaustion). Driver state is
    * one row per source (weights/offsets), bounded by source cardinality
    * like every broadcast dim. Σ slot·doc_id pins each source's full
    * slot assignment.
    */
  private def q149OracleSql: String =
    """WITH wt AS (
      |  SELECT source, CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS w
      |  FROM (SELECT DISTINCT source FROM documents)
      |), off AS (
      |  SELECT source, w,
      |    CAST(COALESCE(SUM(w) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o,
      |    CAST(SUM(w) OVER () AS BIGINT) AS cyc
      |  FROM wt
      |), ranked AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS r0
      |  FROM documents
      |), slotted AS (
      |  SELECT r.source, r.doc_id, o.w,
      |    (r.r0 // o.w) * o.cyc + o.o + (r.r0 % o.w) AS slot
      |  FROM ranked r JOIN off o ON r.source = o.source
      |)
      |SELECT source, MAX(w) AS w, COUNT(*) AS n_docs,
      |  MIN(slot) AS first_slot, MAX(slot) AS last_slot,
      |  CAST(SUM(slot * doc_id) AS BIGINT) AS slot_dot
      |FROM slotted GROUP BY source ORDER BY source""".stripMargin

  /** The per-doc (source, doc_id, w, slot) frame — shared by the q149
    * rollup and the MiningSpec interleave-property checks.
    */
  private[graft] def interleaveSlots(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("source"), col("doc_id"))
      .withColumn("w", (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("long"))
    // weights/offsets: one row per source — the broadcast-dim bound
    val srcW = d.select("source", "w").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val cyc = srcW.map(_._2).sum
    val offsets: Map[String, Long] = {
      var acc = 0L
      srcW.map { case (src, w0) => val o = src -> acc; acc += w0; o }.toMap
    }
    graft.exec.PrefixSum
      .runningTotalBy(d.withColumn("one", lit(1L)), "source", "doc_id", "one", "r1")
      .withColumn("r0", col("r1") - 1)
      .withColumn("slot",
        expr("r0 DIV w") * lit(cyc) +
          coalesce(element_at(typedLit(offsets), col("source")), lit(0L)) +
          col("r0") % col("w"))
  }

  val q149 = Q("q149_mixture_interleave", q149OracleSql) { (s, dir) =>
    slotStats(interleaveSlots(s, dir), "source")
  }

  // ── q150: curriculum order (global total-order rank) ──────────────────

  /** Curriculum phase thresholds on q92's integer classifier score —
    * highest-quality docs first. Integer comparisons, so both engines
    * phase identically with zero float risk.
    */
  private val CurriculumCuts = Seq(10L, 0L, -10L)

  private def q150OracleSql: String = {
    val w = classifierWeights.mkString("[", ", ", "]")
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), sc AS (
       |  SELECT doc_id, CAST(COALESCE(list_sum(list_transform(
       |    list_transform(t, s -> ${OracleSql.h60("s")}),
       |    h -> list_extract($w, CAST(h % $ClassifierBuckets AS BIGINT) + 1))), 0) AS BIGINT) AS score
       |  FROM tk
       |), keyed AS (
       |  SELECT doc_id,
       |    CASE WHEN score >= ${CurriculumCuts(0)} THEN 0
       |         WHEN score >= ${CurriculumCuts(1)} THEN 1
       |         WHEN score >= ${CurriculumCuts(2)} THEN 2 ELSE 3 END AS phase,
       |    ${OracleSql.h60("'cur:' || CAST(doc_id AS VARCHAR)")} AS k
       |  FROM sc
       |), ranked AS (
       |  SELECT doc_id, phase, k % $EpochShards AS shard,
       |    ROW_NUMBER() OVER (ORDER BY phase, k % $EpochShards, k, doc_id) AS gpos
       |  FROM keyed
       |)
       |SELECT phase, COUNT(*) AS n_docs,
       |  MIN(gpos) AS first_pos, MAX(gpos) AS last_pos,
       |  CAST(SUM(gpos * doc_id) AS BIGINT) AS ord_dot
       |FROM ranked GROUP BY phase ORDER BY phase""".stripMargin
  }

  /** Per-doc curriculum keying (doc_id, n_tokens, phase, k, shard) —
    * every column a pure per-row function, shared by the q150 rank, the
    * q151 cells, and the streaming fold so they can never phase a doc
    * differently.
    */
  private[graft] def curriculumKeyed(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), call_function("linear_score", col("text")).as("_ls"))
      .select(col("doc_id"), element_at(col("_ls"), 1).as("n_tokens"),
        element_at(col("_ls"), 2).as("score"))
      .withColumn("phase",
        when(col("score") >= CurriculumCuts(0), 0)
          .when(col("score") >= CurriculumCuts(1), 1)
          .when(col("score") >= CurriculumCuts(2), 2).otherwise(3))
      .withColumn("k", Dedup.h60Col(concat(lit("cur:"), col("doc_id").cast("string"))))
      .withColumn("shard", col("k") % EpochShards)
  }

  /** The per-doc curriculum frame (doc_id, phase, shard, gpos) — shared
    * by the q150 rollup and the MiningSpec permutation checks.
    */
  private[graft] def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val keyed = curriculumKeyed(docs(s, dir))
      .withColumn("_b", col("phase").cast("long") * EpochShards + col("shard"))
    graft.exec.PrefixSum
      .globalRank(keyed, "_b", Seq("k", "doc_id"), "gpos")
      .drop("_b")
  }

  /** q150 — curriculum training order: the GLOBAL consumption order a
    * quality-phased run reads — all phase-0 (highest classifier score)
    * docs first, then phase 1, …, seeded-shuffled WITHIN each phase
    * (q148's key), every doc tagged with its 1-based position in the
    * total order. The global rank is [[graft.exec.PrefixSum.globalRank]]:
    * per-(phase, shard) counts → broadcast exclusive offsets → rank
    * within bucket — a total order over 100 TB with no global sort and
    * no `Exchange SinglePartition` (PlanSpec-pinned; the oracle's
    * ROW_NUMBER() OVER (ORDER BY …) is exactly the plan this avoids).
    * Σ gpos·doc_id per phase pins every doc's global position.
    */
  val q150 = Q("q150_curriculum_order", q150OracleSql) { (s, dir) =>
    curriculumOrder(s, dir)
      .groupBy("phase")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("gpos")).as("first_pos"),
        max(col("gpos")).as("last_pos"),
        sum(col("gpos") * col("doc_id")).cast("long").as("ord_dot"))
      .orderBy("phase")
  }

  // ── q151: curriculum plan manifest (add-mergeable cells + offsets) ────

  /** (phase, shard, n_docs, n_tokens) cells — the ADD-MERGEABLE state of
    * the curriculum order: phase and shard are pure per-row functions
    * ([[curriculumKeyed]]), so cells computed over ANY partition of the
    * corpus SUM to the whole-corpus cells — which is what lets a
    * streaming sink (OrderStream) maintain them as per-batch deltas.
    * ≤ phases × [[EpochShards]] rows.
    */
  private[graft] def curriculumCells(d: DataFrame): DataFrame =
    curriculumKeyed(d)
      .groupBy("phase", "shard")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))

  /** Cells → the plan manifest: each (phase, shard) block's global
    * position range [first_pos, last_pos] in q150's total order — the
    * exclusive prefix over cells in consumption order, i.e. exactly the
    * driver-side offset state `PrefixSum.globalRank` derives, served as
    * a table. Re-folds its input first so per-batch PARTIAL cells from
    * the delta store serve identically to one-shot cells.
    */
  private[graft] def curriculumManifest(cells: DataFrame): DataFrame = {
    val folded = cells.groupBy("phase", "shard")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .localCheckpoint() // bounded: phases × shards rows; computed once
    val counts = folded
      .select((col("phase").cast("long") * EpochShards + col("shard")).as("b"),
        col("n_docs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Long, Long] = {
      var acc = 0L
      counts.map { case (b, n) => val o = b -> acc; acc += n; o }.toMap
    }
    folded
      .withColumn("first_pos",
        element_at(typedLit(offsets),
          col("phase").cast("long") * EpochShards + col("shard")) + lit(1L))
      .withColumn("last_pos", col("first_pos") + col("n_docs") - lit(1L))
      .orderBy("phase", "shard")
  }

  private def q151OracleSql: String = {
    val w = classifierWeights.mkString("[", ", ", "]")
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), sc AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(list_sum(list_transform(
       |    list_transform(t, s -> ${OracleSql.h60("s")}),
       |    h -> list_extract($w, CAST(h % $ClassifierBuckets AS BIGINT) + 1))), 0) AS BIGINT) AS score
       |  FROM tk
       |), keyed AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN score >= ${CurriculumCuts(0)} THEN 0
       |         WHEN score >= ${CurriculumCuts(1)} THEN 1
       |         WHEN score >= ${CurriculumCuts(2)} THEN 2 ELSE 3 END AS phase,
       |    ${OracleSql.h60("'cur:' || CAST(doc_id AS VARCHAR)")} % $EpochShards AS shard
       |  FROM sc
       |), cells AS (
       |  SELECT phase, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM keyed GROUP BY phase, shard
       |)
       |SELECT phase, shard, n_docs, n_tokens,
       |  CAST(SUM(n_docs) OVER (ORDER BY phase, shard ROWS UNBOUNDED PRECEDING)
       |    - n_docs + 1 AS BIGINT) AS first_pos,
       |  CAST(SUM(n_docs) OVER (ORDER BY phase, shard ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS last_pos
       |FROM cells ORDER BY phase, shard""".stripMargin
  }

  /** q151 — curriculum PLAN manifest: per (phase, shard), the block's
    * doc/token mass and its global position range in q150's total order.
    * This is the driver-side offset state of `globalRank` served as a
    * queryable table — the "where does my block start" lookup a training
    * job does before reading a single document — and, because the cells
    * are add-mergeable, the one piece of the curriculum that can be
    * maintained INCREMENTALLY as the corpus grows (OrderStream's sink;
    * manifest off the delta store ≡ this query, StreamingSpec-pinned).
    * q150 re-sorts the corpus per run; q151 answers the planning
    * questions from phases × shards rows.
    */
  val q151 = Q("q151_curriculum_manifest", q151OracleSql) { (s, dir) =>
    curriculumManifest(curriculumCells(docs(s, dir)))
  }

  // ── q153: per-epoch pack read order ───────────────────────────────────

  private def q153OracleSql: String =
    s"""${TextOps.wrapPackCtesSql},
       |epochs AS (SELECT 1 AS epoch UNION ALL SELECT 2),
       |keyed AS (
       |  SELECT e.epoch, p.pack_id, p.pack_tokens,
       |    ${OracleSql.h60("'pk:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(p.pack_id AS VARCHAR)")} AS k
       |  FROM packs p CROSS JOIN epochs e
       |), ranked AS (
       |  SELECT epoch, pack_id, pack_tokens, k, k % $EpochShards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY epoch, k % $EpochShards ORDER BY k, pack_id) AS pos
       |  FROM keyed
       |)
       |SELECT epoch, shard, COUNT(*) AS n_packs,
       |  CAST(SUM(pos * pack_id) AS BIGINT) AS ord_dot,
       |  CAST(SUM(pack_tokens) AS BIGINT) AS shard_tokens
       |FROM ranked GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  /** q153 — the epoch shuffle at the unit a data loader actually READS:
    * q148 permutes documents, but a run over q152's wrap layout consumes
    * whole 2048-token packs (sequential I/O inside a pack, shuffle
    * ACROSS packs — the standard shard-shuffle compromise that keeps
    * randomization without random reads). Same machinery as q148 —
    * seeded key h60(pk:epoch:pack_id), shard from the low bits, rank
    * within (epoch, shard) — applied to the pack table, with per-shard
    * token mass showing the read work spreads evenly across shards. The
    * composition docs → wrap packs → per-epoch read order is the
    * pipeline a training job runs end to end.
    */
  val q153 = Q("q153_pack_epoch_order", q153OracleSql) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val keyed = TextOps.wrapPacks(s, dir)
      .withColumn("epoch", explode(array(lit(1), lit(2))))
      .withColumn("k", Dedup.h60Col(concat(lit("pk:"),
        col("epoch").cast("string"), lit(":"), col("pack_id").cast("string"))))
      .withColumn("shard", col("k") % EpochShards)
    val w = Window.partitionBy("epoch", "shard").orderBy("k", "pack_id")
    keyed.withColumn("pos", row_number().over(w))
      .groupBy("epoch", "shard")
      .agg(
        count(lit(1)).as("n_packs"),
        sum(col("pos") * col("pack_id")).cast("long").as("ord_dot"),
        sum(col("pack_tokens")).cast("long").as("shard_tokens"))
      .orderBy("epoch", "shard")
  }

  // ── q156: budget-cut resume points over the epoch order ───────────────

  private def q156OracleSql: String =
    s"""${TextOps.wrapPackCtesSql},
       |keyed AS (
       |  SELECT pack_id, pack_tokens,
       |    ${OracleSql.h60("'pk:1:' || CAST(pack_id AS VARCHAR)")} AS k
       |  FROM packs
       |), ranked AS (
       |  SELECT pack_id, pack_tokens, k, k % $EpochShards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY k % $EpochShards ORDER BY k, pack_id) AS pos,
       |    CAST(SUM(pack_tokens) OVER (ORDER BY k % $EpochShards, k, pack_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(pack_tokens) OVER () AS BIGINT) AS total
       |  FROM keyed
       |), cut AS (
       |  SELECT *, cum_tokens <= (total * 6) // 10 AS consumed FROM ranked
       |)
       |SELECT shard, COUNT(*) AS n_packs,
       |  CAST(SUM(CASE WHEN consumed THEN 1 ELSE 0 END) AS BIGINT) AS n_consumed,
       |  CAST(SUM(CASE WHEN consumed THEN pack_tokens ELSE 0 END) AS BIGINT) AS tokens_consumed,
       |  CAST(COALESCE(MAX(CASE WHEN consumed THEN pos END), 0) AS BIGINT) AS last_consumed_pos
       |FROM cut GROUP BY shard ORDER BY shard""".stripMargin

  /** q156 — WHERE a budget-cut run stops and resumes: epoch 1 of q153's
    * pack order is consumed shard by shard, pack by pack, until a token
    * budget (60 % of the corpus, exact integer arithmetic) is exhausted;
    * per shard, how many packs were consumed and the resume position.
    * The global cumulative consumption is the new
    * [[graft.exec.PrefixSum.globalRunningTotal]] — per-shard token sums
    * broadcast as offsets, within-shard window sums, never a global-sort
    * window. Because the consumed set is a PREFIX of the total order,
    * each shard's consumed packs are a prefix of ITS order —
    * last_consumed_pos = n_consumed, the invariant the spec pins and a
    * resuming loader relies on (seek to one position per shard, no
    * per-pack bookkeeping).
    */
  val q156 = Q("q156_budget_resume", q156OracleSql) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val keyed = TextOps.wrapPacks(s, dir)
      .withColumn("k", Dedup.h60Col(concat(lit("pk:1:"), col("pack_id").cast("string"))))
      .withColumn("shard", col("k") % EpochShards)
    val cum = graft.exec.PrefixSum
      .globalRunningTotal(keyed, "shard", Seq("k", "pack_id"), "pack_tokens", "cum_tokens")
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard").orderBy("k", "pack_id")))
    val total = cum.agg(sum(col("pack_tokens"))).head().getLong(0)
    val budget = total * 6 / 10
    cum.withColumn("consumed", col("cum_tokens") <= budget)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_packs"),
        Det.countIf(col("consumed")).as("n_consumed"),
        sum(when(col("consumed"), col("pack_tokens")).otherwise(0L))
          .cast("long").as("tokens_consumed"),
        coalesce(max(when(col("consumed"), col("pos"))), lit(0))
          .cast("long").as("last_consumed_pos"))
      .orderBy("shard")
  }

  // ── q157: renormalizing weighted interleave ───────────────────────────

  /** q157 — the RENORMALIZING twin of q149: when a source exhausts, the
    * schedule compacts instead of leaving its slots as gaps, so the
    * output is a dense total order 0..N-1 (what a loader that cannot
    * skip gaps consumes). The whole schedule is still pure arithmetic on
    * the within-source rank, via a SEGMENT TABLE derived from per-source
    * masses alone: between two consecutive exhaustion breakpoints every
    * active source emits exactly w_s docs per cycle, so cycle length and
    * per-source offsets are constant inside a segment. Breakpoints are
    * {0} ∪ {n_s div w_s} ∪ {ceil(n_s/w_s)} — at most 2|S|+1 segments, a
    * broadcast dim like q149's weight table. Every remainder cycle
    * (source s emits n_s mod w_s < w_s docs) is a singleton segment by
    * construction, so the per-segment emit counts are exact everywhere.
    * Per-doc work: ONE distributed grouped rank
    * ([[graft.exec.PrefixSum.runningTotalBy]] — bucket-partitioned,
    * never one task per source) plus one broadcast join against the
    * (segment × source) table; slot = base + (c - b)·L + off + (r mod w).
    * MiningSpec pins the order dense, per-source-monotone, equal to
    * q149's slots before the first breakpoint, and bit-equal to a
    * sequential weighted round-robin with removal.
    */
  private def q157OracleSql: String =
    s"""WITH ${renormSegCtesBody("documents")}, ranked AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS r0
      |  FROM documents
      |), ${slottedCte("r.source, r.doc_id, w.w")}
      |SELECT source, MAX(w) AS w, COUNT(*) AS n_docs,
      |  MIN(slot) AS first_slot, MAX(slot) AS last_slot,
      |  CAST(SUM(slot * doc_id) AS BIGINT) AS slot_dot
      |FROM slotted GROUP BY source ORDER BY source""".stripMargin

  /** One segment of the renormalizing schedule: cycles [b, e) over which
    * every active source emits a constant per-cycle count. `off` maps
    * each source to its slot offset within one cycle of this segment.
    */
  private[graft] final case class RenormSeg(idx: Int, b: Long, e: Long,
      lenCycle: Long, nActive: Long, base: Long, off: Seq[(String, Long)])

  /** The segment table, derived from per-source masses ALONE — pure
    * driver arithmetic on one row per source (the broadcast-dim bound).
    * Breakpoints are {0} ∪ {n div w} ∪ {ceil(n/w)} per source, so every
    * remainder cycle is a singleton segment and the per-segment emit
    * counts clamp(n - b·w, 0, w) hold for every cycle inside.
    * ≤ 2|S|+1 segments. Shared by q157 (slot assignment), q158 (the
    * manifest), and OrderStream's streamed serving (masses off cells).
    */
  private[graft] def renormSegments(srcWN: Seq[(String, Long, Long)]): Seq[RenormSeg] = {
    if (srcWN.isEmpty) return Seq.empty // an empty store serves an empty schedule
    val sorted = srcWN.sortBy(_._1)
    val cMax = sorted.map { case (_, w0, n0) => (n0 + w0 - 1) / w0 }.max
    val bps = (Seq(0L) ++ sorted.flatMap { case (_, w0, n0) =>
      Seq(n0 / w0, (n0 + w0 - 1) / w0) }).filter(_ < cMax).distinct.sorted
    var base = 0L
    bps.zipWithIndex.map { case (b, i) =>
      val e = if (i + 1 < bps.length) bps(i + 1) else cMax
      val em = sorted.map { case (src, w0, n0) =>
        src -> math.min(w0, math.max(n0 - b * w0, 0L)) }
      val lenCycle = em.map(_._2).sum
      var acc = 0L
      val off = em.map { case (src, x) => val o = src -> acc; acc += x; o }
      val sg = RenormSeg(i, b, e, lenCycle, em.count(_._2 > 0L), base, off)
      base += (e - b) * lenCycle
      sg
    }
  }

  /** The per-source masses (source, w, n) — ONE bounded collect. */
  private def renormMasses(d: DataFrame): Seq[(String, Long, Long)] =
    d.groupBy("source", "w").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)

  private[graft] def withRenormWeight(d: DataFrame): DataFrame =
    d.withColumn("w", (substring(col("source"), 4, 10).cast("int") % 4 + 1).cast("long"))

  /** The per-doc (source, doc_id, w, c, slot) frame for the renormalizing
    * schedule — shared by the q157 rollup, q159's budget cut, and the
    * MiningSpec property / differential checks. Driver state: one row
    * per source (masses) and ≤ 2|S|+1 segments — both bounded by source
    * cardinality. Per-doc work: one grouped rank + one broadcast join.
    */
  private[graft] def renormSlots(s: SparkSession, dir: String): DataFrame = {
    val d = withRenormWeight(docs(s, dir).select(col("source"), col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens")))
    renormSlotsOf(s, d)
  }

  private[graft] def renormSlotsOf(s: SparkSession, d0: DataFrame,
      orderCols: Seq[String] = Seq("doc_id")): DataFrame =
    renormSlotsWithMasses(s, d0, orderCols)._1

  /** renormSlotsOf plus the per-source (source, w, n) masses it already
    * collects — r14: the loader chain derives its total row count from
    * Σn instead of paying a separate count() action over a second
    * checkpoint of the slotted frame.
    */
  private[graft] def renormSlotsWithMasses(s: SparkSession, d0: DataFrame,
      orderCols: Seq[String] = Seq("doc_id")): (DataFrame, Seq[(String, Long, Long)]) = {
    val d = d0.localCheckpoint()
    val masses = renormMasses(d)
    val segs = renormSegments(masses)
    val segRows = segs.flatMap { sg =>
      sg.off.map { case (src, o) =>
        (sg.idx, sg.b, sg.e, sg.lenCycle, sg.base, src, o) } }
    val segDf = s.createDataFrame(segRows)
      .toDF("seg_idx", "b", "e", "len_cycle", "base", "src", "off")
    val ranked = graft.exec.PrefixSum
      .runningTotalBy(d.withColumn("one", lit(1L)), "source", orderCols, "one", "r1")
      .withColumn("r0", col("r1") - 1)
      .withColumn("c", expr("r0 DIV w"))
    ranked.join(broadcast(segDf),
        ranked("source") === segDf("src") &&
          col("c") >= col("b") && col("c") < col("e"))
      .withColumn("slot",
        col("base") + (col("c") - col("b")) * col("len_cycle") +
          col("off") + col("r0") % col("w"))
      .drop("src", "one", "r1") -> masses
  }

  val q157 = Q("q157_renorm_interleave", q157OracleSql) { (s, dir) =>
    slotStats(renormSlots(s, dir), "source")
  }

  /** Per-group statistics of an interleave schedule's (source, doc_id,
    * w, slot) rows, ordered by `keys`.
    */
  private def slotStats(slots: DataFrame, keys: String*): DataFrame =
    slots.groupBy(keys.map(col): _*)
      .agg(
        max(col("w")).as("w"),
        count(lit(1)).as("n_docs"),
        min(col("slot")).as("first_slot"),
        max(col("slot")).as("last_slot"),
        sum(col("slot") * col("doc_id")).cast("long").as("slot_dot"))
      .orderBy(keys.map(col): _*)

  // ── q158: renormalizing-schedule segment manifest ─────────────────────

  /** The SQL body shared by q158/q159/q161: per-source masses (over any
    * relation with a `source` column) → breakpoints → segment table with
    * cycle lengths and exclusive slot bases, and each source's in-cycle
    * slot offset `soff` per segment. Returned WITHOUT a leading
    * `WITH` so callers can prepend their own CTEs (q161 feeds the
    * upsampled row stream instead of raw documents).
    */
  private[graft] def renormSegCtesBody(rel: String): String =
    s"""wt AS (
      |  SELECT source, CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS w,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM $rel GROUP BY source
      |), cmax AS (
      |  SELECT MAX((n + w - 1) // w) AS c FROM wt
      |), bp AS (
      |  SELECT DISTINCT b FROM (
      |    SELECT CAST(0 AS BIGINT) AS b
      |    UNION ALL SELECT n // w FROM wt
      |    UNION ALL SELECT (n + w - 1) // w FROM wt
      |  ) WHERE b < (SELECT c FROM cmax)
      |), seg AS (
      |  SELECT b,
      |    COALESCE(LEAD(b) OVER (ORDER BY b), (SELECT c FROM cmax)) AS e,
      |    ROW_NUMBER() OVER (ORDER BY b) AS seg_idx
      |  FROM bp
      |), segsrc AS (
      |  SELECT s.seg_idx, s.b, s.e, w.source, w.w,
      |    LEAST(w.w, GREATEST(w.n - s.b * w.w, CAST(0 AS BIGINT))) AS em
      |  FROM seg s CROSS JOIN wt w
      |), segl AS (
      |  SELECT seg_idx, b, e, CAST(SUM(em) AS BIGINT) AS len_cycle,
      |    CAST(SUM(CASE WHEN em > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active
      |  FROM segsrc GROUP BY seg_idx, b, e
      |), segbase AS (
      |  SELECT seg_idx, b, e, len_cycle, n_active,
      |    CAST(COALESCE(SUM((e - b) * len_cycle) OVER (ORDER BY seg_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
      |  FROM segl
      |), soff AS (
      |  SELECT seg_idx, source,
      |    CAST(COALESCE(SUM(em) OVER (PARTITION BY seg_idx ORDER BY source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM segsrc
      |)""".stripMargin

  /** Oracle CTE `slotted`: each `ranked` row (`r0`, its 0-based rank
    * within its source) at its schedule slot — its segment's slot base,
    * its whole cycles into the segment, its source's offset in the cycle
    * and its place in its source's run. `cols` are the kept columns.
    */
  private def slottedCte(cols: String): String =
    s"""slotted AS (
       |  SELECT $cols,
       |    sb.base + (r.r0 // w.w - sb.b) * sb.len_cycle + so.off + (r.r0 % w.w) AS slot
       |  FROM ranked r
       |  JOIN wt w ON r.source = w.source
       |  JOIN segbase sb ON (r.r0 // w.w) >= sb.b AND (r.r0 // w.w) < sb.e
       |  JOIN soff so ON so.seg_idx = sb.seg_idx AND so.source = r.source
       |)""".stripMargin

  private def q158OracleSql: String =
    s"""WITH ${renormSegCtesBody("documents")}
       |SELECT CAST(seg_idx AS BIGINT) AS seg_idx, b AS first_cycle, e AS end_cycle,
       |  len_cycle, n_active, base AS first_slot,
       |  (e - b) * len_cycle AS n_slots
       |FROM segbase ORDER BY seg_idx""".stripMargin

  /** The segment table AS a table — [[renormSegments]] served as rows.
    * A loader uses exactly this to map a resume slot back to (cycle,
    * source) without scanning documents; the streamed twin
    * (OrderStream.segmentManifestFromDeltas) derives the same rows from
    * folded per-source mass cells with zero document rescans.
    */
  private[graft] def renormManifestDf(s: SparkSession,
      srcWN: Seq[(String, Long, Long)]): DataFrame = {
    val rows = renormSegments(srcWN).map { sg =>
      (sg.idx.toLong + 1L, sg.b, sg.e, sg.lenCycle, sg.nActive, sg.base,
        (sg.e - sg.b) * sg.lenCycle) }
    s.createDataFrame(rows).toDF("seg_idx", "first_cycle", "end_cycle",
      "len_cycle", "n_active", "first_slot", "n_slots")
  }

  val q158 = Q("q158_renorm_manifest", q158OracleSql) { (s, dir) =>
    val d = withRenormWeight(docs(s, dir).select("source", "doc_id"))
    renormManifestDf(s, renormMasses(d)).orderBy("seg_idx")
  }

  // ── q159: budget-cut resume over the renormalized order ───────────────

  private def q159OracleSql: String =
    s"""WITH ${renormSegCtesBody("documents")}, ranked AS (
       |  SELECT doc_id, source,
       |    CAST(len(${OracleSql.tokens()}) AS BIGINT) AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS r0
       |  FROM documents
       |), ${slottedCte("r.source, r.doc_id, r.n_tokens, w.w")}, cum AS (
       |  SELECT *,
       |    CAST(SUM(n_tokens) OVER (ORDER BY slot ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
       |  FROM slotted
       |), cut AS (
       |  SELECT *, cum_tokens <= (total * 6) // 10 AS consumed FROM cum
       |)
       |SELECT source, MAX(w) AS w, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN consumed THEN 1 ELSE 0 END) AS BIGINT) AS n_consumed,
       |  CAST(SUM(CASE WHEN consumed THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_consumed,
       |  CAST(COALESCE(MAX(CASE WHEN consumed THEN slot END), -1) AS BIGINT) AS last_slot
       |FROM cut GROUP BY source ORDER BY source""".stripMargin

  /** q159 — q156's budget cut applied to the RENORMALIZED mixture order:
    * consume q157's dense schedule slot by slot until a 60 %-of-corpus
    * token budget (exact integer arithmetic) exhausts; per source, the
    * consumed count/tokens and the resume point. Because per-source
    * slots ascend with doc_id, the consumed docs of every source are a
    * PREFIX of its order — one resume rank per source (spec-pinned, the
    * q156 invariant transplanted to the mixture schedule), and because
    * the schedule renormalizes, the cut preserves the intended mixture:
    * non-exhausted sources' consumed-per-weight counts differ by at most
    * one cycle (spec-pinned). Cumulative consumption rides
    * [[graft.exec.PrefixSum.globalRunningTotal]] bucketed on dense slot
    * ranges — balanced buckets, never a global-sort window.
    */
  val q159 = Q("q159_renorm_budget_resume", q159OracleSql) { (s, dir) =>
    val slotted = renormSlots(s, dir).localCheckpoint()
    val stats = slotted.agg(count(lit(1)), sum(col("n_tokens")).cast("long")).head()
    val n = stats.getLong(0)
    val budget = stats.getLong(1) * 6 / 10
    val step = n / 32 + 1
    val cum = graft.exec.PrefixSum.globalRunningTotal(
      slotted.withColumn("_slotb", expr(s"slot DIV $step")),
      "_slotb", Seq("slot"), "n_tokens", "cum_tokens")
    consumption(cum.withColumn("consumed", col("cum_tokens") <= budget),
      Seq(max(col("w")).as("w")), "source")
  }

  /** Per-group budget consumption of slotted (slot, n_tokens, consumed)
    * rows: the `leading` aggregates, then n_docs, n_consumed,
    * tokens_consumed and last_slot, ordered by `keys`.
    */
  private def consumption(flagged: DataFrame, leading: Seq[Column],
      keys: String*): DataFrame = {
    val stats = leading ++ Seq(count(lit(1)).as("n_docs"),
      Det.countIf(col("consumed")).as("n_consumed"),
      sum(when(col("consumed"), col("n_tokens")).otherwise(0L))
        .cast("long").as("tokens_consumed"),
      coalesce(max(when(col("consumed"), col("slot"))), lit(-1L))
        .cast("long").as("last_slot"))
    flagged.groupBy(keys.map(col): _*).agg(stats.head, stats.tail: _*)
      .orderBy(keys.map(col): _*)
  }

  // ── q161: the loader chain end to end ─────────────────────────────────

  /** The chain tail shared by q161/q168: upsampled copy rows → renorm
    * segment schedule → 2048-token wrap packs. Expects
    * `perdoc(source, doc_id, toks, copies)` in scope; begins with a
    * leading comma so callers append it to their recipe CTEs.
    */
  private def loaderChainTailSql: String =
    s""", rows_ AS (
       |  SELECT source, doc_id, unnest(range(1, copies + 1)) AS copy_idx, toks
       |  FROM perdoc WHERE copies > 0
       |), ${renormSegCtesBody("rows_")}, ranked AS (
       |  SELECT source, doc_id, copy_idx, toks,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id, copy_idx) - 1 AS r0
       |  FROM rows_
       |), ${slottedCte("r.source, r.doc_id, r.copy_idx, r.toks")}, cum AS (
       |  SELECT *,
       |    CAST(SUM(toks) OVER (ORDER BY slot ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
       |  FROM slotted
       |), sp AS (
       |  SELECT source, doc_id, copy_idx, slot, c - toks AS st, c AS en
       |  FROM cum WHERE toks > 0
       |), ex AS (
       |  SELECT source, doc_id, copy_idx, slot, st, en,
       |    unnest(range(st // 2048, (en - 1) // 2048 + 1)) AS pack_id
       |  FROM sp
       |)
       |SELECT pack_id,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN st >= pack_id * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_starting,
       |  CAST(SUM(CASE WHEN st < pack_id * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrapped_in,
       |  CAST(SUM(LEAST(en, (pack_id + 1) * 2048) - GREATEST(st, pack_id * 2048)) AS BIGINT) AS pack_tokens,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(SUM(CASE WHEN copy_idx > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_upsampled,
       |  MIN(slot) AS first_slot, MAX(slot) AS last_slot
       |FROM ex GROUP BY pack_id ORDER BY pack_id""".stripMargin

  private def q161OracleSql: String =
    s"${TextOps.recipeCtesSql}$loaderChainTailSql"

  /** q161 — the LOADER CHAIN as one checked operator: temperature recipe
    * (q111) → materialized copies (q160's integer+fractional rule) →
    * renormalized mixture interleave over the UPSAMPLED stream (q157's
    * segment table, per-source order (doc_id, copy_idx)) → 2048-token
    * wrap packs over the schedule's token stream (q152's span explode).
    * This is literally what a pretraining job reads: pack p holds the
    * tokens of schedule slots around p·2048, sources interleaved per the
    * recipe, upsampled copies of one doc landing cycles apart. Per pack:
    * rows touched/started/wrapped, exact fill, distinct sources (the
    * mixture realized at pack granularity), upsampled-copy count, slot
    * span. Every stage keeps its scale shape: broadcast recipe, in-row
    * copy explode, grouped rank + broadcast segment join, slot-bucketed
    * running total, in-row pack explode — the stream shuffles only for
    * the rank windows and the final rollup.
    */
  val q161 = Q("q161_recipe_loader_chain", q161OracleSql) { (s, dir) =>
    loaderChainPacks(s, docs(s, dir).select(col("source"), col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("toks")))
  }

  /** The full loader chain over any (source, doc_id, toks) frame —
    * shared by q161 and the ScaleKernelPropSpec differential fuzz (the
    * whole chain vs a sequential simulation on random corpora).
    */
  private[graft] def loaderChainPacks(s: SparkSession, tok: DataFrame): DataFrame = {
    val fac = TextOps.recipeFactorsOf(tok)
    val perDoc = tok
      .join(broadcast(fac.select("source", "repeat_x", "frac_bp")), "source")
      .withColumn("copies", col("repeat_x") +
        when(Dedup.h60Col(concat(lit("up:"), col("source"), lit(":"),
          col("doc_id").cast("string"))) % 10000 < col("frac_bp"), 1L).otherwise(0L))
    val rows = perDoc.filter(col("copies") > 0)
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(1L), col("copies"))).as("copy_idx"), col("toks"))
    // r14: the total row count is Σ per-source masses (already collected
    // by the slot pass), so the separate count() action — and the SECOND
    // full materialization it required (globalRunningTotal re-checkpointed
    // the `_slotb` projection) — are gone. One checkpoint of the slotted
    // frame remains, inside globalRunningTotal; its footprint is five
    // scalar columns per upsampled row (no text/token arrays).
    val (slotted0, masses) =
      renormSlotsWithMasses(s, withRenormWeight(rows), Seq("doc_id", "copy_idx"))
    val slotted = slotted0.select("source", "doc_id", "copy_idx", "toks", "slot")
    val n = masses.map(_._3).sum
    val step = n / 32 + 1
    val cum = graft.exec.PrefixSum.globalRunningTotal(
      slotted.withColumn("_slotb", expr(s"slot DIV $step")),
      "_slotb", Seq("slot"), "toks", "c")
    cum.filter(col("toks") > 0L)
      .withColumn("st", col("c") - col("toks"))
      .withColumn("en", col("c"))
      .withColumn("pack_id",
        explode(sequence(expr("st div 2048"), expr("(en - 1) div 2048"))))
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_rows"),
        Det.countIf(col("st") >= col("pack_id") * 2048L).as("n_starting"),
        Det.countIf(col("st") < col("pack_id") * 2048L).as("n_wrapped_in"),
        sum(least(col("en"), (col("pack_id") + 1) * 2048L) -
          greatest(col("st"), col("pack_id") * 2048L)).cast("long").as("pack_tokens"),
        countDistinct(col("source")).cast("long").as("n_sources"),
        Det.countIf(col("copy_idx") > 1L).as("n_upsampled"),
        min(col("slot")).as("first_slot"),
        max(col("slot")).as("last_slot"))
      .orderBy("pack_id")
  }

  // ── q162: epoch-seeded renormalized schedules ─────────────────────────

  private def q162OracleSql: String =
    s"""WITH ${renormSegCtesBody("documents")}, eps AS (
       |  SELECT CAST(1 AS BIGINT) AS epoch UNION ALL SELECT CAST(2 AS BIGINT)
       |), ranked AS (
       |  SELECT e.epoch, d.doc_id, d.source,
       |    ROW_NUMBER() OVER (PARTITION BY e.epoch, d.source
       |      ORDER BY ${OracleSql.h60("'rs:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")}, d.doc_id) - 1 AS r0
       |  FROM documents d CROSS JOIN eps e
       |), ${slottedCte("r.epoch, r.source, r.doc_id, w.w")}
       |SELECT epoch, source, MAX(w) AS w, COUNT(*) AS n_docs,
       |  MIN(slot) AS first_slot, MAX(slot) AS last_slot,
       |  CAST(SUM(slot * doc_id) AS BIGINT) AS slot_dot
       |FROM slotted GROUP BY epoch, source ORDER BY epoch, source""".stripMargin

  /** One epoch's renormalized schedule with a seeded WITHIN-source
    * shuffle: per-source order is h60('rs:epoch:doc_id') instead of
    * doc_id, so each epoch consumes an independent permutation — but the
    * schedule SKELETON is frozen: slot assignment depends only on
    * (source, rank) and the per-source masses, so source s occupies the
    * IDENTICAL slot positions every epoch (MiningSpec-pinned), and the
    * q158 segment manifest never needs re-deriving between epochs. That
    * is the property a mixture loader wants from an epoch reshuffle:
    * new order, same plan.
    */
  private[graft] def renormEpochSlots(s: SparkSession, dir: String, epoch: Int): DataFrame = {
    val d = withRenormWeight(docs(s, dir).select(col("source"), col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens")))
      .withColumn("ek", Dedup.h60Col(concat(lit(s"rs:$epoch:"), col("doc_id").cast("string"))))
    renormSlotsOf(s, d, Seq("ek", "doc_id")).withColumn("epoch", lit(epoch.toLong))
  }

  val q162 = Q("q162_renorm_epochs", q162OracleSql) { (s, dir) =>
    slotStats((1 to 2).map(renormEpochSlots(s, dir, _)).reduce(_.unionByName(_)),
      "epoch", "source")
  }

  // ── q166: budget consumption across epoch boundaries ──────────────────

  private def q166OracleSql: String =
    s"""WITH ${renormSegCtesBody("documents")}, eps AS (
       |  SELECT CAST(1 AS BIGINT) AS epoch UNION ALL SELECT CAST(2 AS BIGINT)
       |), ranked AS (
       |  SELECT e.epoch, d.doc_id, d.source,
       |    CAST(len(${OracleSql.tokens("d.text")}) AS BIGINT) AS n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY e.epoch, d.source
       |      ORDER BY ${OracleSql.h60("'rs:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")}, d.doc_id) - 1 AS r0
       |  FROM documents d CROSS JOIN eps e
       |), ${slottedCte("r.epoch, r.source, r.doc_id, r.n_tokens, w.w")}, cum AS (
       |  SELECT *,
       |    CAST(SUM(n_tokens) OVER (ORDER BY epoch, slot ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
       |  FROM slotted
       |), cut AS (
       |  SELECT *, c <= (total * 3) // 4 AS consumed FROM cum
       |)
       |SELECT epoch, source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN consumed THEN 1 ELSE 0 END) AS BIGINT) AS n_consumed,
       |  CAST(SUM(CASE WHEN consumed THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_consumed,
       |  CAST(COALESCE(MAX(CASE WHEN consumed THEN slot END), -1) AS BIGINT) AS last_slot
       |FROM cut GROUP BY epoch, source ORDER BY epoch, source""".stripMargin

  /** q166 — q159's budget cut when the budget SPANS epochs: a
    * 1.5-epoch token budget (exact: 3/4 of the two-epoch total) runs
    * through q162's seeded schedules in (epoch, slot) order — epoch 1
    * consumes completely, epoch 2 gets the prefix cut under ITS OWN
    * permutation. Cumulative consumption rides `globalRunningTotal`
    * bucketed epoch-major on dense slot ranges (bucket = (epoch-1)·33 +
    * slot div step — integral, ascending in consumption order, balanced
    * within each epoch). The spec pins the two invariants a resuming
    * multi-epoch loader relies on: every epoch-1 source fully consumed,
    * and epoch 2's consumed set a slot-prefix with per-source prefixes
    * under the epoch-2 permutation.
    */
  val q166 = Q("q166_epoch_budget_resume", q166OracleSql) { (s, dir) =>
    val slots = (1 to 2).map(renormEpochSlots(s, dir, _))
      .reduce(_.unionByName(_))
      .select("epoch", "source", "doc_id", "n_tokens", "slot")
      .localCheckpoint()
    val stats = slots.agg(count(lit(1)), sum(col("n_tokens")).cast("long")).head()
    val perEpoch = stats.getLong(0) / 2
    val budget = stats.getLong(1) * 3 / 4
    val step = perEpoch / 32 + 1
    val cum = graft.exec.PrefixSum.globalRunningTotal(
      slots.withColumn("_b", (col("epoch") - 1L) * 33L + expr(s"slot DIV $step")),
      "_b", Seq("epoch", "slot"), "n_tokens", "c")
    consumption(cum.withColumn("consumed", col("c") <= budget), Nil, "epoch", "source")
  }

  // ── q163: classifier-vs-gate evaluation ───────────────────────────────

  /** Score-band cuts for the eval table (same integer-comparison style
    * as CurriculumCuts; bands ordered best-first).
    */
  private val EvalBandCuts = Seq(20L, 10L, 0L, -10L, -20L)

  private def q163OracleSql: String = {
    val w = classifierWeights.mkString("[", ", ", "]")
    val band = ("CASE " + EvalBandCuts.zipWithIndex.map { case (c, i) =>
      s"WHEN score >= $c THEN ${EvalBandCuts.length - i}" }.mkString(" ") +
      " ELSE 0 END")
    s"""WITH ${OracleSql.gateStatsCtes()}, gate AS (
       |  SELECT doc_id, ${OracleSql.gateKeepSql} AS keep FROM gm
       |), sc AS (
       |  SELECT doc_id, CAST(COALESCE(list_sum(list_transform(
       |    list_transform(t, s -> ${OracleSql.h60("s")}),
       |    h -> list_extract($w, CAST(h % $ClassifierBuckets AS BIGINT) + 1))), 0) AS BIGINT) AS score
       |  FROM st
       |), b AS (
       |  SELECT CAST($band AS BIGINT) AS band,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |  FROM sc s JOIN gate g USING (doc_id) GROUP BY 1
       |), c AS (
       |  SELECT band, n_docs, n_keep,
       |    CAST(SUM(n_docs) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
       |    CAST(SUM(n_keep) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_keep,
       |    CAST(SUM(n_keep) OVER () AS BIGINT) AS total_keep
       |  FROM b
       |)
       |SELECT band, n_docs, n_keep,
       |  n_keep * 10000 // n_docs AS keep_rate_bp,
       |  cum_docs, cum_keep,
       |  cum_keep * 10000 // cum_docs AS cum_precision_bp,
       |  cum_keep * 10000 // total_keep AS cum_recall_bp
       |FROM c ORDER BY band DESC""".stripMargin
  }

  /** q163 — the evaluation a pipeline runs BEFORE swapping the expensive
    * rule gate (q69, Gopher family) for the cheap hashed classifier
    * (q92) at 100 TB: per classifier score band (best first), how many
    * docs the gate would keep, and the cumulative precision/recall of
    * "keep everything scoring at least this band" — all exact basis
    * points (pure integer division, zero float risk). Two per-row
    * projections (score, gate metrics) + one doc-keyed join — the q139
    * shape; bands are a bounded CASE, so the cumulative pass is a
    * driver-side fold over ≤ |bands|+1 rows (the curriculumManifest
    * offset discipline — no single-partition window ever plans).
    */
  /** One batch's (band, n_docs, n_keep) eval cells — add-mergeable SUM
    * counts (band and keep are pure per-row functions), so a streaming
    * sink maintains them per batch and the served eval table equals the
    * batch q163 over the union of landings. ≤ |bands|+1 rows per batch.
    */
  private[graft] def evalCells(d: DataFrame): DataFrame = {
    val scored = d.select(col("doc_id"), col("text"),
      element_at(call_function("linear_score", col("text")), 2).as("score"))
    val withGate = Corpus.gateFrame(scored)
      .select(col("doc_id"), col("keep"))
      .join(scored.select("doc_id", "score"), "doc_id")
    val band = EvalBandCuts.zipWithIndex.foldRight(lit(0L)) { case ((c, i), e) =>
      when(col("score") >= c, lit((EvalBandCuts.length - i).toLong)).otherwise(e) }
    withGate.groupBy(band.as("band"))
      .agg(count(lit(1)).cast("long").as("n_docs"), Det.countIf(col("keep")).as("n_keep"))
  }

  /** Cells → the eval table: re-fold (so per-batch PARTIAL cells serve
    * identically to one-shot cells), then the bounded driver-side
    * cumulative pass.
    */
  private[graft] def evalTableFromCells(s: SparkSession, cells: DataFrame): DataFrame = {
    val bands = cells.groupBy("band")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_keep")).cast("long").as("n_keep"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    val totalKeep = bands.map(_._3).sum
    var (cumDocs, cumKeep) = (0L, 0L)
    val rows = bands.map { case (bnd, nd, nk) =>
      cumDocs += nd; cumKeep += nk
      (bnd, nd, nk, nk * 10000 / nd, cumDocs, cumKeep,
        cumKeep * 10000 / cumDocs, cumKeep * 10000 / totalKeep)
    }
    s.createDataFrame(rows.toSeq).toDF("band", "n_docs", "n_keep", "keep_rate_bp",
      "cum_docs", "cum_keep", "cum_precision_bp", "cum_recall_bp")
      .orderBy(col("band").desc)
  }

  val q163 = Q("q163_classifier_gate_eval", q163OracleSql) { (s, dir) =>
    evalTableFromCells(s, evalCells(docs(s, dir).select("doc_id", "text")))
  }

  // ── q164: benchmark-targeted importance selection ─────────────────────

  /** Hashed-bigram feature buckets for the importance ratio table —
    * bounded feature space, so the "trained" table is a broadcast dim.
    */
  val SelectionBuckets = 1024L

  /** q164's oracle over a `corpus` relation (q222: a retention
    * window's survivors).
    */
  private[ops] def q164OracleSql(corpus: String = "documents"): String =
    s"""WITH ${selectionRatioCtes(corpus)}, sc AS (
       |  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(rt) AS BIGINT) AS score_sum
       |  FROM bg b JOIN ratio ON b.f = ratio.f
       |  WHERE b.doc_id >= 50
       |  GROUP BY b.doc_id
       |)
       |SELECT doc_id, n_bigrams, score_sum,
       |  score_sum // n_bigrams AS score_mean_fp
       |FROM sc ORDER BY doc_id""".stripMargin

  /** q164 — DSIR-shaped targeted data selection (Xie et al. 2023's
    * hashed-n-gram importance resampling, made exactly checkable):
    * score every candidate doc (doc_id ≥ 50) by how much its hashed
    * BIGRAM distribution resembles the benchmark/target set (doc_id <
    * 50, q39's convention) relative to the raw pool — per feature
    * bucket, the add-one ratio (tgt+1)/(raw+1) in exact fixed point
    * (integer division, zero float risk), per doc the sum over its
    * bigram occurrences. The "training" pass is two hash aggregations
    * bounded by [[SelectionBuckets]]; the APPLY pass is zero-shuffle:
    * the complete 1024-entry ratio table rides a typedLit ARRAY (O(1)
    * indexed lookup — a map literal would linear-scan per element) and each
    * doc folds its in-row bigram bucket array — the q92 classifier
    * shape with LEARNED weights instead of seeded ones. At 100 TB the
    * ratio table trains on a sample and the apply still touches each
    * doc once, map-side.
    */
  val q164 = Q("q164_targeted_selection", q164OracleSql()) { (s, dir) =>
    targetedScores(s, dir)
      .select("doc_id", "n_bigrams", "score_sum", "score_mean_fp")
      .orderBy("doc_id")
  }

  /** Per-doc in-row bigram bucket arrays — the feature projection shared
    * by the batch trainer/scorer and CorpusStream's cell sink.
    */
  private[graft] def bigramBuckets(d: DataFrame): DataFrame = {
    // r14: the per-bigram hash rides the fused ShingleHashesAll(text, 2)
    // codegen kernel (one tokenize→concat→md5 loop per row) instead of a
    // higher-order `transform` whose lambda — interpreted per element —
    // rebuilt each bigram string and evaluated the md5/conv/substring
    // expression tree per occurrence. Values are identical by the
    // kernel's pinned law (h60 of space-joined token n-grams, in order);
    // the size(tokens)>=2 row filter reproduces the old frame exactly
    // (the kernel's <2-token fallback row never materializes).
    d.filter(size(TextOps.tokens(col("text"))) >= 2)
      .select(col("doc_id"), col("source"),
        transform(graft.functions.ShingleHashes.positional(col("text"), 2),
          h => h % SelectionBuckets).as("bg"))
  }

  /** Counts → the COMPLETE add-one ratio table (every bucket present, so
    * the in-row fold never hits a missing key).
    */
  private[graft] def ratioFromCounts(tgt: Map[Long, Long], raw: Map[Long, Long]): Map[Long, Long] =
    (0L until SelectionBuckets).map { f =>
      f -> (tgt.getOrElse(f, 0L) + 1L) * 10000L / (raw.getOrElse(f, 0L) + 1L)
    }.toMap

  /** The complete bucket table as an ARRAY literal indexed by bucket id:
    * `element_at` on a map LITERAL is a linear scan of the key array
    * (no hash index on ArrayBasedMapData), so the in-row fold cost was
    * O(n_bigrams × SelectionBuckets/2) — measured as the dominant CPU of
    * the q164–q169 family at 1024 buckets. Bucket ids are dense
    * 0..SelectionBuckets-1, so an array lookup (O(1), 1-based) folds the
    * same values — r14 (guide §1.2 step 2: per-task work).
    */
  private def bucketArr(m: Map[Long, Long]): Seq[Long] =
    (0L until SelectionBuckets).map(m)

  private def bucketAt(arr: Seq[Long], b: org.apache.spark.sql.Column) =
    element_at(typedLit(arr), (b + lit(1L)).cast("int"))

  /** Joinless apply: fold each candidate's in-row bucket array against
    * the literal ratio table.
    */
  private[graft] def applyRatio(base: DataFrame, ratio: Map[Long, Long]): DataFrame = {
    val rt = bucketArr(ratio)
    base.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("source"),
        size(col("bg")).cast("long").as("n_bigrams"),
        aggregate(col("bg"), lit(0L),
          (acc, b) => acc + bucketAt(rt, b)).as("score_sum"))
      .withColumn("score_mean_fp", expr("score_sum div n_bigrams"))
  }

  /** The per-candidate importance frame behind q164/q165 — trains the
    * bounded ratio table (two hash aggregations + one bounded collect)
    * and applies it joinless in-row.
    */
  private[graft] def targetedScores(s: SparkSession, dir: String): DataFrame =
    // the bucket projection + in-row ratio fold are the dominant CPU —
    // spread the narrow scan so the checkpointed base carries session
    // parallelism (r13; no-op on real multi-split inputs)
    targetedScoresOf(bigramBuckets(graft.Catalog.spread(docs(s, dir))))

  /** The trainer+apply over any pre-projected bucket frame — shared by
    * the dir-reading entry point and CorpusRun's accepted-store stage.
    */
  private[graft] def targetedScoresOf(base0: DataFrame): DataFrame = {
    val base = base0.localCheckpoint()
    // one pass trains both sides: countIf splits target/raw in the same
    // bounded hash aggregate (the featureCells shape)
    val counts = base.select(col("doc_id"), explode(col("bg")).as("f"))
      .groupBy("f")
      .agg(Det.countIf(col("doc_id") < 50).as("tgt_n"),
        Det.countIf(col("doc_id") >= 50).as("raw_n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    applyRatio(base, ratioFromCounts(
      counts.map(t => t._1 -> t._2).toMap,
      counts.map(t => t._1 -> t._3).toMap))
  }

  // ── q165: what the selection does to the mixture ──────────────────────

  /** Importance thresholds for the q165 sweep, as TENTHS of the global
    * mean score — relative cuts, because the absolute fixed-point score
    * level shrinks as the raw pool grows (add-one ratios are
    * (tgt+1)·1e4/(raw+1) with a FIXED 50-doc target): any constant cut
    * that discriminates at sf0.001 selects nothing at sf0.1. Cutting at
    * r/10 of the global level is scale-free, and the exact arithmetic
    * (g = Σss div Σn; cut = g·r div 10, all BIGINT) keeps the oracle
    * bit-checkable. The r = 10 cut always keeps ≥ 1 doc: the max
    * per-doc mean is ≥ the global mean.
    */
  private val SelectionCutTenths = Seq(9L, 10L, 11L)

  private def passColName(t: Long): String = f"n_pass_r$t%02d"

  /** The global score level g = Σ score_sum div Σ n_bigrams over a
    * scored frame — 0 on an empty frame. Driver-side exact integer
    * arithmetic on one bounded aggregate.
    */
  private[graft] def globalLevel(scored: DataFrame): Long = {
    val r = scored.agg(
      coalesce(sum("score_sum"), lit(0L)).cast("long"),
      coalesce(sum("n_bigrams"), lit(0L)).cast("long")).head()
    if (r.getLong(1) == 0L) 0L else r.getLong(0) / r.getLong(1)
  }

  /** The SQL chain shared by q165/q167: tokens → hashed bigram buckets →
    * add-one ratio table → per-candidate scores. Ends with
    * `sc(doc_id, source, n, ss)` where n = bigram count, ss = fixed-point
    * score sum (ss // n mirrors score_mean_fp). Returned WITHOUT a
    * leading `WITH`.
    */
  /** Just the tokens → hashed-bigram-occurrence CTEs (`tk`, `bg`) —
    * shared by the single-ratio chain below and q169's two-release
    * variant.
    */
  private def selectionBgCtes(corpus: String = "documents"): String =
    s"""tk AS (
       |  SELECT doc_id, source, ${OracleSql.tokens()} AS t FROM $corpus
       |), bg AS (
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(t)), i ->
       |    ${OracleSql.h60("t[i] || ' ' || t[i+1]")} % $SelectionBuckets)) AS f
       |  FROM tk WHERE len(t) >= 2
       |)""".stripMargin

  /** [[selectionBgCtes]], the target (doc_id < 50) and raw pool
    * feature counts, and `ratio` (f, rt): each bucket's exact add-one
    * importance ratio.
    */
  private def selectionRatioCtes(corpus: String): String =
    s"""${selectionBgCtes(corpus)}, tgt AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM bg WHERE doc_id < 50 GROUP BY f
       |), rawc AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM bg WHERE doc_id >= 50 GROUP BY f
       |), allf AS (
       |  SELECT unnest(range(0, $SelectionBuckets)) AS f
       |), ratio AS (
       |  SELECT a.f,
       |    (COALESCE(t.n, 0) + 1) * 10000 // (COALESCE(r.n, 0) + 1) AS rt
       |  FROM allf a
       |  LEFT JOIN tgt t ON a.f = t.f
       |  LEFT JOIN rawc r ON a.f = r.f
       |)""".stripMargin

  private def selectionScoredCtes: String =
    s"""${selectionRatioCtes("documents")}, sc AS (
       |  SELECT b.doc_id, b.source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(rt) AS BIGINT) AS ss
       |  FROM bg b JOIN ratio ON b.f = ratio.f
       |  WHERE b.doc_id >= 50
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** The global-level CTE over `sc` — the scale-free cut base shared by
    * q165/q167/q168.
    */
  private def globCte: String =
    """lvl AS (
      |  SELECT CAST(SUM(ss) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS g FROM sc
      |)""".stripMargin

  private def q165OracleSql: String = {
    val passCols = SelectionCutTenths.map(t =>
      s"CAST(SUM(CASE WHEN ss // n >= (g * $t) // 10 THEN 1 ELSE 0 END) AS BIGINT) AS ${passColName(t)}")
      .mkString(",\n       |  ")
    s"""WITH $selectionScoredCtes, $globCte
       |SELECT source, COUNT(*) AS n_candidates,
       |  CAST(SUM(ss) AS BIGINT) AS score_sum,
       |  CAST(SUM(n) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(ss) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS mean_fp,
       |  $passCols
       |FROM sc, lvl GROUP BY source ORDER BY source""".stripMargin
  }

  /** q165 — the question a targeted-selection user actually asks before
    * shipping: what does thresholding q164's scores DO to the source
    * mixture? Per source: candidate count, exact aggregate score mass,
    * and survivor counts at each RELATIVE cut (9/10/11 tenths of the
    * global score level — see [[SelectionCutTenths]] for why absolute
    * cuts are scale-brittle) — importance selection skews the corpus
    * toward benchmark-like sources, and this table measures the skew
    * exactly (all integer arithmetic) so it can be fed back into the
    * q111 recipe. One rollup over the q164 frame plus one bounded
    * aggregate for the level.
    */
  val q165 = Q("q165_selection_mixture", q165OracleSql) { (s, dir) =>
    val scored = targetedScores(s, dir).localCheckpoint()
    val g = globalLevel(scored)
    val aggCols = Seq(
      sum(col("score_sum")).cast("long").as("score_sum"),
      sum(col("n_bigrams")).cast("long").as("n_bigrams")) ++
      SelectionCutTenths.map(t =>
        Det.countIf(col("score_mean_fp") >= g * t / 10L).as(passColName(t)))
    scored
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"), aggCols: _*)
      // integer division on the aggregated longs — a double-division
      // cast could truncate differently from the oracle's exact `//`
      .withColumn("mean_fp", expr("score_sum div n_bigrams"))
      .select((Seq("source", "n_candidates", "score_sum", "n_bigrams", "mean_fp") ++
        SelectionCutTenths.map(passColName)).map(col): _*)
      .orderBy("source")
  }

  // ── q167: the post-selection temperature recipe ───────────────────────

  private def q167OracleSql: String =
    s"""WITH $selectionScoredCtes, $globCte, cand AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cand,
       |    CAST(SUM(n + 1) AS BIGINT) AS cand_tokens
       |  FROM sc GROUP BY source
       |), sel AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sel,
       |    CAST(SUM(n + 1) AS BIGINT) AS sel_tokens
       |  FROM sc, lvl WHERE ss // n >= g GROUP BY source
       |), m AS (
       |  SELECT c.source, c.n_cand, c.cand_tokens,
       |    COALESCE(s2.n_sel, 0) AS n_sel, COALESCE(s2.sel_tokens, 0) AS sel_tokens
       |  FROM cand c LEFT JOIN sel s2 ON c.source = s2.source
       |), w AS (
       |  SELECT source, n_cand, cand_tokens, n_sel, sel_tokens,
       |    sqrt(CAST(cand_tokens AS DOUBLE)) AS wc,
       |    sqrt(CAST(sel_tokens AS DOUBLE)) AS ws
       |  FROM m
       |), tc AS (
       |  SELECT
       |    list_reduce(list_transform(list_sort(list(struct_pack(source := source, wr := wc))),
       |      x -> x.wr), (a, b) -> a + b) AS total_c,
       |    list_reduce(list_transform(list_sort(list(struct_pack(source := source, wr := ws))),
       |      x -> x.wr), (a, b) -> a + b) AS total_s
       |  FROM w
       |)
       |SELECT source, n_cand, n_sel, cand_tokens, sel_tokens,
       |  CAST(FLOOR(wc / total_c * 1000000.0 + 0.5) AS BIGINT) AS mix_cand_ppm,
       |  CAST(FLOOR(ws / total_s * 1000000.0 + 0.5) AS BIGINT) AS mix_sel_ppm,
       |  CAST(FLOOR(ws / total_s * 1000000.0 + 0.5) AS BIGINT)
       |    - CAST(FLOOR(wc / total_c * 1000000.0 + 0.5) AS BIGINT) AS shift_ppm,
       |  CAST(FLOOR(ws / total_s * 1000000.0) AS BIGINT) AS sel_target_tokens,
       |  CASE WHEN sel_tokens = 0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE ${OracleSql.round4("ws / total_s * 1000000.0 / CAST(sel_tokens AS DOUBLE)")} END AS sel_oversample_x
       |FROM w, tc ORDER BY source""".stripMargin

  /** q167 — the selection→recipe COMPOSITION the round-9 handoff named:
    * after q164's importance cut decides WHICH candidates survive (at
    * the scale-free global-mean level — see [[SelectionCutTenths]], the
    * r = 10 point of q165's sweep, so the spec can pin n_sel against
    * n_pass_r10), the q111 temperature recipe decides how the survivors
    * MIX — n^0.5 reweighting over the post-selection token masses. Per
    * source:
    * candidate vs survivor counts/token mass, the sqrt-temperature
    * mixture share of both corpora in exact ppm (floor(x·1e6 + 0.5) on
    * the q111-proven float tree: IEEE sqrt, one sequentially-folded
    * normalizer per corpus, one division), the SHIFT the selection
    * imposes on the mixture, and the survivors' 1M-token quota +
    * oversample factor (q111's output contract, now on the selected
    * corpus). Token mass needs no second corpus scan: a candidate's
    * tokens = n_bigrams + 1 by construction, so the whole query is one
    * rollup of the q164 frame plus arithmetic on a |sources|-row frame.
    * At 100 TB: the scoring pass is the only per-doc work (map-side
    * fold, see q164); everything downstream is broadcast-sized.
    */
  val q167 = Q("q167_selected_recipe", q167OracleSql) { (s, dir) =>
    selectedRecipeOf(targetedScores(s, dir))
  }

  /** q167's rollup over any scored frame (doc_id, source, n_bigrams,
    * score_mean_fp) — shared with CorpusRun's accepted-store stage.
    */
  private[graft] def selectedRecipeOf(scored0: DataFrame): DataFrame = {
    val scored = scored0.localCheckpoint()
    // the scale-free survivor cut: the global mean score level (always
    // keeps >= 1 doc — the max per-doc mean is >= the global mean, so
    // the selected normalizer below never degenerates to zero)
    val cut = globalLevel(scored)
    val m = scored
      .select(col("source"), (col("n_bigrams") + 1L).as("toks"), col("score_mean_fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_cand"),
        sum(col("toks")).cast("long").as("cand_tokens"),
        Det.countIf(col("score_mean_fp") >= cut).as("n_sel"),
        sum(when(col("score_mean_fp") >= cut, col("toks"))
          .otherwise(0L)).cast("long").as("sel_tokens"))
      .withColumn("wc", sqrt(col("cand_tokens").cast("double")))
      .withColumn("ws", sqrt(col("sel_tokens").cast("double")))
    val tot = m.agg(
      aggregate(array_sort(collect_list(struct(col("source"), col("wc").as("wr")))),
        lit(0.0), (a, x) => a + x.getField("wr")).as("total_c"),
      aggregate(array_sort(collect_list(struct(col("source"), col("ws").as("wr")))),
        lit(0.0), (a, x) => a + x.getField("wr")).as("total_s"))
    val shareC = col("wc") / col("total_c")
    val shareS = col("ws") / col("total_s")
    val ppmC = floor(shareC * lit(1000000.0) + lit(0.5)).cast("long")
    val ppmS = floor(shareS * lit(1000000.0) + lit(0.5)).cast("long")
    m.crossJoin(broadcast(tot))
      .select(col("source"), col("n_cand"), col("n_sel"),
        col("cand_tokens"), col("sel_tokens"),
        ppmC.as("mix_cand_ppm"), ppmS.as("mix_sel_ppm"),
        (ppmS - ppmC).as("shift_ppm"),
        floor(shareS * lit(1000000.0)).cast("long").as("sel_target_tokens"),
        when(col("sel_tokens") === 0L, lit(0.0))
          .otherwise(Det.dround(shareS * lit(1000000.0)
            / col("sel_tokens").cast("double"), 4)).as("sel_oversample_x"))
      .orderBy("source")
  }

  // ── q168: the loader chain over the selected corpus ───────────────────

  private def q168OracleSql: String =
    s"""WITH $selectionScoredCtes, $globCte, seltok AS (
       |  SELECT source, doc_id, CAST(n + 1 AS BIGINT) AS toks
       |  FROM sc, lvl WHERE ss // n >= g
       |), ${TextOps.recipeCtesBody("seltok")}$loaderChainTailSql"""
      .stripMargin

  /** q168 — the PRODUCTION composition of the whole selection family:
    * importance-cut survivors (q164's scores at q167's cut) fed through
    * the complete loader chain (q161's recipe → copies → renormalized
    * schedule → 2048-token wrap packs). This is the path a targeted
    * pretraining run actually executes: select benchmark-like data,
    * re-temper the survivor mixture, materialize repeat factors, and
    * emit the packed token stream. Per pack, q161's output contract.
    * The survivor frame carries its own token mass (toks = n_bigrams +
    * 1), so selection adds ZERO extra corpus scans — the scoring pass
    * is the only per-doc work before the chain's grouped rank. Every
    * stage keeps its 100 TB shape: broadcast ratio table, map-side
    * fold, broadcast recipe + segment dims, slot-bucketed running
    * total, in-row explodes.
    */
  val q168 = Q("q168_selected_loader_chain", q168OracleSql) { (s, dir) =>
    val scored = targetedScores(s, dir).localCheckpoint()
    loaderChainPacks(s, scored
      .filter(col("score_mean_fp") >= globalLevel(scored))
      .select(col("source"), col("doc_id"), (col("n_bigrams") + 1L).as("toks")))
  }

  // ── q169: benchmark rotation — incremental selection rescore ──────────

  /** The v1 target release: doc_id < 25 (q142's release convention);
    * v2 = doc_id < 50, i.e. exactly q164's target set.
    */
  private[graft] val ReleaseV1Max = 25L

  private def q169OracleSql: String =
    s"""WITH ${selectionBgCtes()}, tgt1 AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM bg WHERE doc_id < $ReleaseV1Max GROUP BY f
       |), tgt2 AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM bg WHERE doc_id < 50 GROUP BY f
       |), rawc AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS n FROM bg WHERE doc_id >= 50 GROUP BY f
       |), allf AS (
       |  SELECT unnest(range(0, $SelectionBuckets)) AS f
       |), ratio AS (
       |  SELECT a.f,
       |    (COALESCE(t1.n, 0) + 1) * 10000 // (COALESCE(r.n, 0) + 1) AS rt1,
       |    (COALESCE(t2.n, 0) + 1) * 10000 // (COALESCE(r.n, 0) + 1) AS rt2
       |  FROM allf a
       |  LEFT JOIN tgt1 t1 ON a.f = t1.f
       |  LEFT JOIN tgt2 t2 ON a.f = t2.f
       |  LEFT JOIN rawc r ON a.f = r.f
       |), sc AS (
       |  SELECT b.doc_id, b.source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(rt1) AS BIGINT) AS s1, CAST(SUM(rt2) AS BIGINT) AS s2,
       |    CAST(SUM(CASE WHEN rt1 <> rt2 THEN 1 ELSE 0 END) AS BIGINT) AS touch
       |  FROM bg b JOIN ratio ON b.f = ratio.f
       |  WHERE b.doc_id >= 50 GROUP BY 1, 2
       |), lvl AS (
       |  SELECT CAST(SUM(s1) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS g1,
       |    CAST(SUM(s2) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS g2
       |  FROM sc
       |)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
       |  CAST(SUM(CASE WHEN touch > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_touched,
       |  CAST(SUM(CASE WHEN s1 <> s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(SUM(s1) AS BIGINT) AS score_v1,
       |  CAST(SUM(s2) AS BIGINT) AS score_v2,
       |  CAST(SUM(CASE WHEN s1 // n >= g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_v1,
       |  CAST(SUM(CASE WHEN s2 // n >= g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_v2,
       |  CAST(SUM(CASE WHEN s2 // n >= g2
       |    AND s1 // n < g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gained,
       |  CAST(SUM(CASE WHEN s1 // n >= g1
       |    AND s2 // n < g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lost
       |FROM sc, lvl GROUP BY source ORDER BY source""".stripMargin

  /** Per-candidate two-release score frame behind q169 — v1 scores by a
    * full fold, v2 scores INCREMENTALLY as s1 + a fold over the ratio
    * DELTA map (rt2 − rt1), exactly how a production system rescopes a
    * benchmark rotation: only docs touching a changed bucket (`touched`,
    * a bounded-set membership test on the in-row array) can move, so a
    * stored-score table re-folds just those. The oracle computes s2
    * FROM SCRATCH off rt2 — DuckDB parity is therefore itself the proof
    * that incremental ≡ full rescore, the q142 law transplanted to
    * targeted selection.
    */
  private[graft] def releaseDeltaScores(s: SparkSession, dir: String): DataFrame = {
    val base = bigramBuckets(docs(s, dir)).localCheckpoint()
    val counts = base.select(col("doc_id"), explode(col("bg")).as("f"))
      .groupBy("f")
      .agg(Det.countIf(col("doc_id") < ReleaseV1Max).as("t1"),
        Det.countIf(col("doc_id") >= ReleaseV1Max && col("doc_id") < 50).as("td"),
        Det.countIf(col("doc_id") >= 50).as("raw"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val raw = counts.map(t => t._1 -> t._4).toMap
    val rt1 = ratioFromCounts(counts.map(t => t._1 -> t._2).toMap, raw)
    val rt2 = ratioFromCounts(counts.map(t => t._1 -> (t._2 + t._3)).toMap, raw)
    val dm = rt1.map { case (f, v) => f -> (rt2(f) - v) }
    // array-literal lookups, not map literals — see bucketArr (r14)
    val rt1a = bucketArr(rt1)
    val dma = bucketArr(dm)
    base.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("source"),
        size(col("bg")).cast("long").as("n"),
        aggregate(col("bg"), lit(0L),
          (a, b) => a + bucketAt(rt1a, b)).as("s1"),
        aggregate(col("bg"), lit(0L),
          (a, b) => a + bucketAt(dma, b)).as("ds"),
        exists(col("bg"),
          b => bucketAt(dma, b) =!= 0L).as("touched"))
      .withColumn("s2", col("s1") + col("ds"))
  }

  /** q169 — what a benchmark RELEASE ROTATION does to targeted
    * selection: the target set grows (v1 = doc_id < 25 → v2 = < 50,
    * q142's release convention; v2 is exactly q164's target), the
    * add-one ratio table retrains, and every candidate's score moves by
    * its fold over the bounded delta table alone. Per source: how many
    * candidates touch a changed bucket, how many scores actually move,
    * both releases' exact score mass, and the selection-set churn
    * between the two shipped selections — each release cut at ITS OWN
    * global mean level (pass counts, gained, lost). Scale shape: one
    * bounded three-way count aggregate trains BOTH releases; the apply
    * stays joinless/map-side; rotation cost is delta-density, never a
    * second corpus scan.
    */
  val q169 = Q("q169_selection_release_delta", q169OracleSql) { (s, dir) =>
    val perDoc = releaseDeltaScores(s, dir).localCheckpoint()
    // per-release scale-free cuts: each release selects at ITS OWN
    // global mean level, so the churn table compares the two selections
    // a production run would actually ship
    val gr = perDoc.agg(
      sum("s1").cast("long"), sum("s2").cast("long"), sum("n").cast("long")).head()
    val (g1, g2) = (gr.getLong(0) / gr.getLong(2), gr.getLong(1) / gr.getLong(2))
    perDoc
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"),
        Det.countIf(col("touched")).as("n_touched"),
        Det.countIf(col("s1") =!= col("s2")).as("n_changed"),
        sum("s1").cast("long").as("score_v1"),
        sum("s2").cast("long").as("score_v2"),
        Det.countIf(expr("s1 div n") >= g1).as("n_pass_v1"),
        Det.countIf(expr("s2 div n") >= g2).as("n_pass_v2"),
        Det.countIf(expr("s2 div n") >= g2 && expr("s1 div n") < g1).as("n_gained"),
        Det.countIf(expr("s1 div n") >= g1 && expr("s2 div n") < g2).as("n_lost"))
      .orderBy("source")
  }

  // ── q175: multiplicative-weights domain reweighting (DoReMi-shaped) ───

  /** MW learning rate and round count — small enough that the unrolled
    * oracle stays readable, large enough that weights visibly separate.
    */
  private val MwEta = 0.5
  private val MwRounds = 4

  /** The q175 MW-optimizer oracle parameterized by the per-doc loss
    * source: `prefix` must be a WITH-chain ending in a CTE `d` with
    * columns (source, cpt). Shared by q175 (whitespace-proxy loss) and
    * q192 (trained-vocab fertility loss). `st` is MATERIALIZED: each MW
    * round's r$t reads u$t twice, so an inlining planner would otherwise
    * re-evaluate the whole loss prefix ~2^rounds times — invisible for
    * q175's cheap scan, an OOM for q192's unrolled BPE encode (measured).
    */
  private[graft] def mwOracleSql(prefix: String): String = {
    val M = "CAST(1000000.0 AS DOUBLE)"
    val eta = s"CAST($MwEta AS DOUBLE)"
    val rounds = (1 to MwRounds).map { t =>
      val prev = if (t == 1) "w0" else s"w${t - 1}"
      val carried = (1 until t).map(i => s"w$i").mkString("", ", ", if (t > 1) "," else "")
      s"""u$t AS (
         |  SELECT *, $prev * (CAST(1.0 AS DOUBLE) + $eta * ex) AS wp FROM r${t - 1}
         |), z$t AS (
         |  SELECT list_reduce(list_transform(list_sort(list(struct_pack(source := source, wr := wp))),
         |    x -> x.wr), (a, b) -> a + b) AS z FROM u$t
         |), r$t AS (
         |  SELECT source, n_docs, loss_sum, ex, $carried wp / z AS w$t FROM u$t, z$t
         |)"""
    }.mkString(",\n")
    val ppmCols = (1 to MwRounds)
      .map(t => s"  CAST(FLOOR(w$t * $M) AS BIGINT) AS w${t}_ppm,").mkString("\n")
    s"""$prefix, st AS MATERIALIZED (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(cpt) AS BIGINT) AS loss_sum
       |  FROM d GROUP BY source
       |), base AS (
       |  SELECT source, n_docs, loss_sum,
       |    CAST(loss_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) AS loss
       |  FROM st
       |), mm AS (
       |  SELECT MIN(loss) AS mn, MAX(loss) AS mx, CAST(COUNT(*) AS BIGINT) AS k FROM base
       |), r0 AS (
       |  SELECT source, n_docs, loss_sum,
       |    CASE WHEN mx > mn THEN (loss - mn) / (mx - mn) ELSE CAST(0.0 AS DOUBLE) END AS ex,
       |    CAST(1.0 AS DOUBLE) / CAST(k AS DOUBLE) AS w0
       |  FROM base, mm
       |),
       |$rounds,
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM st)
       |SELECT source, n_docs, loss_sum // n_docs AS mean_cpt_fp,
       |  CAST(FLOOR(ex * CAST(10000.0 AS DOUBLE)) AS BIGINT) AS excess_bp,
       |$ppmCols
       |  (CAST(FLOOR(w$MwRounds * $M) AS BIGINT) * total_docs) // 1000000 AS docs_alloc
       |FROM r$MwRounds, tot ORDER BY source""".stripMargin
  }

  private def q175OracleSql: String = mwOracleSql(
    s"""WITH d AS (
       |  SELECT source, (10000 * n_chars) // len(${OracleSql.tokens()}) AS cpt
       |  FROM documents WHERE len(${OracleSql.tokens()}) > 0
       |)""".stripMargin)

  /** q175 — DoReMi-shaped domain reweighting: multiplicative-weights
    * over per-source EXCESS loss. The proxy loss is chars-per-token in
    * fixed point (an exact-integer stand-in for the proxy-model
    * perplexity DoReMi trains — verbose, low-density sources score
    * high); each source's excess over the best source, normalized to
    * [0,1] by the worst, drives `w ← w·(1 + η·excess)` for 4 rounds
    * with renormalization after every round — upweighting the domains
    * the proxy finds hardest, exactly the published update shape. Per
    * source: exact mean loss, excess (basis points), the weight
    * trajectory w1..w4 (ppm — floor of an IEEE tree both engines build
    * identically: one division per round off a sequentially-folded
    * normalizer), and the final doc allocation under the corpus budget.
    * At 100 TB: one map-side-combined rollup is the only per-doc work;
    * the optimizer loop runs on a |sources|-row frame (localCheckpointed
    * so the corpus is scanned exactly once), broadcast z each round.
    */
  val q175 = Q("q175_domain_reweighting", q175OracleSql) { (s, dir) =>
    mwTableFromCells(mwCells(Catalog.table(s, dir, "documents")))
  }

  /** One batch's per-source proxy-loss cells — add-mergeable SUM pairs
    * (n_docs, loss_sum), ≤ |sources| rows, so a streaming sink can
    * maintain the reweighting input as documents land.
    */
  private[graft] def mwCells(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("n_chars"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("source"), expr("(10000 * n_chars) div n_tokens").as("cpt"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("cpt").cast("long").as("loss_sum"))

  /** The q175 MW optimizer over (possibly unfolded) loss cells — the
    * fold is the first aggregation, so serving off a delta store is the
    * same code path as batch.
    */
  private[graft] def mwTableFromCells(cells: DataFrame): DataFrame = {
    val stats = cells.groupBy("source")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("loss_sum").cast("long").as("loss_sum"))
      .localCheckpoint()
    val loss = col("loss_sum").cast("double") / col("n_docs").cast("double")
    val mm = stats.agg(min(loss).as("mn"), max(loss).as("mx"),
      count(lit(1)).cast("long").as("k"))
    var f = stats.crossJoin(broadcast(mm))
      .withColumn("ex", when(col("mx") > col("mn"),
        (loss - col("mn")) / (col("mx") - col("mn"))).otherwise(lit(0.0)))
      .withColumn("w", lit(1.0) / col("k").cast("double"))
      .drop("mn", "mx", "k")
    (1 to MwRounds).foreach { t =>
      val u = f.withColumn("wp", col("w") * (lit(1.0) + lit(MwEta) * col("ex")))
      val z = u.agg(aggregate(
        array_sort(collect_list(struct(col("source"), col("wp").as("wr")))),
        lit(0.0), (a, x) => a + x.getField("wr")).as("z"))
      f = u.crossJoin(broadcast(z))
        .withColumn("w", col("wp") / col("z"))
        .withColumn(s"w${t}_ppm", floor(col("w") * lit(1000000.0)).cast("long"))
        .drop("wp", "z")
        // each round references the previous round's frame TWICE (u and
        // z = agg(u)), so an unmaterialized loop tree DOUBLES per round —
        // 2^MwRounds copies of the base plan (measured: 65 Exchanges in
        // q192 for a |sources|-row table). Checkpoint the k-row frame per
        // round to keep the plan linear in rounds (guide §2.4).
        .localCheckpoint()
    }
    val tot = stats.agg(sum("n_docs").cast("long").as("total_docs"))
    f.crossJoin(broadcast(tot))
      .select(Seq(col("source"), col("n_docs"),
        expr("loss_sum div n_docs").as("mean_cpt_fp"),
        floor(col("ex") * lit(10000.0)).cast("long").as("excess_bp")) ++
        (1 to MwRounds).map(t => col(s"w${t}_ppm")) :+
        expr(s"(w${MwRounds}_ppm * total_docs) div 1000000").as("docs_alloc"): _*)
      .orderBy("source")
  }

  // ── q187: dedup-aware mixture (1/cluster-size sampling weights) ───────

  /** Oracle CTEs shared by q187/q188: shingle sets → J ≥ 0.8 edges →
    * recursive min-label closure → (doc_id, component).
    */
  private def nearDupCompCtes: String =
    s"""WITH RECURSIVE ${OracleSql.shingleCtes(prefix = "t")}, ${OracleSql.shingleOverlapCtes("t")}, dupe AS (
       |  SELECT doc_id AS src, doc_b AS dst FROM tpairs WHERE ${OracleSql.nearDupPairSql}
       |), edges AS (
       |  SELECT src, dst FROM dupe UNION ALL SELECT dst AS src, src AS dst FROM dupe
       |), reach AS (
       |  SELECT doc_id AS v, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.v = e.dst
       |), comp AS (
       |  SELECT v AS doc_id, MIN(lab) AS component FROM reach GROUP BY v
       |)""".stripMargin

  private def q187OracleSql: String =
    s"""$nearDupCompCtes, csz AS (
       |  SELECT component, COUNT(*) AS csz FROM comp GROUP BY component
       |), w AS (
       |  SELECT c.doc_id, 1000000 // s.csz AS w_fp
       |  FROM comp c JOIN csz s ON c.component = s.component
       |), bysrc AS (
       |  SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(w.w_fp) AS BIGINT) AS eff_fp
       |  FROM documents d JOIN w ON d.doc_id = w.doc_id
       |  GROUP BY d.source
       |), tot AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS td, CAST(SUM(eff_fp) AS BIGINT) AS te
       |  FROM bysrc
       |)
       |SELECT source, n_docs, eff_fp,
       |  (n_docs * 1000000) // td AS raw_share_ppm,
       |  (eff_fp * 1000000) // te AS eff_share_ppm,
       |  ((eff_fp * 1000000) // te) - ((n_docs * 1000000) // td) AS shift_ppm
       |FROM bysrc, tot
       |ORDER BY source""".stripMargin

  /** q187 — DEDUP-AWARE sampling mixture: each document weighted
    * 1/|its near-dup cluster| (clusters = connected components over
    * exact-Jaccard ≥ 0.8 edges, the SlimPajama/Dolma convention that
    * makes every piece of CONTENT count once no matter how many copies
    * landed), then the per-source mixture recomputed over the weighted
    * mass — raw vs effective share in exact ppm, and the shift
    * duplication was silently imposing on the mixture. The J ≥ 0.8 test
    * is exact-integer (5·|A∩B| ≥ 4·|A∪B|), weights are exact
    * fixed-point (1e6 div cluster size), every share is BIGINT floor
    * division — bit-checkable end to end. At 100 TB: candidates ride
    * the shingle inverted index (df-capped), the closure is
    * [[Cluster.connectedComponents]] (union-find below 8M edges,
    * O(log d) min-label rounds above), and everything after is a
    * |sources|-row rollup.
    */
  val q187 = Q("q187_dupweighted_mixture", q187OracleSql) { (s, dir) =>
    dupWeightedMixture(docs(s, dir).select(col("doc_id"), col("source"), col("text")))
  }

  /** Near-dup clusters over any (doc_id, text) frame: connected
    * components of the exact-Jaccard ≥ 0.8 graph (integer-tested as
    * 5·|A∩B| ≥ 4·|A∪B|), component = min doc_id reachable. Shared by the
    * dedup-aware mixture (q187) and the cluster-aware split (q188).
    */
  private[graft] def nearDupComponents(d: DataFrame): DataFrame = {
    // spread the shingle-kernel input: with the r14 fused jaccardPairs the
    // whole per-doc kernel (tokenize → shingle → h60) runs in ONE subtree,
    // and on a narrow single-row-group scan that is one task of ~1.5 s
    // (profiled) — the exact CPU-dense case Catalog.spread exists for;
    // no-op on real multi-split inputs
    // (spreadIfNarrow: callers hand in arbitrary frames — CorpusRun's
    // accepted audit arrives join-bearing and already parallel)
    val edges = Dedup.jaccardPairs(
      graft.Catalog.spreadIfNarrow(d.select(col("doc_id"), col("text"))))
      .filter(lit(5) * col("n_shared") >=
        lit(4) * (col("size_a") + col("size_b") - col("n_shared")))
      .select(col("doc_id").as("src"), col("doc_b").as("dst"))
    Cluster.connectedComponents(edges, d.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("component"))
  }

  /** q187 over any (doc_id, source, text) frame — spec entry. */
  private[graft] def dupWeightedMixture(d: DataFrame): DataFrame = {
    val comp = nearDupComponents(d)
    val csz = comp.groupBy("component").agg(count(lit(1)).as("csz"))
    val weighted = comp.join(csz, Seq("component"))
      .select(col("doc_id"), expr("1000000 div csz").as("w_fp"))
    val bySrc = d.select(col("doc_id"), col("source"))
      .join(weighted, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w_fp").cast("long").as("eff_fp"))
    val tot = bySrc.agg(sum("n_docs").cast("long").as("td"),
      sum("eff_fp").cast("long").as("te"))
    bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("eff_fp"),
        expr("(n_docs * 1000000) div td").as("raw_share_ppm"),
        expr("(eff_fp * 1000000) div te").as("eff_share_ppm"),
        (expr("(eff_fp * 1000000) div te") - expr("(n_docs * 1000000) div td"))
          .as("shift_ppm"))
      .orderBy("source")
  }

  // ── q188: cluster-aware holdout split (leakage-free by construction) ──

  private def q188OracleSql: String =
    s"""$nearDupCompCtes, asg AS (
       |  SELECT doc_id, component,
       |    ${OracleSql.h60("CAST(component AS VARCHAR)")} % 100 < 5 AS is_eval
       |  FROM comp
       |)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN a.is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       |  (CAST(SUM(CASE WHEN a.is_eval THEN 1 ELSE 0 END) AS BIGINT) * 10000) // COUNT(*) AS eval_bp,
       |  CAST(COUNT(DISTINCT a.component) AS BIGINT) AS n_clusters
       |FROM documents d JOIN asg a ON d.doc_id = a.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** q188 — CLUSTER-AWARE holdout split: carve a ~5 % eval set by
    * hashing the near-dup CLUSTER id (h60 of the component's decimal
    * string, mod 100), never the document id — every member of a
    * near-dup cluster lands on the same side, so train→eval leakage
    * through duplicated content is ZERO BY CONSTRUCTION rather than
    * something q135 has to measure after the fact. Per source: docs,
    * eval docs, the achieved rate in exact basis points, and how many
    * clusters the source touches. Deterministic end to end (content
    * hash → closure → split hash), so the split is reproducible across
    * runs and engines — the property an eval-holdout pipeline actually
    * needs. At 100 TB: the closure is the q187 component pass; the
    * assignment is one hash projection; the rollup is |sources| rows.
    */
  val q188 = Q("q188_clusteraware_split", q188OracleSql) { (s, dir) =>
    clusterAwareSplit(docs(s, dir).select(col("doc_id"), col("source"), col("text")))
  }

  /** q188 over any (doc_id, source, text) frame — spec entry. */
  private[graft] def clusterAwareSplit(d: DataFrame): DataFrame = {
    val asg = splitAssignment(d)
    d.select(col("doc_id"), col("source"))
      .join(asg, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Det.countIf(col("is_eval")).as("n_eval"),
        countDistinct(col("component")).as("n_clusters"))
      .select(col("source"), col("n_docs"), col("n_eval"),
        expr("(n_eval * 10000) div n_docs").as("eval_bp"), col("n_clusters"))
      .orderBy("source")
  }

  /** The per-doc (doc_id, component, is_eval) assignment — the split a
    * downstream writer applies; q188 reports its per-source shape.
    */
  private[graft] def splitAssignment(d: DataFrame): DataFrame =
    nearDupComponents(d)
      .withColumn("is_eval",
        Dedup.h60Col(col("component").cast("string")) % 100 < lit(5L))

  // ── q193: per-source duplication profile (cluster-size histogram) ─────

  private def q193OracleSql: String =
    s"""$nearDupCompCtes, csz AS (
       |  SELECT component, COUNT(*) AS csz FROM comp GROUP BY component
       |), attributed AS (
       |  SELECT d.source, s.csz,
       |    CAST(length(bin(s.csz)) - 1 AS BIGINT) AS size_bucket
       |  FROM csz s JOIN documents d ON s.component = d.doc_id
       |), bucketed AS (
       |  SELECT source, size_bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |    CAST(SUM(csz) AS BIGINT) AS n_docs
       |  FROM attributed GROUP BY source, size_bucket
       |), srctot AS (
       |  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs
       |  FROM bucketed GROUP BY source
       |)
       |SELECT b.source, b.size_bucket, b.n_clusters, b.n_docs,
       |  (b.n_docs * 10000) // t.src_docs AS docs_bp
       |FROM bucketed b JOIN srctot t ON b.source = t.source
       |ORDER BY b.source, b.size_bucket""".stripMargin

  /** q193 — per-source DUPLICATION PROFILE: the histogram of near-dup
    * cluster sizes (log₂ buckets — singletons in bucket 0, pairs in 1,
    * 4..7 in 2, …) with each cluster attributed to its FIRST document's
    * source (component = min doc id, so attribution is deterministic and
    * cross-source clusters count once). q187 says how much effective
    * mass duplication costs; this says WHERE it lives — a long tail of
    * pairs is near-dup noise, a few giant clusters are boilerplate or a
    * crawler loop, and the remediation differs. The log₂ bucket is the
    * transcendental-free `length(bin(n)) − 1` identity (bit-identical in
    * both engines). Per (source, bucket): clusters, docs, and the doc
    * share of the source in exact basis points. Scale: one closure
    * (shared with q187/q188) + two bounded rollups.
    */
  val q193 = Q("q193_duplication_profile", q193OracleSql) { (s, dir) =>
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
    val csz = nearDupComponents(d)
      .groupBy("component").agg(count(lit(1)).as("csz"))
    val attributed = csz
      .join(d.select(col("doc_id").as("component"), col("source")), Seq("component"))
      .withColumn("size_bucket", (length(bin(col("csz"))) - 1).cast("long"))
    val bucketed = attributed.groupBy("source", "size_bucket")
      .agg(count(lit(1)).as("n_clusters"), sum("csz").cast("long").as("n_docs"))
    val srctot = bucketed.groupBy("source")
      .agg(sum("n_docs").cast("long").as("src_docs"))
    bucketed.join(srctot, Seq("source"))
      .select(col("source"), col("size_bucket"), col("n_clusters"), col("n_docs"),
        expr("(n_docs * 10000) div src_docs").as("docs_bp"))
      .orderBy("source", "size_bucket")
  }

  val all: Seq[Q] = Seq(q48, q49, q92, q93, q95, q96, q102, q119, q123, q125,
    q148, q149, q150, q151, q153, q156, q157, q158, q159, q161, q162, q163,
    q164, q165, q166, q167, q168, q169, q175, q181, q182, q187, q188, q193)
}
