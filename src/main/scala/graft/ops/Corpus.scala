package graft.ops

import graft.Catalog
import graft.queries.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for a pretraining data pipeline, beyond
  * the per-document statistics in TextOps: tokenizer induction input
  * (adjacent-pair counts — one BPE merge round), overlapping-window
  * chunking, a composed quality gate (the Gopher/C4-style rule family
  * over integer arithmetic only, so it oracles exactly), and incremental
  * corpus ingest (new-batch dedup against an already-ingested history).
  *
  * Everything here is per-row array work plus at most one keyed
  * aggregate — the shapes that stay linear at 100 TB. The reference has
  * no corpus tooling (its transforms are device telemetry, e.g.
  * models/staging/stg_device_readings.sql); these extend the same
  * staged-transform idea to LLM training data.
  */
object Corpus {

  private def docs(s: SparkSession, dir: String) = Catalog.table(s, dir, "documents")

  /** q67 — adjacent token-pair frequencies, i.e. the statistic one BPE
    * merge round maximizes (Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units", ACL'16: repeatedly merge the
    * most frequent symbol pair). Pairs are built INSIDE the token array
    * with a codegen'd `transform` over `element_at` (1-based, matching
    * DuckDB list indexing) — no self-join, no window; the only shuffle
    * is the final (left,right) count aggregate with map-side partials.
    * At 100 TB the pair stream is ~token-stream-sized and the aggregate
    * key space is vocabulary², both linear-scan friendly.
    */
  val q67 = Q("q67_bpe_merge_pairs",
    s"""WITH tk AS (
      |  SELECT ${OracleSql.tokens()} AS t FROM documents
      |), pr AS (
      |  SELECT unnest(list_transform(range(1, len(t)), i -> {'a': t[i], 'b': t[i+1]})) AS p
      |  FROM tk WHERE len(t) >= 2
      |)
      |SELECT p.a AS left_tok, p.b AS right_tok, CAST(COUNT(*) AS BIGINT) AS pair_count
      |FROM pr
      |GROUP BY 1, 2
      |ORDER BY pair_count DESC, left_tok, right_tok
      |LIMIT 20""".stripMargin) { (s, dir) =>
    pairCountsOf(docs(s, dir).select(TextOps.tokens(col("text")).as("t")))
      .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))
      .limit(20)
  }

  val ChunkTokens = 64
  val ChunkStride = 48

  /** q68 — overlapping-window chunking: split each document into
    * fixed-budget token windows (64 tokens, stride 48 → 16-token overlap),
    * the unit a context-length-bounded trainer actually consumes. Chunk
    * starts come from a codegen'd `sequence(0, n-1, stride)` explode and
    * each chunk is a `slice` of the in-row token array — per-row work,
    * zero shuffle, output keyed (doc_id, chunk_idx) so downstream packing
    * can repartition by hash(doc_id) and stay balanced. chunk_idx is
    * derived as start/stride (exact integer division) rather than a
    * window ordinal, so no ordering dependency exists at all.
    */
  val q68 = Q("q68_chunk_documents",
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), ch AS (
       |  SELECT doc_id, t, unnest(range(0, len(t), $ChunkStride)) AS start FROM tk
       |  WHERE len(t) > 0
       |)
       |SELECT doc_id, start // $ChunkStride AS chunk_idx, start AS start_tok,
       |  len(list_slice(t, start + 1, start + $ChunkTokens)) AS n_chunk_tokens,
       |  ${OracleSql.h60(s"array_to_string(list_slice(t, start + 1, start + $ChunkTokens), ' ')")} AS chunk_h60
       |FROM ch
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(0, size(t) - 1, $ChunkStride)")).as("start"))
      .select(
        col("doc_id"),
        expr(s"CAST(start div $ChunkStride AS BIGINT)").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        expr(s"size(slice(t, start + 1, $ChunkTokens))").as("n_chunk_tokens"),
        Dedup.h60Col(expr(s"concat_ws(' ', slice(t, start + 1, $ChunkTokens))")).as("chunk_h60"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q69 — composed quality gate, the Gopher rule family (Rae et al.,
    * "Scaling Language Models: ... Gopher", 2021, §A1.1 and C4's filters)
    * re-expressed over INTEGER arithmetic only: every ratio threshold is
    * a cross-multiplication (`10 * n_punct <= text_len` instead of
    * `n_punct / text_len <= 0.1`), so the gate is bit-exact across
    * engines with no float division anywhere. Per-row projection — the
    * filter that runs FIRST at 100 TB, before any shuffle-bearing dedup.
    */
  val q69 = Q("q69_quality_gate",
    s"""WITH ${OracleSql.gateStatsCtes()}
       |SELECT doc_id, text_len, n_tokens, alpha_chars, n_punct,
       |  CAST(n_stop AS BIGINT) AS n_stop,
       |  n_tokens BETWEEN 50 AND 100000 AS len_ok,
       |  (3 * n_tokens <= alpha_chars AND alpha_chars <= 10 * n_tokens) AS wordlen_ok,
       |  10 * n_punct <= text_len AS punct_ok,
       |  n_stop >= 2 AS stop_ok,
       |  ${OracleSql.gateKeepSql} AS keep
       |FROM gm
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    gateFrame(docs(s, dir)).orderBy("doc_id")
  }

  /** The q69 gate as a reusable frame: per-doc quality metrics + rule
    * booleans + keep, over any frame with (doc_id, text). Pure per-row
    * projection — streaming-safe (CorpusStream gates micro-batches with
    * the IDENTICAL predicates, so stream and batch keep-sets agree).
    */
  def gateFrame(d: DataFrame): DataFrame = {
    val base = d.select(
      col("doc_id"),
      length(col("text")).as("text_len"),
      TextOps.tokens(col("text")).as("t"),
      length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("n_punct"))
    val m = base.select(
      col("doc_id"), col("text_len"),
      size(col("t")).as("n_tokens"),
      coalesce(expr("aggregate(transform(t, x -> length(x)), 0, (acc, x) -> acc + x)"), lit(0))
        .cast("long").as("alpha_chars"),
      col("n_punct"),
      size(filter(col("t"), x => x.isInCollection(TextOps.allStop))).cast("long").as("n_stop"))
    val lenOk = col("n_tokens").between(50, 100000)
    val wordlenOk = (lit(3) * col("n_tokens") <= col("alpha_chars")) &&
      (col("alpha_chars") <= lit(10) * col("n_tokens"))
    val punctOk = lit(10) * col("n_punct") <= col("text_len")
    val stopOk = col("n_stop") >= 2
    m.select(col("doc_id"), col("text_len"), col("n_tokens"), col("alpha_chars"),
      col("n_punct"), col("n_stop"),
      lenOk.as("len_ok"), wordlenOk.as("wordlen_ok"), punctOk.as("punct_ok"),
      stopOk.as("stop_ok"),
      (lenOk && wordlenOk && punctOk && stopOk).as("keep"))
  }

  /** The q69 gate applied as a per-row FILTER over any (…, text) frame —
    * the same four predicates as [[gateFrame]] (shared thresholds, shared
    * token rule), evaluated in-row with no join: the previous
    * `d.join(gateFrame(d), "doc_id").filter(keep)` self-join re-shuffled
    * the text payload and re-ran the tokenize kernel on the gate side
    * just to attach a boolean that is a pure function of the row
    * (guide §2.4: remove shuffles outright) — r14. Identical row set to
    * the join form whenever doc ids are unique (they are: `doc_id` is
    * the corpus primary key).
    */
  def gateKeepOnly(d: DataFrame): DataFrame = {
    val staged = d
      .withColumn("_g_len", length(col("text")))
      .withColumn("_g_t", TextOps.tokens(col("text")))
      .withColumn("_g_punct", length(regexp_replace(col("text"), "[^.!?,;:]", "")))
      .withColumn("_g_ntok", size(col("_g_t")))
    staged
      .withColumn("_g_alpha", coalesce(
          expr("aggregate(transform(_g_t, x -> length(x)), 0, (acc, x) -> acc + x)"),
          lit(0)).cast("long"))
      .withColumn("_g_nstop",
        size(filter(col("_g_t"), x => x.isInCollection(TextOps.allStop))).cast("long"))
      .filter(
        col("_g_ntok").between(50, 100000) &&
          (lit(3) * col("_g_ntok") <= col("_g_alpha")) &&
          (col("_g_alpha") <= lit(10) * col("_g_ntok")) &&
          (lit(10) * col("_g_punct") <= col("_g_len")) &&
          (col("_g_nstop") >= 2))
      .drop("_g_len", "_g_t", "_g_punct", "_g_ntok", "_g_alpha", "_g_nstop")
  }

  /** q72 — incremental corpus ingest: dedup a NEW batch of documents
    * against the already-ingested history without rescanning history
    * content — only its fingerprint set. History/batch are derived from
    * q55's content-hash split (train = history, val+test = the arriving
    * batch) so the query is self-contained on the test tables; in
    * production the history side is the fingerprint column of the
    * ingested store (a bucketed join key, no text movement). Each batch
    * doc is classified: `dup_history` (fingerprint already ingested),
    * `dup_batch` (an earlier doc in the same batch has it — min doc_id
    * wins), or `new`. Shapes: one distinct over history fingerprints,
    * one min-aggregate over the batch, two equi-joins on the fingerprint
    * — all hash-partitioned by fp, no skew (md5 keys are uniform).
    */
  val q72 = Q("q72_incremental_ingest",
    s"""WITH base AS (
      |  SELECT doc_id, source,
      |    md5(${OracleSql.normalized()}) AS fp,
      |    ${OracleSql.h60(OracleSql.normalized())} % 100 AS bucket
      |  FROM documents
      |), hist AS (
      |  SELECT DISTINCT fp FROM base WHERE bucket < 90
      |), batch AS (
      |  SELECT doc_id, source, fp FROM base WHERE bucket >= 90
      |), first_in_batch AS (
      |  SELECT fp, MIN(doc_id) AS first_id FROM batch GROUP BY fp
      |)
      |SELECT b.doc_id, b.source,
      |  CASE WHEN h.fp IS NOT NULL THEN 'dup_history'
      |       WHEN b.doc_id <> f.first_id THEN 'dup_batch'
      |       ELSE 'new' END AS status
      |FROM batch b
      |LEFT JOIN hist h ON b.fp = h.fp
      |JOIN first_in_batch f ON b.fp = f.fp
      |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
    val fp = md5(TextOps.normalized(col("text")))
    val base = docs(s, dir).select(
      col("doc_id"), col("source"), fp.as("fp"),
      (Dedup.h60Col(TextOps.normalized(col("text"))) % 100).as("bucket"))
    val hist = base.filter(col("bucket") < 90).select(col("fp")).distinct()
      .withColumn("in_hist", lit(1))
    val batch = base.filter(col("bucket") >= 90)
    val firstInBatch = batch.groupBy("fp").agg(min(col("doc_id")).as("first_id"))
    batch
      .join(hist, Seq("fp"), "left")
      .join(firstInBatch, "fp")
      .select(col("doc_id"), col("source"),
        when(col("in_hist").isNotNull, "dup_history")
          .when(col("doc_id") =!= col("first_id"), "dup_batch")
          .otherwise("new").as("status"))
      .orderBy("doc_id")
  }

  /** q77 — deterministic per-source sample: keep the k=5 docs with the
    * smallest h60(doc_id) per source — a seedless, reproducible
    * "reservoir" (hash order is fixed, so re-runs, engines, and
    * partitionings all agree; contrast with q62's Bernoulli thinning,
    * which has no per-group cap). Runs as a k-bounded TopKMin aggregate,
    * not a window: map-side partial aggregation reduces every (partition,
    * source) to ≤5 pairs before the shuffle, so high-cardinality groups
    * never sort-and-discard their full membership (the window form
    * shuffles and sorts the whole corpus to keep 5 rows per group).
    */
  val q77 = Q("q77_group_sample",
    s"""WITH h AS (
      |  SELECT source, doc_id,
      |    ${OracleSql.h60("CAST(doc_id AS VARCHAR)")} AS hk
      |  FROM documents
      |), r AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS sample_rank
      |  FROM h
      |)
      |SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
      |FROM r WHERE sample_rank <= 5
      |ORDER BY source, sample_rank""".stripMargin) { (s, dir) =>
    val h = docs(s, dir).select(col("source"), col("doc_id"),
      Dedup.h60Col(col("doc_id").cast("string")).as("hk"))
    h.groupBy("source")
      .agg(graft.functions.TopKMin.topKMin(5)(col("hk"), col("doc_id")).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("long").as("sample_rank"))
      .orderBy("source", "sample_rank")
  }

  /** q79 — per-source dedup report: the health dashboard a corpus
    * pipeline publishes after ingest (how redundant is each source).
    * Duplicate rate is exact integer basis points — `(n_docs − n_unique)
    * · 10⁴ div n_docs` — no float division. One (source, fp) aggregate
    * then a source rollup; both hash-partitioned, both map-side combined.
    */
  val q79 = Q("q79_dedup_report",
    s"""WITH f AS (
      |  SELECT source, md5(${OracleSql.normalized()}) AS fp
      |  FROM documents
      |), per AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique
      |  FROM f GROUP BY source
      |)
      |SELECT source, n_docs, n_unique,
      |  ((n_docs - n_unique) * 10000) // n_docs AS dup_rate_bp
      |FROM per
      |ORDER BY source""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("source"), md5(TextOps.normalized(col("text"))).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
      .withColumn("dup_rate_bp", expr("((n_docs - n_unique) * 10000) div n_docs"))
      .orderBy("source")
  }

  /** q83 — cross-source overlap matrix: for every source pair, how many
    * content fingerprints they share — the diagnostic that tells a corpus
    * team WHICH feeds mirror each other (and so which dedup savings are
    * attributable where). Join is fp-keyed on the DISTINCT (source, fp)
    * set; a fingerprint present in s sources contributes s·(s−1)/2 pairs,
    * bounded by #sources² — never corpus-quadratic.
    */
  val q83 = Q("q83_source_overlap",
    s"""WITH f AS (
      |  SELECT DISTINCT source,
      |    md5(${OracleSql.normalized()}) AS fp
      |  FROM documents
      |)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY 1, 2
      |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    val f = docs(s, dir)
      .select(col("source"), md5(TextOps.normalized(col("text"))).as("fp"))
      .distinct()
    val b = f.select(col("source").as("source_b"), col("fp"))
    f.select(col("source").as("source_a"), col("fp"))
      .join(b, Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** q89 — end-to-end corpus funnel: documents surviving each pipeline
    * stage (quality gate → exact dedup among survivors), with retained
    * share in exact basis points. The single number a data team watches
    * per ingest run. Stage predicates are the SAME expressions as q69 and
    * q30 — composed, not re-derived — and each stage count is one
    * aggregate over the staged frame.
    */
  val q89 = Q("q89_corpus_funnel",
    s"""WITH st AS (
       |  SELECT doc_id, text,
       |    length(text) AS text_len,
       |    ${OracleSql.tokens()} AS t,
       |    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, text, text_len, len(t) AS n_tokens,
       |    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS alpha_chars,
       |    n_punct,
       |    len(list_filter(t, x -> list_contains([${TextOps.allStop.map("'" + _ + "'").mkString(",")}], x))) AS n_stop
       |  FROM st
       |), kept AS (
       |  SELECT doc_id, md5(${OracleSql.normalized()}) AS fp
       |  FROM m
       |  WHERE n_tokens BETWEEN 50 AND 100000
       |    AND 3 * n_tokens <= alpha_chars AND alpha_chars <= 10 * n_tokens
       |    AND 10 * n_punct <= text_len AND n_stop >= 2
       |)
       |SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_total,
       |  CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_pass_gate,
       |  CAST((SELECT COUNT(DISTINCT fp) FROM kept) AS BIGINT) AS n_unique,
       |  (SELECT COUNT(DISTINCT fp) FROM kept) * 10000 // (SELECT COUNT(*) FROM m) AS retained_bp""".stripMargin) {
    (s, dir) =>
    val gated = q69.fn(s, dir).filter(col("keep"))
      .select(col("doc_id"))
    val kept = docs(s, dir).join(gated, "doc_id")
      .select(md5(TextOps.normalized(col("text"))).as("fp"))
    val total = docs(s, dir).agg(count(lit(1)).as("n_total"))
    val passed = kept.agg(count(lit(1)).as("n_pass_gate"))
    val uniq = kept.agg(countDistinct(col("fp")).as("n_unique"))
    total.crossJoin(passed).crossJoin(uniq)
      .withColumn("retained_bp", expr("(n_unique * 10000) div n_total"))
  }

  private def q105OracleSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), pr1 AS (
       |  SELECT unnest(list_transform(range(1, len(t)), i -> {'a': t[i], 'b': t[i+1]})) AS p
       |  FROM tk WHERE len(t) >= 2
       |), c1 AS (
       |  SELECT p.a AS left_tok, p.b AS right_tok, CAST(COUNT(*) AS BIGINT) AS pair_count
       |  FROM pr1 GROUP BY 1, 2
       |), top1 AS (
       |  SELECT left_tok AS ma, right_tok AS mb FROM c1
       |  ORDER BY pair_count DESC, left_tok, right_tok LIMIT 1
       |), pos AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok FROM tk
       |), mt AS (
       |  SELECT p.doc_id, p.i, p.tok,
       |    (p.tok = t1.ma
       |      AND lead(p.tok) OVER (PARTITION BY p.doc_id ORDER BY p.i) = t1.mb) AS m
       |  FROM pos p CROSS JOIN top1 t1
       |), isl AS (
       |  SELECT doc_id, i, tok, m,
       |    CASE WHEN m THEN i - ROW_NUMBER() OVER (PARTITION BY doc_id, m ORDER BY i) END AS grp
       |  FROM mt
       |), mrg AS (
       |  SELECT doc_id, i, tok,
       |    CASE WHEN m THEN (ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) - 1) % 2 = 0
       |      ELSE FALSE END AS do_merge
       |  FROM isl
       |), rb AS (
       |  SELECT g.doc_id, g.i, g.tok, g.do_merge, t1.ma, t1.mb,
       |    COALESCE(LAG(g.do_merge) OVER (PARTITION BY g.doc_id ORDER BY g.i), FALSE) AS prev_merge
       |  FROM mrg g CROSS JOIN top1 t1
       |), toks2 AS (
       |  SELECT doc_id, list(CASE WHEN do_merge THEN ma || mb ELSE tok END ORDER BY i) AS t
       |  FROM rb WHERE NOT prev_merge GROUP BY doc_id
       |), pr2 AS (
       |  SELECT unnest(list_transform(range(1, len(t)), i -> {'a': t[i], 'b': t[i+1]})) AS p
       |  FROM toks2 WHERE len(t) >= 2
       |), c2 AS (
       |  SELECT p.a AS left_tok, p.b AS right_tok, CAST(COUNT(*) AS BIGINT) AS pair_count
       |  FROM pr2 GROUP BY 1, 2
       |), r1 AS (
       |  SELECT CAST(1 AS BIGINT) AS round,
       |    ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_tok, right_tok) AS merge_rank,
       |    left_tok, right_tok, pair_count
       |  FROM c1 ORDER BY pair_count DESC, left_tok, right_tok LIMIT 20
       |), r2 AS (
       |  SELECT CAST(2 AS BIGINT) AS round,
       |    ROW_NUMBER() OVER (ORDER BY pair_count DESC, left_tok, right_tok) AS merge_rank,
       |    left_tok, right_tok, pair_count
       |  FROM c2 ORDER BY pair_count DESC, left_tok, right_tok LIMIT 20
       |)
       |SELECT round, merge_rank, left_tok, right_tok, pair_count FROM r1
       |UNION ALL
       |SELECT round, merge_rank, left_tok, right_tok, pair_count FROM r2
       |ORDER BY round, merge_rank""".stripMargin

  /** q105 — the BPE merge LOOP (q67 is its first half-round): count
    * adjacent pairs, apply the winning merge to the token stream (the
    * fused `bpe_merge` kernel — left-to-right greedy, the sequential
    * trainer's semantics), and recount on the REWRITTEN stream. Output is
    * both rounds' top-20 pair tables; round 2's counts reflect the merged
    * symbol (the round-1 winner is gone, and new pairs bridging the merged
    * symbol appear). The oracle reproduces the rewrite in DuckDB with
    * gaps-and-islands run parity over exploded token positions — run
    * parity equals greedy left-to-right exactly (overlap exists only when
    * a = b, where even run offsets merge). Scale shape per round: one
    * pair-count aggregate (vocabulary²-bounded) and one per-row kernel
    * pass — token-stream linear, the 1-row merge table broadcasts.
    */
  val q105 = Q("q105_bpe_merge_loop", q105OracleSql) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tk = docs(s, dir).select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    def top20(c: DataFrame, round: Int): DataFrame = c
      .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok")).limit(20)
      .withColumn("merge_rank", row_number().over(
        Window.orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))).cast("long"))
      .select(lit(round.toLong).as("round"), col("merge_rank"),
        col("left_tok"), col("right_tok"), col("pair_count"))
    val c1 = pairCountsOf(tk).localCheckpoint()
    val top1 = c1.orderBy(col("pair_count").desc, col("left_tok"), col("right_tok")).limit(1)
      .select(col("left_tok").as("ma"), col("right_tok").as("mb"))
    val tk2 = tk.crossJoin(broadcast(top1))
      .select(col("doc_id"),
        graft.functions.BpeMerge(col("t"), col("ma"), col("mb")).as("t"))
    top20(c1, 1).unionByName(top20(pairCountsOf(tk2), 2))
      .orderBy("round", "merge_rank")
  }

  /** q54's GPT-2-style pretokenizer over a documents frame: (doc_id, t).
    * The stream BPE training and encoding both start from — shared so the
    * zero-merge encode is exactly q54's token counts (spec-pinned).
    */
  def pretokens(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit(TextOps.bpePattern), lit(0)).as("t"))

  /** Adjacent-pair counts of a (doc_id, t) token frame — q105's counting
    * stage as a reusable kernel (vocabulary²-bounded output).
    */
  private def pairCountsOf(toks: DataFrame): DataFrame = toks
    .filter(size(col("t")) >= 2)
    .select(explode(expr(
      "transform(sequence(1, size(t)-1), i -> struct(element_at(t, i) AS a, element_at(t, i+1) AS b))"))
      .as("p"))
    .groupBy(col("p.a").as("left_tok"), col("p.b").as("right_tok"))
    .agg(count(lit(1)).as("pair_count"))

  /** TRAIN-half: learn k ranked merges by iterating q105's loop — count
    * pairs, take the (pair_count DESC, left, right) winner, rewrite the
    * stream with the `bpe_merge` kernel, repeat. Each round collects ONE
    * winner row to the driver (k rows total — bounded by the requested
    * vocabulary growth, never by the corpus) and localCheckpoints the
    * rewritten stream so round r+1 never replays rounds 1..r.
    */
  def trainMerges(tk0: DataFrame, k: Int): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var tk = tk0
    for (_ <- 1 to k) {
      val w = pairCountsOf(tk)
        .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))
        .limit(1).collect()
      if (w.nonEmpty) {
        val (a, b) = (w(0).getString(0), w(0).getString(1))
        out += ((a, b))
        tk = tk.select(col("doc_id"),
          graft.functions.BpeMerge(col("t"), lit(a), lit(b)).as("t"))
          .localCheckpoint()
      }
    }
    out.toSeq
  }

  /** APPLY-half: encode a pretoken stream with a ranked merge table —
    * one fused `bpe_merge` kernel pass per rank, in rank order (the
    * trainer's own rewrite order, so encoding the training corpus
    * reproduces its final stream exactly). Merges ride as literals: the
    * rewrite is pure per-row map work, no join, no shuffle.
    */
  def bpeEncode(tk: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(tk) { case (df, (a, b)) =>
      df.select(col("doc_id"),
        graft.functions.BpeMerge(col("t"), lit(a), lit(b)).as("t"))
    }

  private val BpeEncodeRounds = 3

  /** Shared oracle prefix for q118/q191: pretokens + the
    * [[BpeEncodeRounds]] unrolled train-and-rewrite rounds, ending at
    * [[bpeFinalTk]].
    */
  private def bpeEncodeCtes: String = {
    val pat = TextOps.bpePattern.replace("'", "''")
    def round(r: Int, in: String): String =
      s"""c$r AS (
         |  SELECT p.a AS left_tok, p.b AS right_tok, CAST(COUNT(*) AS BIGINT) AS pair_count
         |  FROM (SELECT unnest(list_transform(range(1, len(t)), i -> {'a': t[i], 'b': t[i+1]})) AS p
         |        FROM $in WHERE len(t) >= 2)
         |  GROUP BY 1, 2
         |), top$r AS (
         |  SELECT left_tok AS ma, right_tok AS mb FROM c$r
         |  ORDER BY pair_count DESC, left_tok, right_tok LIMIT 1
         |), pos$r AS (
         |  SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok FROM $in
         |), mt$r AS (
         |  SELECT p.doc_id, p.i, p.tok,
         |    (p.tok = t1.ma
         |      AND lead(p.tok) OVER (PARTITION BY p.doc_id ORDER BY p.i) = t1.mb) AS m
         |  FROM pos$r p CROSS JOIN top$r t1
         |), isl$r AS (
         |  SELECT doc_id, i, tok, m,
         |    CASE WHEN m THEN i - ROW_NUMBER() OVER (PARTITION BY doc_id, m ORDER BY i) END AS grp
         |  FROM mt$r
         |), mrg$r AS (
         |  SELECT doc_id, i, tok,
         |    CASE WHEN m THEN (ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY i) - 1) % 2 = 0
         |      ELSE FALSE END AS do_merge
         |  FROM isl$r
         |), rb$r AS (
         |  SELECT g.doc_id, g.i, g.tok, g.do_merge, t1.ma, t1.mb,
         |    COALESCE(LAG(g.do_merge) OVER (PARTITION BY g.doc_id ORDER BY g.i), FALSE) AS prev_merge
         |  FROM mrg$r g CROSS JOIN top$r t1
         |), tk$r AS (
         |  SELECT doc_id, list(CASE WHEN do_merge THEN ma || mb ELSE tok END ORDER BY i) AS t
         |  FROM rb$r WHERE NOT prev_merge GROUP BY doc_id
         |)""".stripMargin
    val rounds = (1 to BpeEncodeRounds)
      .map(r => round(r, if (r == 1) "tk0" else s"tk${r - 1}")).mkString(",\n")
    s"""WITH tk0 AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$pat') AS t FROM documents
       |),
       |$rounds""".stripMargin
  }

  private def bpeFinalTk: String = s"tk$BpeEncodeRounds"

  private def q118OracleSql: String = {
    val fin = bpeFinalTk
    s"""$bpeEncodeCtes,
       |vocab AS (
       |  SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS id
       |  FROM (SELECT DISTINCT unnest(t) AS token FROM $fin)
       |), posi AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS tok FROM $fin
       |), ids AS (
       |  SELECT p.doc_id,
       |    array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY p.i), ',') AS token_ids
       |  FROM posi p JOIN vocab v ON p.tok = v.token
       |  GROUP BY p.doc_id
       |)
       |SELECT t0.doc_id,
       |  CAST(len(t0.t) AS BIGINT) AS n_pretokens,
       |  CAST(COALESCE(len(f.t), 0) AS BIGINT) AS n_tokens,
       |  CAST(CASE WHEN len(t0.t) = 0 THEN 0
       |       ELSE (len(t0.t) - COALESCE(len(f.t), 0)) * 10000 // len(t0.t) END AS BIGINT)
       |    AS compression_bp,
       |  COALESCE(i.token_ids, '') AS token_ids
       |FROM tk0 t0
       |LEFT JOIN $fin f ON t0.doc_id = f.doc_id
       |LEFT JOIN ids i ON t0.doc_id = i.doc_id
       |ORDER BY t0.doc_id""".stripMargin
  }

  /** q118 — the tokenizer APPLY-half q105 trains for: learn a 3-entry
    * ranked merge table (q105's count→winner→rewrite loop iterated), then
    * ENCODE the corpus with it — `bpeEncode`'s iterated kernel passes —
    * and emit per-document token ids (dense ids over the final
    * vocabulary, sorted-token order) plus tokens/doc and compression vs
    * the q54 pretokenizer. Scale shape: training is k (count + rewrite)
    * corpus-linear rounds with a 1-row driver collect each; encoding is
    * pure per-row kernel work with the merges as literals (no join);
    * id assignment sorts only the VOCABULARY (bounded, never the
    * corpus) and broadcasts it back to one posexplode join. The oracle
    * unrolls all three training rounds with q105's gaps-and-islands run
    * parity and replays them as the encode — bit-identical because run
    * parity equals greedy left-to-right exactly.
    */
  val q118 = Q("q118_bpe_encode", q118OracleSql) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tk0 = pretokens(docs(s, dir)).localCheckpoint()
    val merges = trainMerges(tk0, BpeEncodeRounds)
    val enc = bpeEncode(tk0, merges).localCheckpoint()
    val vocab = enc.select(explode(col("t")).as("token")).distinct()
      .withColumn("id", row_number().over(Window.orderBy("token")).cast("long"))
    val ids = enc.select(col("doc_id"), posexplode(col("t")).as(Seq("i", "token")))
      .join(broadcast(vocab), Seq("token"))
      .groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(i, id))), " +
        "r -> CAST(r.id AS STRING)), ',')").as("token_ids"))
    tk0.select(col("doc_id"), size(col("t")).cast("long").as("n_pretokens"))
      .join(enc.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens")), Seq("doc_id"))
      .join(ids, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pretokens"), col("n_tokens"),
        expr("CAST(CASE WHEN n_pretokens = 0 THEN 0 " +
          "ELSE ((n_pretokens - n_tokens) * 10000) div n_pretokens END AS BIGINT)")
          .as("compression_bp"),
        coalesce(col("token_ids"), lit("")).as("token_ids"))
      .orderBy("doc_id")
  }

  // ── q191: tokenizer fertility per source under the trained vocab ─────

  private def q191OracleSql: String = {
    val fin = bpeFinalTk
    s"""$bpeEncodeCtes,
       |pre AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_pre,
       |    CAST(COALESCE(list_sum(list_transform(t, s -> len(s))), 0) AS BIGINT) AS n_chars_tok
       |  FROM tk0
       |), toks AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM $fin
       |)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(p.n_pre) AS BIGINT) AS pretokens,
       |  CAST(SUM(COALESCE(k.n_tok, 0)) AS BIGINT) AS tokens,
       |  CAST(SUM(p.n_chars_tok) AS BIGINT) AS chars,
       |  CASE WHEN CAST(SUM(COALESCE(k.n_tok, 0)) AS BIGINT) = 0 THEN 0
       |    ELSE (CAST(SUM(p.n_chars_tok) AS BIGINT) * 10000)
       |      // CAST(SUM(COALESCE(k.n_tok, 0)) AS BIGINT) END AS chars_per_token_fp,
       |  CASE WHEN CAST(SUM(p.n_pre) AS BIGINT) = 0 THEN 0
       |    ELSE ((CAST(SUM(p.n_pre) AS BIGINT) - CAST(SUM(COALESCE(k.n_tok, 0)) AS BIGINT)) * 10000)
       |      // CAST(SUM(p.n_pre) AS BIGINT) END AS compression_bp
       |FROM documents d
       |JOIN pre p ON d.doc_id = p.doc_id
       |LEFT JOIN toks k ON d.doc_id = k.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin
  }

  /** q191 — tokenizer FERTILITY per source under the TRAINED vocabulary:
    * train q118's merge table once, encode the corpus, and report per
    * source the chars-per-token rate (fertility, ×10⁴ fixed point) and
    * compression vs the pretokenizer — the table a mixture planner reads
    * to see which sources inflate the token budget under a given
    * tokenizer (the q175 reweighting's loss signal, now derived from the
    * trained vocab instead of the whitespace proxy). Chars are counted
    * over the token stream itself (merges conserve them), so every
    * number is an exact BIGINT and the rates are exact floor divisions.
    * Scale shape: training is k corpus-linear rounds with a 1-row
    * collect each; the encode is kernel map passes; the rollup is
    * |sources| rows.
    */
  val q191 = Q("q191_tokenizer_fertility", q191OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val tk0 = pretokens(d).localCheckpoint()
    val merges = trainMerges(tk0, BpeEncodeRounds)
    val enc = bpeEncode(tk0, merges)
    val pre = tk0.select(col("doc_id"), size(col("t")).cast("long").as("n_pre"),
      expr("aggregate(t, CAST(0 AS BIGINT), (a, x) -> a + length(x))").as("n_chars_tok"))
    val tok = enc.select(col("doc_id"), size(col("t")).cast("long").as("n_tok"))
    d.select(col("doc_id"), col("source"))
      .join(pre, Seq("doc_id"))
      .join(tok, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_pre").cast("long").as("pretokens"),
        sum(coalesce(col("n_tok"), lit(0L))).cast("long").as("tokens"),
        sum("n_chars_tok").cast("long").as("chars"))
      .withColumn("chars_per_token_fp",
        expr("CASE WHEN tokens = 0 THEN 0 ELSE (chars * 10000) div tokens END"))
      .withColumn("compression_bp",
        expr("CASE WHEN pretokens = 0 THEN 0 " +
          "ELSE ((pretokens - tokens) * 10000) div pretokens END"))
      .orderBy("source")
  }

  // ── q192: fertility-driven domain reweighting ────────────────────────

  private def q192OracleSql: String = Mining.mwOracleSql(
    s"""$bpeEncodeCtes,
       |d AS (
       |  SELECT doc.source,
       |    (10000 * CAST(list_sum(list_transform(f.t, s -> len(s))) AS BIGINT))
       |      // CAST(len(f.t) AS BIGINT) AS cpt
       |  FROM $bpeFinalTk f JOIN documents doc ON f.doc_id = doc.doc_id
       |  WHERE len(f.t) > 0
       |)""".stripMargin)

  /** q192 — q175's DoReMi-shaped multiplicative-weights optimizer driven
    * by the TRAINED tokenizer's fertility instead of the whitespace
    * proxy: per-doc loss = chars-per-token over the q118-encoded stream
    * (exact fixed point — verbose sources that resist the learned merges
    * score high), then the identical excess → 4 MW rounds →
    * renormalized ppm trajectory and doc allocation. This is the
    * composition a real pipeline runs — the tokenizer you will train
    * WITH decides which domains get upweighted — and it shares the
    * optimizer code (`Mining.mwTableFromCells`) and the oracle's MW body
    * with q175, so the only new surface is the loss projection. Scale:
    * the encode is q118's kernel passes; the optimizer runs on
    * |sources| rows.
    */
  val q192 = Q("q192_fertility_reweighting", q192OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val tk0 = pretokens(d).localCheckpoint()
    val merges = trainMerges(tk0, BpeEncodeRounds)
    val cells = bpeEncode(tk0, merges)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tok"),
        expr("aggregate(t, CAST(0 AS BIGINT), (a, x) -> a + length(x))").as("n_ch"))
      .filter(col("n_tok") > 0)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), expr("(10000 * n_ch) div n_tok").as("cpt"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("cpt").cast("long").as("loss_sum"))
    Mining.mwTableFromCells(cells)
  }

  // ── q126: per-source distribution drift (chi-square vs rest) ─────────

  val DriftBinWidth = 64L              // token-count histogram bin width
  val DriftMaxBin = 31L                // cap: everything ≥ 2048 tokens in one bin

  private def q126OracleSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |    LEAST(CAST(len(${OracleSql.tokens()}) AS BIGINT)
       |      // $DriftBinWidth, $DriftMaxBin) AS bin
       |  FROM documents
       |), cells AS (
       |  SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS o FROM t GROUP BY 1, 2
       |), rowt AS (
       |  SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1
       |), colt AS (
       |  SELECT bin, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
       |), grid AS (
       |  SELECT rt.source, ct.bin, rt.r, ct.c, tot.n FROM rowt rt, colt ct, tot
       |), gcell AS (
       |  SELECT g.source, g.bin,
       |    COALESCE(ce.o, 0) AS o1, g.c - COALESCE(ce.o, 0) AS o2,
       |    g.r, g.n - g.r AS r2, g.c, g.n
       |  FROM grid g LEFT JOIN cells ce ON g.source = ce.source AND g.bin = ce.bin
       |), terms AS (
       |  SELECT source,
       |    CAST(FLOOR((CAST(o1 AS DOUBLE)*CAST(n AS DOUBLE) - CAST(r AS DOUBLE)*CAST(c AS DOUBLE))
       |      * (CAST(o1 AS DOUBLE)*CAST(n AS DOUBLE) - CAST(r AS DOUBLE)*CAST(c AS DOUBLE))
       |      / (CAST(n AS DOUBLE)*CAST(r AS DOUBLE)*CAST(c AS DOUBLE))
       |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS t1,
       |    CAST(FLOOR((CAST(o2 AS DOUBLE)*CAST(n AS DOUBLE) - CAST(r2 AS DOUBLE)*CAST(c AS DOUBLE))
       |      * (CAST(o2 AS DOUBLE)*CAST(n AS DOUBLE) - CAST(r2 AS DOUBLE)*CAST(c AS DOUBLE))
       |      / (CAST(n AS DOUBLE)*CAST(r2 AS DOUBLE)*CAST(c AS DOUBLE))
       |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS t2
       |  FROM gcell
       |), agg AS (
       |  SELECT source, CAST(SUM(t1 + t2) AS BIGINT) AS chi2_fp,
       |    CAST(COUNT(*) AS BIGINT) - 1 AS df
       |  FROM terms GROUP BY source
       |)
       |SELECT a.source, rt.r AS n_docs, a.chi2_fp, a.df,
       |  a.chi2_fp > 2000000 * a.df AS elevated
       |FROM agg a JOIN rowt rt ON a.source = rt.source
       |ORDER BY a.source""".stripMargin

  /** q126 — distribution-drift monitoring: for each source, a chi-square
    * statistic of its token-length histogram against the REST of the
    * corpus (source-vs-rest 2×bins contingency), the mixture-shift check
    * a curation pipeline runs per snapshot (which source changed shape?).
    * Exactness: every O/R/C/N count is an exact BIGINT; the per-cell
    * term (O·N − R·C)²/(N·R·C) is computed ENTIRELY in DOUBLE — each
    * count cast individually before any product, so nothing ever
    * overflows (the squared cross-product would blow int64 at ~10⁵ docs
    * and the N·R·C denominator at ~2·10⁶; DuckDB raises on BIGINT
    * overflow while Spark wraps, so integer intermediates would break
    * parity far below any real corpus size). Both engines evaluate the
    * SAME IEEE-754 tree left-to-right, so the floor-scaled fixed-point
    * sum stays bit-identical at EVERY scale: values are exact while
    * intermediates fit 2⁵³ (~9·10⁷ docs for the cross term) and
    * deterministically rounded — never overflowed — beyond. The
    * `elevated` flag uses the E[χ²] = df heuristic (chi2 > 2·df) as a
    * demo threshold. Scale shape: one map pass (tokenize → bin), one
    * (source, bin) hash aggregate — everything after the cells table is
    * sources × bins arithmetic on broadcast-sized frames. Split into
    * `driftCells` + `chi2FromCells` so the streaming fold (DriftStream)
    * shares both halves.
    */
  // (q126 = chi2FromCells(driftCells(documents)) — defined below the kernels)

  /** (source, bin, o) histogram cells — the SHARED projection of batch
    * q126 and the streaming drift fold (DriftStream): counts are
    * add-mergeable, so per-batch partial cells fold to the whole-corpus
    * table under any batch boundaries.
    */
  def driftCells(d: DataFrame): DataFrame = d
    .select(col("source"),
      least((size(TextOps.tokens(col("text"))).cast("long") / lit(DriftBinWidth))
          .cast("long"),
        lit(DriftMaxBin)).as("bin"))
    .groupBy("source", "bin")
    .agg(count(lit(1)).as("o"))

  /** SNAPSHOT-keyed histogram cells — `driftCells` with the corpus-state
    * key kept, for streams whose documents carry a `snapshot_id` (ingest
    * generation) column. Same bin projection by construction, so per-
    * snapshot slices of this table equal `driftCells` of that snapshot's
    * documents, and the folded artifact can serve χ² BETWEEN any two
    * snapshots (chi2Pair) as well as within one (chi2FromCells).
    */
  def driftCellsBySnapshot(d: DataFrame): DataFrame = d
    .select(col("snapshot_id"), col("source"),
      least((size(TextOps.tokens(col("text"))).cast("long") / lit(DriftBinWidth))
          .cast("long"),
        lit(DriftMaxBin)).as("bin"))
    .groupBy("snapshot_id", "source", "bin")
    .agg(count(lit(1)).as("o"))

  /** The χ² computation over a cells table — shared so batch and
    * artifact-served drift can never diverge. Everything here is
    * sources × bins arithmetic on broadcast-sized frames.
    */
  def chi2FromCells(cellsIn: DataFrame): DataFrame = {
    val cells = cellsIn.localCheckpoint()
    val rowt = cells.groupBy("source").agg(sum(col("o")).cast("long").as("r"))
    val colt = cells.groupBy("bin").agg(sum(col("o")).cast("long").as("c"))
    val tot = cells.agg(sum(col("o")).cast("long").as("n"))
    val grid = rowt.crossJoin(broadcast(colt)).crossJoin(broadcast(tot))
    val gcell = grid.join(cells, Seq("source", "bin"), "left")
      .select(col("source"), col("bin"),
        coalesce(col("o"), lit(0L)).as("o1"),
        (col("c") - coalesce(col("o"), lit(0L))).as("o2"),
        col("r"), (col("n") - col("r")).as("r2"), col("c"), col("n"))
    def d(name: String) = col(name).cast("double")
    def diff(o: String, r: String) = d(o) * d("n") - d(r) * d("c")
    def term(o: String, r: String) =
      floor(diff(o, r) * diff(o, r) /
        (d("n") * d(r) * d("c")) * lit(1000000.0)).cast("long")
    gcell
      .select(col("source"), term("o1", "r").as("t1"), term("o2", "r2").as("t2"))
      .groupBy("source")
      .agg(sum(col("t1") + col("t2")).cast("long").as("chi2_fp"),
        (count(lit(1)) - 1L).as("df"))
      .join(rowt.withColumnRenamed("r", "n_docs"), Seq("source"))
      .select(col("source"), col("n_docs"), col("chi2_fp"), col("df"),
        (col("chi2_fp") > lit(2000000L) * col("df")).as("elevated"))
      .orderBy("source")
  }

  val q126 = Q("q126_source_drift", q126OracleSql) { (s, dir) =>
    chi2FromCells(driftCells(docs(s, dir)))
  }

  // ── q128/q129: drift between two SNAPSHOTS ───────────────────────────

  /** The deterministic two-snapshot fixture carved from `documents` —
    * the per-ingest question q126 cannot answer ("did the mixture shift
    * between snapshot A and B?") needs two corpus states, so the
    * carrying queries split the one driver table by doc_id parity and
    * inject REAL shift into B: `DriftShiftSource` loses every document
    * of ≥ one bin width (its length histogram collapses to bin 0) and
    * `DriftDropSource` disappears from B entirely (the degenerate
    * zero-margin branch). Every other source differs only by the parity
    * split — sampling noise, not shift.
    */
  val DriftShiftSource = "src0"
  val DriftDropSource = "src9"

  /** Snapshot membership by doc_id HASH parity, not doc_id parity — the
    * driver assigns sources round-robin over ids, so raw parity would
    * correlate perfectly with source and put every source wholly in one
    * snapshot. h60 decorrelates (both engines share the md5 identity).
    */
  private def snapParity = Dedup.h60Col(col("doc_id").cast("string")) % 2

  private val snapParitySql = s"${OracleSql.h60("CAST(doc_id AS VARCHAR)")} % 2"

  def snapshotA(d: DataFrame): DataFrame = d.filter(snapParity === 0)

  def snapshotB(d: DataFrame): DataFrame = d.filter(snapParity === 1)
    .filter(!(col("source") === DriftShiftSource &&
      size(TextOps.tokens(col("text"))).cast("long") >= lit(DriftBinWidth)))
    .filter(col("source") =!= DriftDropSource)

  private def snapshotSqlA = s"SELECT * FROM documents WHERE $snapParitySql = 0"

  private def snapshotSqlB =
    s"""SELECT * FROM documents WHERE $snapParitySql = 1
       |    AND NOT (source = '$DriftShiftSource'
       |      AND CAST(len(${OracleSql.tokens()}) AS BIGINT) >= $DriftBinWidth)
       |    AND source <> '$DriftDropSource'""".stripMargin

  private def cellsSql(alias: String) =
    s"""SELECT source,
       |    LEAST(CAST(len(${OracleSql.tokens()}) AS BIGINT)
       |      // $DriftBinWidth, $DriftMaxBin) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS o
       |  FROM $alias GROUP BY 1, 2""".stripMargin

  /** A-vs-B χ² per source over two histogram-cell tables (`driftCells`
    * output shape): for each source, the 2×bins contingency of its
    * snapshot-A histogram against its snapshot-B histogram — the test a
    * curation pipeline runs per ingest to ask WHICH source changed
    * shape between two corpus states. Same full-DOUBLE fixed-point
    * arithmetic as `chi2FromCells` (nothing overflows, both engines
    * evaluate one IEEE tree), with the zero-margin guard: a source
    * present in only one snapshot has no finite χ² — its terms are
    * skipped, chi2_fp is NULL, and `shifted` is true by definition
    * (appearing/disappearing IS maximal drift). Everything past the two
    * cell tables is sources × bins arithmetic on broadcast-sized
    * frames; the cells themselves are add-mergeable partials, which is
    * what lets DriftStream serve this off its folded artifact.
    */
  def chi2Pair(cellsA: DataFrame, cellsB: DataFrame): DataFrame = {
    val a = cellsA.select(col("source").as("sa"), col("bin").as("ba"), col("o").as("oa"))
    val b = cellsB.select(col("source").as("sb"), col("bin").as("bb"), col("o").as("ob"))
    val cells = a.join(b, col("sa") === col("sb") && col("ba") === col("bb"), "full_outer")
      .select(coalesce(col("sa"), col("sb")).as("source"),
        coalesce(col("ba"), col("bb")).as("bin"),
        coalesce(col("oa"), lit(0L)).as("oa"),
        coalesce(col("ob"), lit(0L)).as("ob"))
      .localCheckpoint()
    val tot = cells.groupBy("source")
      .agg(sum(col("oa")).cast("long").as("ra"), sum(col("ob")).cast("long").as("rb"))
    val g = cells.join(tot, Seq("source"))
      .withColumn("c", col("oa") + col("ob"))
      .withColumn("n", col("ra") + col("rb"))
    def d(name: String) = col(name).cast("double")
    def diff(o: String, r: String) = d(o) * d("n") - d(r) * d("c")
    def term(o: String, r: String) =
      when(col("ra") > 0 && col("rb") > 0,
        floor(diff(o, r) * diff(o, r) /
          (d("n") * d(r) * d("c")) * lit(1000000.0)).cast("long"))
        .otherwise(lit(0L))
    g.select(col("source"), col("ra"), col("rb"),
        term("oa", "ra").as("t1"), term("ob", "rb").as("t2"))
      .groupBy("source")
      .agg(max(col("ra")).as("n_a"), max(col("rb")).as("n_b"),
        sum(col("t1") + col("t2")).cast("long").as("chi2_raw"),
        (count(lit(1)) - 1L).as("df"))
      .select(col("source"), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, col("chi2_raw")).as("chi2_fp"),
        col("df"))
      .withColumn("shifted",
        coalesce(col("chi2_fp") > lit(2000000L) * col("df"), lit(true)))
      .orderBy("source")
  }

  private def chi2PairTermSql(o: String, r: String) =
    s"""CASE WHEN ra > 0 AND rb > 0 THEN
       |      CAST(FLOOR((CAST($o AS DOUBLE)*CAST(n AS DOUBLE) - CAST($r AS DOUBLE)*CAST(c AS DOUBLE))
       |        * (CAST($o AS DOUBLE)*CAST(n AS DOUBLE) - CAST($r AS DOUBLE)*CAST(c AS DOUBLE))
       |        / (CAST(n AS DOUBLE)*CAST($r AS DOUBLE)*CAST(c AS DOUBLE))
       |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT) ELSE 0 END""".stripMargin

  private def q128OracleSql: String =
    s"""WITH snap_a AS ($snapshotSqlA
       |), snap_b AS ($snapshotSqlB
       |), ca AS (
       |  ${cellsSql("snap_a")}
       |), cb AS (
       |  ${cellsSql("snap_b")}
       |), cells AS (
       |  SELECT COALESCE(a.source, b.source) AS source, COALESCE(a.bin, b.bin) AS bin,
       |    COALESCE(a.o, 0) AS oa, COALESCE(b.o, 0) AS ob
       |  FROM ca a FULL JOIN cb b ON a.source = b.source AND a.bin = b.bin
       |), tot AS (
       |  SELECT source, CAST(SUM(oa) AS BIGINT) AS ra, CAST(SUM(ob) AS BIGINT) AS rb
       |  FROM cells GROUP BY 1
       |), g AS (
       |  SELECT ce.source, ce.oa, ce.ob, t.ra, t.rb,
       |    ce.oa + ce.ob AS c, t.ra + t.rb AS n
       |  FROM cells ce JOIN tot t ON ce.source = t.source
       |), terms AS (
       |  SELECT source, ra, rb,
       |    ${chi2PairTermSql("oa", "ra")} AS t1,
       |    ${chi2PairTermSql("ob", "rb")} AS t2
       |  FROM g
       |), agg AS (
       |  SELECT source, MAX(ra) AS n_a, MAX(rb) AS n_b,
       |    CASE WHEN MAX(ra) > 0 AND MAX(rb) > 0
       |      THEN CAST(SUM(t1 + t2) AS BIGINT) END AS chi2_fp,
       |    CAST(COUNT(*) AS BIGINT) - 1 AS df
       |  FROM terms GROUP BY source
       |)
       |SELECT source, n_a, n_b, chi2_fp, df,
       |  COALESCE(chi2_fp > 2000000 * df, TRUE) AS shifted
       |FROM agg ORDER BY source""".stripMargin

  /** q128 — snapshot-pair drift: which source changed SHAPE between two
    * corpus snapshots. The question q126's source-vs-rest test cannot
    * answer (its cells are not snapshot-keyed) and the round-7 verdict
    * named as the gap: per-ingest drift needs χ² BETWEEN two corpus
    * states, served from snapshot-keyed artifacts. The fixture injects
    * real shift (see `snapshotA`/`snapshotB`); the kernel is
    * `chi2Pair`, shared verbatim with DriftStream's artifact-served
    * pair drift so streamed and batch answers cannot diverge. Plan
    * shape: ONE corpus scan and ONE tokenize — the token count is
    * projected once and feeds both the snapshot-B exclusion predicate
    * and the histogram bin (the naive chi2Pair(driftCells(A),
    * driftCells(B)) form re-scans and re-tokenizes per side; at 100 TB
    * the corpus pass IS the cost, so halving it matters more than any
    * downstream arithmetic).
    */
  val q128 = Q("q128_snapshot_pair_drift", q128OracleSql) { (s, dir) =>
    val base = docs(s, dir)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
        snapParity.as("snap"))
    val cells = base
      .filter(col("snap") === 0 ||
        (!(col("source") === DriftShiftSource && col("ntok") >= lit(DriftBinWidth)) &&
          col("source") =!= DriftDropSource))
      .groupBy(col("snap"), col("source"),
        least((col("ntok") / lit(DriftBinWidth)).cast("long"), lit(DriftMaxBin)).as("bin"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    chi2Pair(
      cells.filter(col("snap") === 0).select("source", "bin", "o"),
      cells.filter(col("snap") === 1).select("source", "bin", "o"))
  }

  private def q129OracleSql: String =
    s"""WITH snap_a AS ($snapshotSqlA
       |), snap_b AS ($snapshotSqlB
       |), ca AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS na FROM snap_a GROUP BY 1
       |), cb AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS nb FROM snap_b GROUP BY 1
       |), cells AS (
       |  SELECT COALESCE(a.source, b.source) AS source,
       |    COALESCE(a.na, 0) AS na, COALESCE(b.nb, 0) AS nb
       |  FROM ca a FULL JOIN cb b ON a.source = b.source
       |), tot AS (
       |  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM cells
       |), g AS (
       |  SELECT c.source, c.na, c.nb, t.ta, t.tb,
       |    t.ta + t.tb AS n, c.na + c.nb AS cs, t.ta + t.tb - c.na - c.nb AS cr
       |  FROM cells c, tot t
       |), t AS (
       |  SELECT source, na, nb,
       |    CASE WHEN ta > 0 THEN (na * 10000) // ta ELSE 0 END AS share_a_bp,
       |    CASE WHEN tb > 0 THEN (nb * 10000) // tb ELSE 0 END AS share_b_bp,
       |    CASE WHEN ta > 0 AND tb > 0 AND cr > 0 THEN
       |      CAST(FLOOR(CAST(n AS DOUBLE)
       |        * (CAST(na AS DOUBLE)*CAST(tb - nb AS DOUBLE) - CAST(ta - na AS DOUBLE)*CAST(nb AS DOUBLE))
       |        * (CAST(na AS DOUBLE)*CAST(tb - nb AS DOUBLE) - CAST(ta - na AS DOUBLE)*CAST(nb AS DOUBLE))
       |        / (CAST(ta AS DOUBLE)*CAST(tb AS DOUBLE)*CAST(cs AS DOUBLE)*CAST(cr AS DOUBLE))
       |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT) END AS chi2_fp
       |  FROM g
       |)
       |SELECT source, na AS n_a, nb AS n_b, share_a_bp, share_b_bp, chi2_fp,
       |  CAST(1 AS BIGINT) AS df,
       |  COALESCE(chi2_fp > 2000000, TRUE) AS shifted
       |FROM t ORDER BY source""".stripMargin

  /** q129 — mixture-share drift between the same two snapshots: which
    * source's SHARE of the corpus changed (the composition question;
    * q128 asks about within-source shape). Per source, the 2×2
    * snapshot × (source, rest) contingency via the closed form
    * χ² = n·(ad−bc)²/(r₁r₂c₁c₂) — one guarded full-DOUBLE term per
    * source, df = 1 — plus basis-point shares as exact integer division.
    * A source absent from one snapshot is NOT degenerate here (its
    * column margin stays positive), so the dropped source gets a real,
    * large χ² — the two queries are complementary detectors. Everything
    * after the two count tables is sources-sized broadcast arithmetic.
    */
  val q129 = Q("q129_mixture_share_drift", q129OracleSql) { (s, dir) =>
    val d0 = docs(s, dir)
    val ca = snapshotA(d0).groupBy("source").agg(count(lit(1)).as("na"))
    val cb = snapshotB(d0).groupBy("source").agg(count(lit(1)).as("nb"))
    val cells = ca.join(cb, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("na"), lit(0L)).as("na"), coalesce(col("nb"), lit(0L)).as("nb"))
      .localCheckpoint()
    val tot = cells.agg(sum(col("na")).cast("long").as("ta"), sum(col("nb")).cast("long").as("tb"))
    val g = cells.crossJoin(broadcast(tot))
      .withColumn("n", col("ta") + col("tb"))
      .withColumn("cs", col("na") + col("nb"))
      .withColumn("cr", col("ta") + col("tb") - col("na") - col("nb"))
    def d(name: String) = col(name).cast("double")
    val det = d("na") * (col("tb") - col("nb")).cast("double") -
      (col("ta") - col("na")).cast("double") * d("nb")
    g.select(col("source"), col("na").as("n_a"), col("nb").as("n_b"),
        when(col("ta") > 0, expr("(na * 10000) div ta")).otherwise(lit(0L)).as("share_a_bp"),
        when(col("tb") > 0, expr("(nb * 10000) div tb")).otherwise(lit(0L)).as("share_b_bp"),
        when(col("ta") > 0 && col("tb") > 0 && col("cr") > 0,
          floor(d("n") * det * det /
            (d("ta") * d("tb") * d("cs") * d("cr")) * lit(1000000.0)).cast("long"))
          .as("chi2_fp"),
        lit(1L).as("df"))
      .withColumn("shifted", coalesce(col("chi2_fp") > lit(2000000L), lit(true)))
      .orderBy("source")
  }

  // ── q131: rolling drift — each snapshot vs its cumulative baseline ──

  val RollSnapshots = 4

  private val rollParitySql =
    s"CAST(${OracleSql.h60("'roll:' || CAST(doc_id AS VARCHAR)")} % $RollSnapshots AS BIGINT)"

  /** The rolling fixture: RollSnapshots-way h60 split, with
    * `DriftDropSource` vanishing from the LAST snapshot only — the sweep
    * must stay quiet for it at snaps 1..k-1 and flag it exactly at k.
    */
  def rollTagged(d: DataFrame): DataFrame = d
    .withColumn("snapshot_id",
      Dedup.h60Col(concat(lit("roll:"), col("doc_id").cast("string"))) % RollSnapshots)
    .filter(!(col("snapshot_id") === (RollSnapshots - 1) &&
      col("source") === DriftDropSource))

  private def rollBlockSql(s: Int): String =
    s"""ca$s AS (
       |  SELECT source, bin, CAST(SUM(o) AS BIGINT) AS o
       |  FROM kcells WHERE snapshot_id < $s GROUP BY 1, 2
       |), cb$s AS (
       |  SELECT source, bin, o FROM kcells WHERE snapshot_id = $s
       |), cells$s AS (
       |  SELECT COALESCE(a.source, b.source) AS source, COALESCE(a.bin, b.bin) AS bin,
       |    COALESCE(a.o, 0) AS oa, COALESCE(b.o, 0) AS ob
       |  FROM ca$s a FULL JOIN cb$s b ON a.source = b.source AND a.bin = b.bin
       |), tot$s AS (
       |  SELECT source, CAST(SUM(oa) AS BIGINT) AS ra, CAST(SUM(ob) AS BIGINT) AS rb
       |  FROM cells$s GROUP BY 1
       |), g$s AS (
       |  SELECT ce.source, ce.oa, ce.ob, t.ra, t.rb,
       |    ce.oa + ce.ob AS c, t.ra + t.rb AS n
       |  FROM cells$s ce JOIN tot$s t ON ce.source = t.source
       |), terms$s AS (
       |  SELECT source, ra, rb,
       |    ${chi2PairTermSql("oa", "ra")} AS t1,
       |    ${chi2PairTermSql("ob", "rb")} AS t2
       |  FROM g$s
       |), out$s AS (
       |  SELECT CAST($s AS BIGINT) AS snap, source, MAX(ra) AS n_base, MAX(rb) AS n_snap,
       |    CASE WHEN MAX(ra) > 0 AND MAX(rb) > 0
       |      THEN CAST(SUM(t1 + t2) AS BIGINT) END AS chi2_fp,
       |    CAST(COUNT(*) AS BIGINT) - 1 AS df
       |  FROM terms$s GROUP BY source
       |)""".stripMargin

  private def q131OracleSql: String = {
    val blocks = (1 until RollSnapshots).map(rollBlockSql).mkString(",\n")
    val unions = (1 until RollSnapshots)
      .map(s => s"SELECT snap, source, n_base, n_snap, chi2_fp, df, " +
        s"COALESCE(chi2_fp > 2000000 * df, TRUE) AS shifted FROM out$s")
      .mkString("\nUNION ALL\n")
    s"""WITH tagged AS (
       |  SELECT source, text, $rollParitySql AS snapshot_id FROM documents
       |), tg AS (
       |  SELECT * FROM tagged
       |  WHERE NOT (snapshot_id = ${RollSnapshots - 1} AND source = '$DriftDropSource')
       |), kcells AS (
       |  SELECT snapshot_id, source,
       |    LEAST(CAST(len(${OracleSql.tokens()}) AS BIGINT)
       |      // $DriftBinWidth, $DriftMaxBin) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS o
       |  FROM tg GROUP BY 1, 2, 3
       |),
       |$blocks
       |$unions
       |ORDER BY snap, source""".stripMargin
  }

  /** q131 — ROLLING drift: for every snapshot s ≥ 1, the per-source
    * shape χ² of s against the UNION of all prior snapshots (the
    * cumulative baseline a monitoring sweep actually compares each
    * ingest to — one noisy ingest should not move the yardstick the way
    * adjacent-pair comparison lets it). Entirely cells algebra: the
    * baseline's cells are the SUM of prior snapshots' cells
    * (add-mergeability again), so the whole sweep is k-1 `chi2Pair`
    * calls over one snapshot-keyed cell table — which is exactly how
    * DriftStream serves it off the artifact (rollingDriftFromDeltas,
    * spec-pinned bit-equal). The fixture drops `DriftDropSource` from
    * the LAST snapshot only: the sweep stays quiet for it at every
    * earlier snap and flags it via the zero-margin branch exactly at
    * the end. Output column names n_base/n_snap (not n_a/n_b) carry
    * the baseline-vs-ingest reading.
    */
  val q131 = Q("q131_rolling_drift", q131OracleSql) { (s, dir) =>
    val cells = driftCellsBySnapshot(rollTagged(docs(s, dir))).localCheckpoint()
    (1 until RollSnapshots).map { snap =>
      chi2Pair(
        cells.filter(col("snapshot_id") < snap)
          .groupBy("source", "bin").agg(sum(col("o")).cast("long").as("o")),
        cells.filter(col("snapshot_id") === snap).select("source", "bin", "o"))
        .select(lit(snap.toLong).as("snap"), col("source"),
          col("n_a").as("n_base"), col("n_b").as("n_snap"),
          col("chi2_fp"), col("df"), col("shifted"))
    }.reduce(_.unionByName(_)).orderBy("snap", "source")
  }

  val all: Seq[Q] =
    Seq(q67, q68, q69, q72, q77, q79, q83, q89, q105, q118, q126, q128, q129, q131,
      q191, q192)
}
