package graft.ops

import graft.Catalog
import graft.functions.RollingHash
import graft.queries.{Det, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for a large-scale training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, and document fingerprinting. Everything is per-row
  * projection work — embarrassingly parallel, no shuffle, scales linearly
  * with document count.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String) = Catalog.table(s, dir, "documents")

  /** Word tokens — lowercase alphanumeric runs. Mirrors the oracles'
    * one tokenizer, `OracleSql.tokens`.
    */
  def tokens(text: Column): Column = regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens appearing in a fixed word list (HOF filter — codegen'd
    * array op, no explode/shuffle).
    */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val esStop = Seq("el", "la", "de", "que", "y", "en", "un")
  val deStop = Seq("der", "die", "das", "und", "ist", "von")
  val frStop = Seq("le", "les", "et", "une", "des", "du")
  val allStop: Seq[String] = (enStop ++ esStop ++ deStop ++ frStop).distinct

  /** q50 — token/character statistics + quality score (length, punctuation
    * ratio, stopword ratio — the classic pretraining quality heuristics).
    */
  /** Oracle fragment: how many of a document's tokens are in `words`. */
  private def wordHitsSql(words: Seq[String]): String =
    s"len(list_filter(${OracleSql.tokens()}, t -> list_contains([${words.map("'" + _ + "'").mkString(",")}], t)))"

  private def q50OracleSql: String = {
    val nTokens = s"len(${OracleSql.tokens()})"
    val nPunct = "length(regexp_replace(text, '[^.!?,;:]', '', 'g'))"
    val nStop = wordHitsSql(allStop)
    s"""SELECT doc_id, n_chars,
       |  length(text) AS text_len,
       |  $nTokens AS n_tokens,
       |  $nPunct AS n_punct,
       |  ${OracleSql.round4(s"CAST($nPunct AS DOUBLE) / length(text)")} AS punct_ratio,
       |  $nStop AS n_stopwords,
       |  CASE WHEN $nTokens > 0 THEN ${OracleSql.round4(s"CAST($nStop AS DOUBLE) / $nTokens")}
       |    ELSE 0.0 END AS stopword_ratio,
       |  (length(text) >= 100 AND length(text) <= 20000
       |    AND $nTokens >= 20) AS passes_length_filter
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  val q50 = Q("q50_text_stats", q50OracleSql) { (s, dir) =>
    textStats(docs(s, dir)).orderBy("doc_id")
  }

  /** q50's per-doc projection as a pure function of any documents-shaped
    * frame — shared with SourcesSpec's format-independence pin.
    */
  private[graft] def textStats(d: DataFrame): DataFrame = {
    val t = col("text")
    val nTokens = tokenCount(t)
    val nPunct = length(regexp_replace(t, "[^.!?,;:]", ""))
    val nStop = wordHits(t, allStop)
    d.select(
      col("doc_id"), col("n_chars"),
      length(t).as("text_len"),
      nTokens.as("n_tokens"),
      nPunct.as("n_punct"),
      Det.dround(nPunct.cast("double") / length(t), 4).as("punct_ratio"),
      nStop.as("n_stopwords"),
      when(nTokens > 0, Det.dround(nStop.cast("double") / nTokens, 4))
        .otherwise(0.0).as("stopword_ratio"),
      (length(t) >= 100 && length(t) <= 20000 && nTokens >= 20)
        .as("passes_length_filter"))
  }

  /** q51 — language-ID heuristic: stopword-hit votes per language with a
    * CJK-character fallback, argmax with a fixed preference order. (The
    * synthetic corpus is English-vocabulary throughout, so the heuristic
    * predicts 'en' — the oracle verifies the operator, not the labels.)
    */
  private def q51OracleSql: String = {
    val (en, es, de, fr) = (wordHitsSql(enStop), wordHitsSql(esStop), wordHitsSql(deStop), wordHitsSql(frStop))
    s"""SELECT doc_id, lang AS labeled_lang,
       |  $en AS en_hits, $es AS es_hits, $de AS de_hits, $fr AS fr_hits,
       |  CASE
       |    WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
       |    WHEN $en >= GREATEST($es, $de, $fr, 1) THEN 'en'
       |    WHEN $es >= GREATEST($de, $fr, 1) THEN 'es'
       |    WHEN $de >= GREATEST($fr, 1) THEN 'de'
       |    WHEN $fr >= 1 THEN 'fr'
       |    ELSE 'unknown'
       |  END AS predicted_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  val q51 = Q("q51_lang_id", q51OracleSql) { (s, dir) =>
    val t = col("text")
    val en = wordHits(t, enStop); val es = wordHits(t, esStop)
    val de = wordHits(t, deStop); val fr = wordHits(t, frStop)
    val cjk = length(regexp_replace(t, "[^\\x{4e00}-\\x{9fff}]", ""))
    docs(s, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("en_hits"), es.as("es_hits"), de.as("de_hits"), fr.as("fr_hits"),
      when(cjk > 0, "zh")
        .when(en >= greatest(es, de, fr, lit(1)), "en")
        .when(es >= greatest(de, fr, lit(1)), "es")
        .when(de >= greatest(fr, lit(1)), "de")
        .when(fr >= 1, "fr")
        .otherwise("unknown").as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Whitespace-normalized text (lower, collapse runs, trim) — the
    * canonical form for fingerprinting and exact dedup.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** q52 — md5 content fingerprint over normalized text (oracled). */
  val q52 = Q("q52_fingerprint_md5",
    s"""SELECT doc_id,
      |  md5(${OracleSql.normalized()}) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      md5(normalized(col("text"))).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** q53 — polynomial rolling-hash fingerprint via the custom codegen'd
    * Catalyst Expression; mod-prime arithmetic makes it oracle-checkable
    * (RollingHash.oracleSql), and RollingHashSpec pins golden values.
    */
  val q53 = Q("q53_fingerprint_rolling",
    s"""SELECT doc_id,
       |  ${RollingHash.oracleSql(OracleSql.normalized())} AS fingerprint,
       |  ${RollingHash.oracleSql("text")} AS fingerprint_raw
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      RollingHash(normalized(col("text"))).as("fingerprint"),
      RollingHash(col("text")).as("fingerprint_raw"))
      .orderBy("doc_id")
  }

  /** GPT-2-style pretokenizer pattern, restricted to lookahead-free syntax
    * so Java regex (Spark) and RE2 (DuckDB) match identically: contraction
    * suffixes, space-prefixed letter/digit runs, punctuation runs,
    * whitespace. Both engines use leftmost alternation preference, so the
    * token streams agree byte-for-byte.
    */
  val bpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+|'| ?\\s+"

  /** q54 — token counting for training-data budgeting: BPE-ish subword
    * pretokens vs whitespace tokens, and chars-per-token (the compression
    * ratio heuristic used to spot boilerplate/code vs prose).
    */
  private val bpeSqlPattern = bpePattern.replace("'", "''")

  val q54 = Q("q54_bpe_tokens",
    s"""SELECT doc_id,
       |  len(regexp_extract_all(lower(text), '$bpeSqlPattern')) AS n_bpe_tokens,
       |  len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       |  FLOOR(CAST(length(text) AS DOUBLE)
       |    / nullif(len(regexp_extract_all(lower(text), '$bpeSqlPattern')), 0)
       |    * 100.0 + 0.5) / 100.0 AS chars_per_token
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bpe = size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
    docs(s, dir).select(
      col("doc_id"),
      bpe.as("n_bpe_tokens"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_ws_tokens"),
      Det.dround(length(col("text")).cast("double") / nullif(bpe, lit(0)), 2)
        .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** q55 — deterministic hash-based dataset split: h60 of the normalized
    * content keyed into 100 buckets → 90/5/5 train/val/test. Content-hash
    * (not id-hash) splitting keeps exact duplicates in the SAME split —
    * the property that prevents train/test leakage in a dedup-imperfect
    * corpus — and the assignment is reproducible across runs and engines.
    */
  /** The q55 split assignment as a column over `text`: h60 of normalized
    * content keyed into 100 buckets → 90/5/5 train/val/test. Shared with
    * the leakage audit (Dedup q135), which must tag near-dup pairs with
    * EXACTLY the split rule the corpus ships under.
    */
  def splitAssignment(text: Column): Column = {
    val bucket = graft.ops.Dedup.h60Col(normalized(text)) % 100
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  /** Oracle fragment: q55's split CTE body over `documents` — (doc_id, split). */
  def splitAssignmentSql: String =
    s"""SELECT doc_id,
      |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |    ${OracleSql.h60(OracleSql.normalized())} % 100 AS b
      |    FROM documents)""".stripMargin

  val q55 = Q("q55_dataset_split",
    s"""WITH assigned AS (
      |  SELECT doc_id,
      |    ${OracleSql.h60(OracleSql.normalized())} % 100 AS bucket
      |  FROM documents
      |)
      |SELECT
      |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  MIN(doc_id) AS min_doc_id,
      |  MAX(doc_id) AS max_doc_id
      |FROM assigned
      |GROUP BY 1
      |ORDER BY split""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), splitAssignment(col("text")).as("split"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("split")
  }

  /** q56 — sequence packing for pretraining: contiguous-fill documents
    * into fixed token-budget packs (running token total over a stable
    * order, pack id = which budget window the doc's cumulative range
    * starts in). The running total is `exec.PrefixSum.runningTotal` — a
    * two-pass distributed prefix sum (range-bucket by doc_id →
    * per-bucket totals → broadcast cumulative offsets → per-bucket
    * window), NOT a global `Window.orderBy`, which would plan
    * `Exchange SinglePartition` and serialize the whole corpus through
    * one task. PlanSpec pins the no-SinglePartition property.
    */
  val q56 = Q("q56_pack_sequences",
    s"""WITH ${OracleSql.packedCtes("documents")}
      |SELECT pack_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM packed
      |GROUP BY pack_id
      |ORDER BY pack_id""".stripMargin) { (s, dir) =>
    packShards(docs(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")))
      .orderBy("pack_id")
  }

  /** Fixed 2048-token shards over (doc_id, n_tokens, ...) rows in doc
    * order, via the distributed PrefixSum: per pack_id, n_docs,
    * pack_tokens, the `extra` aggregates, first_doc and last_doc.
    */
  def packShards(toks: DataFrame, extra: Column*): DataFrame =
    graft.exec.PrefixSum.runningTotal(toks, "doc_id", "n_tokens", "cum_tokens")
      .withColumn("pack_id",
        floor((col("cum_tokens") - col("n_tokens")) / 2048.0).cast("long"))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        Seq(sum(col("n_tokens")).cast("long").as("pack_tokens")) ++ extra ++
          Seq(min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc")): _*)

  /** q57 — repetition/diversity quality signals (Gopher-style): type-token
    * ratio and the most-frequent-token share, per document.
    */
  val q57 = Q("q57_repetition_stats",
    s"""WITH ex AS (
      |  SELECT doc_id, unnest(${OracleSql.tokens()}) AS tok
      |  FROM documents
      |), counts AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY doc_id, tok
      |), agg AS (
      |  SELECT doc_id,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_distinct,
      |    CAST(MAX(c) AS BIGINT) AS top_token_count
      |  FROM counts GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, n_distinct, top_token_count,
      |  ${OracleSql.round4("CAST(n_distinct AS DOUBLE) / n_tokens")} AS type_token_ratio,
      |  ${OracleSql.round4("CAST(top_token_count AS DOUBLE) / n_tokens")} AS top_token_share
      |FROM agg
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val counts = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).cast("long").as("top_token_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_token_count"),
        Det.dround(col("n_distinct").cast("double") / col("n_tokens"), 4).as("type_token_ratio"),
        Det.dround(col("top_token_count").cast("double") / col("n_tokens"), 4).as("top_token_share"))
      .orderBy("doc_id")
  }

  /** q58 — corpus mixture weights: per-source document/token counts and
    * each source's share of total tokens (the numbers that set sampling
    * weights when mixing sources for pretraining). One aggregate + one
    * global-window total.
    */
  val q58 = Q("q58_source_mixture",
    s"""WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(${OracleSql.tokens()})) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |)
      |SELECT source, n_docs, n_tokens,
      |  FLOOR(CAST(n_tokens AS DOUBLE)
      |    / CAST(SUM(n_tokens) OVER () AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS token_share
      |FROM s
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val agg = docs(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).cast("long").as("n_tokens"))
    // The one-row total joins back by broadcast; an empty OVER () window
    // would move every source into a single partition.
    val total = agg.agg(sum(col("n_tokens")).as("total_tokens"))
    agg.crossJoin(total).select(col("source"), col("n_docs"), col("n_tokens"),
      Det.dround(col("n_tokens").cast("double") /
        col("total_tokens").cast("double"), 6).as("token_share"))
      .orderBy("source")
  }

  /** q62 — deterministic mixture sampling: apply per-source sampling
    * rates (the operational half of q58's mixture WEIGHTS — actually
    * thinning each source to its target share) via hash-Bernoulli keep
    * decisions. h60 of a salted (source, doc_id) key mod 10⁴ under the
    * source's rate in basis points: reproducible across runs, engines and
    * cluster layouts, no RNG state, and per-row — no shuffle beyond the
    * reporting aggregate. Rates themselves derive from h60(source) so the
    * oracle shares the exact constants without hand-copying.
    */
  val q62 = Q("q62_mixture_sampling",
    s"""WITH d AS (
      |  SELECT source,
      |    len(${OracleSql.tokens()}) AS toks,
      |    1000 + ${OracleSql.h60("source")} % 9000 AS rate_bp,
      |    (${OracleSql.h60("'sample:' || source || ':' || CAST(doc_id AS VARCHAR)")} % 10000)
      |      < 1000 + ${OracleSql.h60("source")} % 9000 AS kept
      |  FROM documents
      |)
      |SELECT source,
      |  CAST(MAX(rate_bp) AS BIGINT) AS rate_bp,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN kept THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
      |  ${OracleSql.round4("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)")} AS kept_share
      |FROM d
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val rateBp = Dedup.h60Col(col("source")) % 9000 + 1000
    val kept = (Dedup.h60Col(concat(lit("sample:"), col("source"), lit(":"),
      col("doc_id").cast("string"))) % 10000) < rateBp
    docs(s, dir)
      .select(col("source"), tokenCount(col("text")).as("toks"),
        rateBp.as("rate_bp"), kept.as("kept"))
      .groupBy("source")
      .agg(
        max(col("rate_bp")).as("rate_bp"),
        count(lit(1)).as("n_docs"),
        Det.countIf(col("kept")).as("n_kept"),
        sum(when(col("kept"), col("toks")).otherwise(0L)).cast("long").as("kept_tokens"))
      .select(col("source"), col("rate_bp"), col("n_docs"), col("n_kept"), col("kept_tokens"),
        Det.dround(col("n_kept").cast("double") / col("n_docs"), 4).as("kept_share"))
      .orderBy("source")
  }

  /** q63 — corpus heavy hitters: exact global top-k tokens. Two-level
    * hash aggregate (map-side combine shrinks the shuffle to distinct
    * tokens per partition), then top-k via TakeOrdered — a per-partition
    * heap + driver merge of k rows, never a global sort of the token
    * vocabulary.
    */
  val q63 = Q("q63_heavy_hitters",
    s"""WITH ex AS (
      |  SELECT unnest(${OracleSql.tokens()}) AS tok
      |  FROM documents
      |)
      |SELECT tok, COUNT(*) AS n
      |FROM ex
      |GROUP BY tok
      |ORDER BY n DESC, tok
      |LIMIT 20""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)
  }

  /** q66 — per-document keyword salience (tf-idf family). The classic
    * idf needs log(N/df), but transcendentals are banned from oracles
    * (libm vs JVM last-ulp); the ranking-equivalent exact form is the
    * scaled rational salience = ⌊tf·N·10⁴ / df⌋ in BIGINT floor division
    * — monotone in tf·N/df, so the argmax token is the same one log-idf
    * ranks first (for a fixed doc, log is monotone in N/df and tf scales
    * positively). Shapes: one token explode, tf = (doc,tok) hash agg,
    * df = tok hash agg OVER the tf rollup (vocabulary-sized, not
    * token-stream-sized), broadcast scalar N, and the per-doc argmax is
    * ONE hash aggregate (min_by over the (−salience, token) order — no
    * per-doc sort window), so parallelism scales with documents and the
    * only shuffles are the three keyed aggregates.
    */
  val q66 = Q("q66_tfidf_salience",
    s"""WITH tk AS (
      |  SELECT doc_id, unnest(${OracleSql.tokens()}) AS tok
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM tk GROUP BY doc_id, tok
      |), df AS (
      |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
      |), nn AS (
      |  SELECT COUNT(*) AS n FROM documents
      |), scored AS (
      |  SELECT doc_id, tok, tf.tf, df.df, (tf.tf * nn.n * 10000) // df.df AS salience_fp
      |  FROM tf JOIN df USING (tok) CROSS JOIN nn
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY salience_fp DESC, tok) AS rn
      |  FROM scored
      |)
      |SELECT doc_id, tok AS top_token, CAST(tf AS BIGINT) AS tf,
      |  CAST(df AS BIGINT) AS df, salience_fp
      |FROM ranked WHERE rn = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tk = docs(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = tk.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "tok").crossJoin(broadcast(n))
      .withColumn("salience_fp", expr("(tf * n * 10000) div df"))
    scored.groupBy("doc_id")
      .agg(min_by(
        struct(col("tok"), col("tf"), col("df"), col("salience_fp")),
        struct((-col("salience_fp")).as("neg"), col("tok"))).as("top"))
      .select(col("doc_id"), col("top.tok").as("top_token"), col("top.tf"),
        col("top.df"), col("top.salience_fp"))
      .orderBy("doc_id")
  }

  val CmsDepth = 4
  val CmsWidth = 8192

  /** q64 — count-min sketch twin of q63: the fixed-memory, mergeable
    * frequency structure a 100 TB pipeline keeps when the exact vocabulary
    * aggregate is too wide. Counters are CmsDepth × CmsWidth cells built
    * from the per-token rollup (so the sketch build shuffles the
    * VOCABULARY, not the token stream) with h60-salted bucket hashes —
    * fully deterministic, so the estimates themselves are DuckDB-oracled.
    * Output: the exact top-20 tokens with exact count, CMS estimate
    * (estimate ≥ exact always; equality when no collision), and the
    * overestimate.
    */
  val q64 = Q("q64_count_min_sketch",
    s"""WITH ex AS (
       |  SELECT unnest(${OracleSql.tokens()}) AS tok
       |  FROM documents
       |), vocab AS (
       |  SELECT tok, COUNT(*) AS c FROM ex GROUP BY tok
       |), rows_ AS (
       |  SELECT * FROM (VALUES (0),(1),(2),(3)) r(j)
       |), counters AS (
       |  SELECT j,
       |    ${OracleSql.h60("'cms' || CAST(j AS VARCHAR) || ':' || tok")} % $CmsWidth AS bucket,
       |    CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM vocab, rows_ GROUP BY 1, 2
       |), top AS (
       |  SELECT tok, c FROM vocab ORDER BY c DESC, tok LIMIT 20
       |)
       |SELECT t.tok, CAST(t.c AS BIGINT) AS n_exact,
       |  MIN(ct.cnt) AS n_cms,
       |  MIN(ct.cnt) - CAST(t.c AS BIGINT) AS overestimate
       |FROM top t
       |CROSS JOIN rows_ r
       |JOIN counters ct ON ct.j = r.j AND ct.bucket =
       |  ${OracleSql.h60("'cms' || CAST(r.j AS VARCHAR) || ':' || t.tok")} % $CmsWidth
       |GROUP BY t.tok, t.c
       |ORDER BY n_exact DESC, tok""".stripMargin) { (s, dir) =>
    import s.implicits._
    def bucketOf(j: Column, tok: Column): Column =
      Dedup.h60Col(concat(lit("cms"), j.cast("string"), lit(":"), tok)) % CmsWidth
    val vocab = docs(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val rows = (0 until CmsDepth).toDF("j")
    val counters = vocab.crossJoin(broadcast(rows))
      .groupBy(col("j"), bucketOf(col("j"), col("tok")).as("bucket"))
      .agg(sum(col("c")).cast("long").as("cnt"))
    val top = vocab.orderBy(col("c").desc, col("tok")).limit(20)
    val probeRows = (0 until CmsDepth).toDF("pj") // distinct name: counters also carry j
    top.crossJoin(broadcast(probeRows))
      .join(counters,
        counters("j") === col("pj") && counters("bucket") === bucketOf(col("pj"), col("tok")))
      .groupBy(col("tok"), col("c"))
      .agg(min(col("cnt")).as("n_cms"))
      .select(col("tok"), col("c").cast("long").as("n_exact"), col("n_cms"),
        (col("n_cms") - col("c").cast("long")).as("overestimate"))
      .orderBy(col("n_exact").desc, col("tok"))
  }

  /** Portable PII patterns (no lookarounds — RE2-safe). */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  /** q59 — PII detection/redaction: count and mask email/phone matches.
    * The synthetic corpus contains no PII, so a deterministic contact line
    * (derived from doc_id) is appended first — the scrub path then has
    * real matches to find, and the oracle verifies detection counts and
    * the redacted text end-to-end.
    */
  val q59 = Q("q59_pii_scrub",
    s"""WITH d AS (
       |  SELECT doc_id,
       |    text || ' contact: user' || CAST(doc_id AS VARCHAR)
       |      || '@example.com or +155-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(lower(text), '$emailPattern')) AS n_emails,
       |  len(regexp_extract_all(text, '$phonePattern')) AS n_phones,
       |  CAST(length(regexp_replace(regexp_replace(lower(text), '$emailPattern', '<EMAIL>', 'g'),
       |    '$phonePattern', '<PHONE>', 'g')) AS BIGINT) AS redacted_len,
       |  md5(regexp_replace(regexp_replace(lower(text), '$emailPattern', '<EMAIL>', 'g'),
       |    '$phonePattern', '<PHONE>', 'g')) AS redacted_md5
       |FROM d
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val injected = concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
      lit("@example.com or +155-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val redacted = regexp_replace(
      regexp_replace(lower(injected), emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")
    docs(s, dir).select(
      col("doc_id"),
      size(regexp_extract_all(lower(injected), lit(emailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(injected, lit(phonePattern), lit(0))).as("n_phones"),
      length(redacted).cast("long").as("redacted_len"),
      md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** q101 — corpus-trained bigram language-model fluency score: the
    * CCNet/KenLM-style quality filter, self-trained. Train = bigram and
    * bigram-prefix counts over the whole corpus (two hash aggregates,
    * map-side partial, vocab²-bounded by Zipf — the "model" is a count
    * table, exactly how a KenLM filter ships). Score = each document's
    * mean conditional probability over its bigrams, in EXACT integer
    * arithmetic: per-bigram `(c12 * 1e6) div c1` (floor division of
    * BIGINTs — associative, engine-identical), summed per doc, divided
    * once at the end. Docs shorter than one bigram score 0. The count
    * tables join back to the exploded corpus on the bigram key — frequent
    * bigrams are the classic heavy-hitter skew; AQE skew-join (or the
    * broadcast of the top-K counts) handles it, and nothing here is a
    * window or a single task.
    */
  /** Oracle CTEs `tk` → `bg`: the (doc_id, w1, w2) bigram occurrences of
    * a `corpus` relation. No WITH prefix.
    */
  private def bigramRowsCtes(corpus: String): String =
    s"""tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM $corpus
       |), bg AS (
       |  SELECT doc_id,
       |    unnest(list_slice(t, 1, len(t) - 1)) AS w1,
       |    unnest(list_slice(t, 2, len(t))) AS w2
       |  FROM tk WHERE len(t) >= 2
       |)""".stripMargin

  /** [[bigramRowsCtes]], the count model `big`/`uni` trained on all of
    * them, and `sc` (doc_id, n_bigrams, sum_fp): each doc's exact
    * fixed-point score under it. No WITH prefix.
    */
  private def bigramLmCtes(corpus: String): String =
    s"""${bigramRowsCtes(corpus)}, big AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
       |), uni AS (
       |  SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1
       |), sc AS (
       |  SELECT bg.doc_id,
       |    COUNT(*) AS n_bigrams,
       |    CAST(SUM((big.c12 * 1000000) // uni.c1) AS BIGINT) AS sum_fp
       |  FROM bg
       |  JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
       |  JOIN uni ON bg.w1 = uni.w1
       |  GROUP BY bg.doc_id
       |)""".stripMargin

  /** q101's oracle: a bigram LM trained on `corpus` scoring `corpus`
    * itself (q200 passes the survivors, q214 the survivors of a pinned
    * slice).
    */
  private[ops] def fluencyOracleSql(corpus: String = "documents"): String =
    s"""WITH ${bigramLmCtes(corpus)}
       |SELECT d.doc_id,
       |  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CASE WHEN s.n_bigrams IS NULL THEN 0.0
       |    ELSE CAST(s.sum_fp AS DOUBLE) / (s.n_bigrams * 1000000.0) END AS fluency_score
       |FROM $corpus d LEFT JOIN sc s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  val q101 = Q("q101_bigram_lm", fluencyOracleSql()) { (s, dir) =>
    fluencyScores(docs(s, dir))
  }

  /** q101's output — (doc_id, n_bigrams, fluency_score) in doc order — for
    * `corpus` scored against `counts` (a bigram model trained on `corpus`
    * itself when None). The forget, retention and amendment queries pass
    * the survivors and a derived store's folded counts.
    */
  def fluencyScores(corpus: DataFrame, counts: Option[DataFrame] = None): DataFrame =
    fluencyScoredFromCounts(corpus, counts)
      .select(col("doc_id"), col("n_bigrams"),
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("sum_fp").cast("double") / (col("n_bigrams") * lit(1000000.0)))
          .as("fluency_score"))
      .orderBy("doc_id")

  /** The exploded (doc_id, w1, w2) bigram-occurrence rows — the shared
    * projection of the batch trainer and the streamed LM cell sink.
    */
  private[graft] def bigramRows(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Score a corpus against a bigram count table `big(w1, w2, c12)` —
    * `None` trains the table from the corpus itself (batch q101/q170),
    * `Some` scores against externally-served counts (the streamed LM cell
    * store). The prefix counts are Σ c12 over w2 — every bigram row feeds
    * both counts, so this equals counting bg rows per w1 and ONE table
    * carries the whole LM. Then the q101 exact-fixed-point per-doc fold.
    */
  private[graft] def fluencyScoredFromCounts(d: DataFrame,
      bigOpt: Option[DataFrame]): DataFrame =
    // bg feeds the scoring join (and, in the batch path, the count
    // aggregate) — materialize the one tokenization pass instead of
    // re-exploding the corpus per consumer (the q56 lesson)
    fluencyScoredFromBg(d, bigramRows(d).localCheckpoint(), bigOpt)

  /** [[fluencyScoredFromCounts]] over an ALREADY-materialized bigram
    * frame — release-churn callers (q173) score the same corpus against
    * two models and must not pay the tokenize+explode pass per model.
    */
  private[graft] def fluencyScoredFromBg(d: DataFrame, bg: DataFrame,
      bigOpt: Option[DataFrame]): DataFrame = {
    val big = bigOpt.getOrElse(
      bg.groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c12")))
    val uni = big.groupBy("w1").agg(sum(col("c12")).cast("long").as("c1"))
      .select(col("w1").as("u1"), col("c1"))
    val scored = bg
      .join(big, Seq("w1", "w2"))
      .join(uni, col("w1") === col("u1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(c12 * 1000000L) div c1")).cast("long").as("sum_fp"))
    d.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_fp"), lit(0L)).as("sum_fp"))
  }

  /** The trainer+scorer shared by q101/q170: per-doc bigram-LM fluency in
    * exact fixed point — (doc_id, source, n_bigrams, sum_fp), one row per
    * document (bigram-less docs carry n_bigrams = 0, sum_fp = 0).
    */
  private[graft] def fluencyScored(s: SparkSession, dir: String): DataFrame =
    fluencyScoredFromCounts(docs(s, dir), None)

  private def q170OracleSql: String =
    s"""WITH ${bigramLmCtes("documents")}, scored AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    CAST(CASE WHEN s.n_bigrams IS NULL THEN 0
      |      ELSE s.sum_fp // s.n_bigrams END AS BIGINT) AS score_mean_fp
      |  FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
      |), ranked AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY score_mean_fp DESC, doc_id) AS BIGINT) AS src_rank,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
      |  FROM scored
      |)
      |SELECT doc_id, source, n_bigrams, score_mean_fp, src_rank,
      |  CASE ((src_rank - 1) * 3) // n_src WHEN 0 THEN 'head'
      |    WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
      |  ((src_rank - 1) * 3) // n_src < 2 AS kept
      |FROM ranked ORDER BY doc_id""".stripMargin

  /** q170 — CCNet-style per-source perplexity bucketing (Wenzek et al.
    * 2020): rank every document within its source by the q101 bigram-LM
    * fluency score (the KenLM-perplexity stand-in, already exact fixed
    * point) and cut each source into equal thirds — head / middle / tail
    * — keeping head+middle, which is exactly CCNet's per-language
    * retention rule. Relative (rank-based) cuts rather than absolute
    * score cuts for the same reason q165's levels are scale-free: the
    * score distribution moves with the corpus, the tertile boundary
    * moves with it. The per-source rank deliberately does NOT use
    * `Window.partitionBy(source)` — with a handful of sources over
    * 100 TB each source-group would become ONE sort task; it rides
    * [[graft.exec.PrefixSum.runningTotalBy]] (buckets cut on the
    * integral score axis, per-(source, bucket) totals broadcast back),
    * so every task sorts one score-slice of one source. Bucket index =
    * ((rank−1)·3) div n_src in exact BIGINT — no percentile float risk.
    */
  val q170 = Q("q170_fluency_buckets", q170OracleSql) { (s, dir) =>
    tertileBuckets(fluencyScored(s, dir))
  }

  /** Oracle fragment for q173: one model's score→rank→bucket chain with
    * CTE names suffixed `$v`. `modelFrom` is the bigram-count source
    * relation body (the model the docs are scored AGAINST); prefix
    * counts derive as Σ c12 like the Spark tree. Ends in
    * `ranked$v(doc_id, source, b3)`.
    */
  private def fluencyChainSql(v: String, modelWhere: String): String =
    s"""big$v AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg $modelWhere GROUP BY 1, 2
       |), uni$v AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big$v GROUP BY 1
       |), sc$v AS (
       |  SELECT bg.doc_id,
       |    COUNT(*) AS n_bigrams,
       |    CAST(SUM((big$v.c12 * 1000000) // uni$v.c1) AS BIGINT) AS sum_fp
       |  FROM bg
       |  JOIN big$v ON bg.w1 = big$v.w1 AND bg.w2 = big$v.w2
       |  JOIN uni$v ON bg.w1 = uni$v.w1
       |  GROUP BY bg.doc_id
       |), scored$v AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(CASE WHEN s.n_bigrams IS NULL THEN 0
       |      ELSE s.sum_fp // s.n_bigrams END AS BIGINT) AS score_mean_fp
       |  FROM documents d LEFT JOIN sc$v s ON d.doc_id = s.doc_id
       |), ranked$v AS (
       |  SELECT doc_id, source,
       |    ((CAST(ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY score_mean_fp DESC, doc_id) AS BIGINT) - 1) * 3)
       |      // CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS b3
       |  FROM scored$v
       |)""".stripMargin

  private def q173OracleSql: String =
    s"""WITH ${bigramRowsCtes("documents")}, ${fluencyChainSql("1",
              "WHERE bg.doc_id < (SELECT MAX(doc_id) // 2 FROM documents)")},
       |${fluencyChainSql("2", "")}
       |SELECT r1.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN r1.b3 <> r2.b3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bucket_changed,
       |  CAST(SUM(CASE WHEN r1.b3 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_v1,
       |  CAST(SUM(CASE WHEN r2.b3 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_v2,
       |  CAST(SUM(CASE WHEN r1.b3 = 2 AND r2.b3 < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_gained,
       |  CAST(SUM(CASE WHEN r1.b3 < 2 AND r2.b3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lost
       |FROM ranked1 r1 JOIN ranked2 r2 ON r1.doc_id = r2.doc_id
       |GROUP BY r1.source ORDER BY r1.source""".stripMargin

  /** q173 — fluency-bucket churn under an LM release rotation: retrain
    * the q101 count model on the corpus's FIRST HALF (doc_id < max/2 —
    * the earlier-snapshot model, a scale-free boundary) vs the full
    * corpus, tertile-bucket every document under BOTH models, and report
    * per source how many verdicts moved — the filter-stability question
    * a curation team asks before swapping in a retrained quality model
    * (verdict churn means shipped data changes without any document
    * changing). Bigrams unseen by the v1 model drop out of that model's
    * scoring join (score over known bigrams — the defined KenLM-style
    * OOV behavior here), which is exactly why churn is worth measuring.
    * Spec reconciles Δkept = gained − lost per source. One bg
    * materialization feeds both model chains; everything downstream is
    * the q170 machinery twice plus one doc-keyed join.
    */
  val q173 = Q("q173_fluency_release_churn", q173OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    // ONE tokenize+explode pass feeds the v1 model (a doc_id filter of
    // the same rows), the v2 model, and both scoring joins — the original
    // shape paid the corpus unroll three times (r13, guide §1.2 step 1:
    // don't compute things twice before tuning anything else)
    val bg = bigramRows(d).localCheckpoint()
    val v1Model = bg.filter(col("doc_id") < cut)
      .groupBy("w1", "w2").agg(count(lit(1)).cast("long").as("c12"))
    val v1 = tertileBuckets(fluencyScoredFromBg(d, bg, Some(v1Model)))
      .select(col("doc_id"), col("source"),
        col("bucket").as("bucket_v1"), col("kept").as("kept_v1"))
    val v2 = tertileBuckets(fluencyScoredFromBg(d, bg, None))
      .select(col("doc_id"), col("bucket").as("bucket_v2"), col("kept").as("kept_v2"))
    v1.join(v2, Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        Det.countIf(col("bucket_v1") =!= col("bucket_v2")).as("n_bucket_changed"),
        Det.countIf(col("kept_v1")).as("n_kept_v1"),
        Det.countIf(col("kept_v2")).as("n_kept_v2"),
        Det.countIf(!col("kept_v1") && col("kept_v2")).as("n_gained"),
        Det.countIf(col("kept_v1") && !col("kept_v2")).as("n_lost"))
      .orderBy("source")
  }

  /** The per-source tertile cut over any (doc_id, source, n_bigrams,
    * sum_fp) scored frame — shared by batch q170 and the streamed-LM
    * serving path.
    */
  private[graft] def tertileBuckets(scoredRaw: DataFrame): DataFrame = {
    val sc = scoredRaw
      .withColumn("score_mean_fp",
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("sum_fp div n_bigrams")))
    val ranked = graft.exec.PrefixSum.runningTotalBy(
      sc.withColumn("neg_score", -col("score_mean_fp"))
        .withColumn("one", lit(1L)),
      "source", Seq("neg_score", "doc_id"), "one", "src_rank")
    // per-source doc counts: a bounded (|sources|-row) broadcast side
    val counts = ranked.groupBy("source").agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(counts), Seq("source"))
      .withColumn("b3", expr("((src_rank - 1) * 3) div n_src"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        col("score_mean_fp"), col("src_rank"),
        when(col("b3") === 0, "head").when(col("b3") === 1, "middle")
          .otherwise("tail").as("bucket"),
        (col("b3") < 2).as("kept"))
      .orderBy("doc_id")
  }

  /** q111 — temperature-weighted source mixing: the n^α reweighting
    * (α = 1/2) that multilingual/multi-source training uses to boost
    * low-resource sources — raw token shares (q58) oversample the head,
    * uniform sharing starves it, n^0.5 sits between. α = 1/2 keeps the
    * oracle exact: sqrt is correctly-rounded IEEE in both engines (the
    * general pow() is NOT — see Det), and the normalizer Σ√n is a
    * SEQUENTIAL fold over the source-sorted weight array
    * (aggregate ≡ list_reduce, the q53 RollingHash mirror pattern), so
    * the double sum has one well-defined association order in both
    * engines. Output: each source's mixture weight, its token quota from
    * a 1M-token budget, and the oversampling factor quota/n_tokens (>1 =
    * the source repeats, the visible effect of temperature sampling).
    * Scale shape: one corpus aggregate to ~|sources| rows; everything
    * after is arithmetic on a bounded frame (the fold array is |sources|
    * long — metadata-sized at any corpus scale).
    */
  val q111 = Q("q111_temperature_mixing",
    s"""WITH s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(len(${OracleSql.tokens()})) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |), sw AS (
      |  SELECT source, n_docs, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS wr FROM s
      |), t AS (
      |  SELECT list_reduce(
      |    list_transform(list_sort(list(struct_pack(source := source, wr := wr))), x -> x.wr),
      |    (a, b) -> a + b) AS total
      |  FROM sw
      |)
      |SELECT source, n_docs, n_tokens,
      |  FLOOR(wr / total * 1000000.0 + 0.5) / 1000000.0 AS mix_weight,
      |  CAST(FLOOR(wr / total * 1000000.0) AS BIGINT) AS target_tokens,
      |  ${OracleSql.round4("wr / total * 1000000.0 / CAST(n_tokens AS DOUBLE)")}
      |    AS oversample_x
      |FROM sw, t
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val agg = docs(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).cast("long").as("n_tokens"))
      .withColumn("wr", sqrt(col("n_tokens").cast("double")))
    val tot = agg.agg(
      aggregate(
        array_sort(collect_list(struct(col("source"), col("wr")))),
        lit(0.0),
        (acc, x) => acc + x.getField("wr")).as("total"))
    val share = col("wr") / col("total")
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        Det.dround(share, 6).as("mix_weight"),
        floor(share * lit(1000000.0)).cast("long").as("target_tokens"),
        Det.dround(share * lit(1000000.0) / col("n_tokens").cast("double"), 4)
          .as("oversample_x"))
      .orderBy("source")
  }

  // ── q160: data-recipe materialization (repeat-factor upsampling) ──────

  /** q160 — APPLY q111's temperature recipe: each source's oversample
    * ratio x splits into an integer repeat factor floor(x) and a
    * fractional remainder in basis points; every document materializes
    * floor(x) copies plus one more iff a deterministic per-doc hash
    * lands under the remainder — the standard integer+fractional
    * upsampling a mixture loader performs, and the same rule covers
    * DOWNSAMPLING (x < 1 → zero whole copies, keep with probability x).
    * The materialization is in-row (`explode(sequence(1, copies))`, no
    * shuffle until the rollup), and the oracle pins not just the row
    * counts but the COPY INDICES: Σ copy_idx must equal the closed-form
    * Σ c(c+1)/2, so a wrong explode (off-by-one, dropped copy) cannot
    * hash-match. The float tree (sqrt temperature, share division)
    * reuses q111's proven-identical expression shape in both engines.
    * At 100 TB the explode is the proof of plan shape — a production
    * loader applies `copies` lazily per shard rather than writing the
    * multiplied corpus, which is why the rollup, not the exploded frame,
    * is the query output.
    */
  /** The recipe CTE chain parameterized over ANY `rel(source, doc_id,
    * toks)` relation: q111's temperature factors (the proven float
    * tree) and the per-doc copy counts. Ends with
    * `perdoc(source, doc_id, toks, copies)`; returned WITHOUT a leading
    * `WITH`. q160/q161 feed the raw per-doc token counts; Mining's q168
    * feeds the importance-cut survivors.
    */
  private[graft] def recipeCtesBody(rel: String): String =
    s"""s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(toks) AS BIGINT) AS n_tokens
      |  FROM $rel GROUP BY source
      |), sw AS (
      |  SELECT source, n_docs, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS wr FROM s
      |), t AS (
      |  SELECT list_reduce(
      |    list_transform(list_sort(list(struct_pack(source := source, wr := wr))), x -> x.wr),
      |    (a, b) -> a + b) AS total
      |  FROM sw
      |), fac AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(FLOOR(wr / total * 1000000.0) AS BIGINT) AS target_tokens,
      |    CAST(FLOOR(wr / total * 1000000.0 / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS repeat_x,
      |    CAST(FLOOR(wr / total * 1000000.0 / CAST(n_tokens AS DOUBLE) * 10000.0) AS BIGINT)
      |      - CAST(FLOOR(wr / total * 1000000.0 / CAST(n_tokens AS DOUBLE)) AS BIGINT) * 10000 AS frac_bp
      |  FROM sw, t
      |), perdoc AS (
      |  SELECT d.source, d.doc_id, d.toks,
      |    f.repeat_x + CASE WHEN
      |      (${OracleSql.h60("'up:' || d.source || ':' || CAST(d.doc_id AS VARCHAR)")} % 10000)
      |        < f.frac_bp THEN 1 ELSE 0 END AS copies
      |  FROM $rel d JOIN fac f ON d.source = f.source
      |)""".stripMargin

  /** The [[recipeCtesBody]] chain applied to the raw corpus token
    * counts — the oracle fragment shared by q160 and Mining's q161.
    */
  private[graft] def recipeCtesSql: String =
    s"""WITH tok0 AS (
      |  SELECT source, doc_id,
      |    CAST(len(${OracleSql.tokens()}) AS BIGINT) AS toks
      |  FROM documents
      |), ${recipeCtesBody("tok0")}""".stripMargin

  val q160 = Q("q160_recipe_upsample",
    s"""$recipeCtesSql
      |SELECT f.source, f.n_docs, f.n_tokens, f.target_tokens, f.repeat_x, f.frac_bp,
      |  CAST(COALESCE(SUM(p.copies), 0) AS BIGINT) AS n_rows,
      |  CAST(COALESCE(SUM(p.copies * p.toks), 0) AS BIGINT) AS up_tokens,
      |  CAST(COALESCE(SUM(p.copies * (p.copies + 1) // 2), 0) AS BIGINT) AS copy_checksum,
      |  ${OracleSql.round4("CAST(COALESCE(SUM(p.copies * p.toks), 0) AS DOUBLE) / f.target_tokens")} AS hit_ratio
      |FROM fac f LEFT JOIN perdoc p ON f.source = p.source
      |GROUP BY f.source, f.n_docs, f.n_tokens, f.target_tokens, f.repeat_x, f.frac_bp
      |ORDER BY f.source""".stripMargin) { (s, dir) =>
    val fac = recipeFactors(s, dir)
    val perDoc = docs(s, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).cast("long").as("toks"))
      .join(broadcast(fac.select("source", "repeat_x", "frac_bp")), "source")
      .withColumn("copies", col("repeat_x") +
        when(Dedup.h60Col(concat(lit("up:"), col("source"), lit(":"),
          col("doc_id").cast("string"))) % 10000 < col("frac_bp"), 1L).otherwise(0L))
    val exploded = perDoc.filter(col("copies") > 0)
      .select(col("source"), col("toks"),
        explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
    val agg = exploded.groupBy("source").agg(
      count(lit(1)).as("n_rows"),
      sum(col("toks")).cast("long").as("up_tokens"),
      sum(col("copy_idx")).cast("long").as("copy_checksum"))
    fac.join(agg, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("target_tokens"),
        col("repeat_x"), col("frac_bp"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("up_tokens"), lit(0L)).as("up_tokens"),
        coalesce(col("copy_checksum"), lit(0L)).as("copy_checksum"),
        Det.dround(coalesce(col("up_tokens"), lit(0L)).cast("double")
          / col("target_tokens"), 4).as("hit_ratio"))
      .orderBy("source")
  }

  /** Per-source recipe factors off q111's temperature shares — one
    * bounded aggregate + broadcast total; |sources| rows.
    */
  private[graft] def recipeFactors(s: SparkSession, dir: String): DataFrame =
    recipeFactorsOf(docs(s, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).cast("long").as("toks")))

  /** Factor computation over any (source, doc_id, toks) frame — shared
    * by the dir-reading entry points and the chain fuzz.
    */
  private[graft] def recipeFactorsOf(tok: DataFrame): DataFrame = {
    val stats = tok.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("n_tokens"))
      .withColumn("wr", sqrt(col("n_tokens").cast("double")))
    val tot = stats.agg(
      aggregate(
        array_sort(collect_list(struct(col("source"), col("wr")))),
        lit(0.0),
        (acc, x) => acc + x.getField("wr")).as("total"))
    val x = col("wr") / col("total") * lit(1000000.0) / col("n_tokens").cast("double")
    stats.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        floor(col("wr") / col("total") * lit(1000000.0)).cast("long"))
      .withColumn("repeat_x", floor(x).cast("long"))
      .withColumn("frac_bp",
        floor(x * lit(10000.0)).cast("long") - floor(x).cast("long") * 10000)
      .select("source", "n_docs", "n_tokens", "target_tokens", "repeat_x", "frac_bp")
  }

  // ── q120: corpus-frequency boilerplate span scrubbing ─────────────────

  /** Shingle width (tokens) and the document-frequency threshold above
    * which a span counts as boilerplate. df ≥ 2 on this corpus flags
    * exactly the planted duplicated spans; production corpora tune the
    * threshold up (Gopher-style) as shared phrasing becomes common.
    */
  val BoilerShingle = 5
  val BoilerDf = 2

  private def q120OracleSql: String = {
    val w = BoilerShingle
    val ghSql = OracleSql.h60(s"array_to_string(list_slice(t, i, i + ${w - 1}), ' ')")
    val keptH = OracleSql.h60("COALESCE(k.kept, '')")
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), pos AS (
       |  SELECT doc_id, generate_subscripts(t, 1) AS j, unnest(t) AS tok FROM tk
       |), st AS (
       |  SELECT doc_id, s['i'] AS i, s['gh'] AS gh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(t) - ${w - 2}),
       |        i -> {'i': i, 'gh': $ghSql})) AS s
       |    FROM tk WHERE len(t) >= $w)
       |), df AS (
       |  SELECT gh, COUNT(*) AS d FROM (SELECT DISTINCT gh, doc_id FROM st) GROUP BY gh
       |), boiler AS (
       |  SELECT st.doc_id, st.i FROM st JOIN df ON st.gh = df.gh WHERE df.d >= $BoilerDf
       |), covered AS (
       |  SELECT DISTINCT b.doc_id, b.i + o.o AS j
       |  FROM boiler b CROSS JOIN (SELECT unnest(range(0, $w)) AS o) o
       |), kept AS (
       |  SELECT p.doc_id, array_to_string(list(p.tok ORDER BY p.j), ' ') AS kept
       |  FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
       |  WHERE c.j IS NULL GROUP BY p.doc_id
       |), bl AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler_spans FROM boiler GROUP BY doc_id
       |), scr AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_scrubbed FROM covered GROUP BY doc_id
       |)
       |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(bl.n_boiler_spans, 0) AS BIGINT) AS n_boiler_spans,
       |  CAST(COALESCE(scr.n_scrubbed, 0) AS BIGINT) AS n_scrubbed,
       |  CAST(CASE WHEN len(tk.t) = 0 THEN 0
       |       ELSE COALESCE(scr.n_scrubbed, 0) * 10000 // len(tk.t) END AS BIGINT) AS scrub_bp,
       |  $keptH AS kept_checksum
       |FROM tk
       |LEFT JOIN bl ON tk.doc_id = bl.doc_id
       |LEFT JOIN scr ON tk.doc_id = scr.doc_id
       |LEFT JOIN kept k ON tk.doc_id = k.doc_id
       |ORDER BY tk.doc_id""".stripMargin
  }

  /** q120 — corpus-frequency boilerplate scrubbing (the C4/Gopher span
    * removal family, adapted to span shingles): any $BoilerShingle-token
    * span appearing in ≥ $BoilerDf DISTINCT documents is boilerplate; all
    * token positions covered by a boilerplate span occurrence are
    * scrubbed from their document. Per doc: token counts, boilerplate
    * span count, scrubbed-token count/share, and an h60 checksum of the
    * SCRUBBED text (order-preserving reassembly — the actual cleaning
    * output, verified bit-for-bit). Scale shape: only SPAN-granularity
    * rows ever shuffle — df counts per-doc-DISTINCT shingle hashes
    * directly (one partial+final hash agg, no two-stage distinct, no
    * count-distinct Expand — PlanSpec-pinned), flagged span starts
    * equi-join on the hash and collect per doc (≤ spans rows), and
    * coverage + gap-slicing reassembly are per-doc array HOFs (linear in
    * tokens + covered): the token stream itself never shuffles. An
    * earlier draft re-keyed every token twice (position anti-join +
    * sorted collect) and hashed every span in two branches; this form
    * cut sf0.1 steady-state 2.7→2.0 s, and at 100 TB it removes both
    * token-granularity shuffles and halves the md5 work.
    */
  val q120 = Q("q120_boilerplate_scrub", q120OracleSql) { (s, dir) =>
    val w = BoilerShingle
    val ghOf = (arr: String) =>
      s"CAST(conv(substring(md5(array_join($arr, ' ')), 1, 15), 16, 10) AS BIGINT)"
    // shingle hashes materialize ONCE into the checkpoint (md5 is the
    // dominant per-row cost; an earlier draft hashed every span twice)
    // per-shingle md5 is the dominant cost — spread the narrow scan so
    // the kernel runs at session parallelism (r13; no-op on real inputs)
    val tk = graft.Catalog.spread(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("ghs", expr(
        s"CASE WHEN size(t) >= $w THEN transform(sequence(1, size(t) - ${w - 1}), " +
          s"i -> ${ghOf(s"slice(t, i, $w)")}) ELSE CAST(array() AS ARRAY<BIGINT>) END"))
      .localCheckpoint()
    // document frequency over per-doc-DISTINCT shingles: the distinct is
    // array_distinct inside the row, so the only shuffle is the count agg
    val ghx = tk.select(col("doc_id"), explode(expr("array_distinct(ghs)")).as("gh"))
    val dfr = ghx.groupBy("gh").agg(count(lit(1)).as("d"))
      .filter(col("d") >= BoilerDf).select("gh")
    // flagged shingles come back as one small per-doc set; span starts are
    // recovered in-row against the materialized hash array (no span explode)
    val flagged = ghx.join(dfr, Seq("gh"))
      .groupBy("doc_id").agg(collect_set(col("gh")).as("bad"))
    val starts = tk.join(flagged, Seq("doc_id"))
      .select(col("doc_id"), expr(
        "filter(sequence(1, size(ghs)), i -> array_contains(bad, element_at(ghs, i)))").as("starts"))
    tk.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("starts"), expr("CAST(array() AS ARRAY<INT>)")).as("starts"))
      // covered = sorted distinct union of the w positions under each span
      .withColumn("cov", expr(
        s"array_sort(array_distinct(flatten(transform(starts, s0 -> sequence(s0, s0 + ${w - 1})))))"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("starts")).cast("long").as("n_boiler_spans"),
        size(col("cov")).cast("long").as("n_scrubbed"),
        expr("CAST(CASE WHEN size(t) = 0 THEN 0 " +
          "ELSE CAST(size(cov) AS BIGINT) * 10000 div size(t) END AS BIGINT)").as("scrub_bp"),
        // gap-slicing reassembly: walk the sorted covered positions and
        // emit the uncovered token runs between them — linear per doc
        Dedup.h60Col(expr(
          "array_join(aggregate(cov, named_struct('p', 0, 'a', CAST(array() AS ARRAY<STRING>)), " +
            "(acc, c) -> named_struct('p', c, 'a', concat(acc.a, slice(t, acc.p + 1, c - acc.p - 1))), " +
            "acc -> concat(acc.a, slice(t, acc.p + 1, size(t) - acc.p))), ' ')")).as("kept_checksum"))
      .orderBy("doc_id")
  }

  // ── q121: intra-document repetition signals (Gopher family) ───────────

  private def q121OracleSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), g2 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t)),
       |      i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
       |  FROM tk WHERE len(t) >= 2
       |), c2 AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
       |), a2 AS (
       |  SELECT doc_id, MAX(c) AS topc FROM c2 GROUP BY doc_id
       |), g5 AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(t) - 3),
       |      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS g
       |  FROM tk WHERE len(t) >= 5
       |), c5 AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY doc_id, g
       |), a5 AS (
       |  SELECT doc_id, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc FROM c5 GROUP BY doc_id
       |), runs AS (
       |  SELECT doc_id, MAX(rl) AS mx FROM (
       |    SELECT doc_id, COUNT(*) AS rl FROM (
       |      SELECT doc_id, tok, j,
       |        j - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY j) AS isl
       |      FROM (SELECT doc_id, generate_subscripts(t, 1) AS j, unnest(t) AS tok FROM tk))
       |    GROUP BY doc_id, tok, isl)
       |  GROUP BY doc_id
       |)
       |SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(a2.topc, 0) AS BIGINT) AS top_2gram_cnt,
       |  CASE WHEN len(tk.t) >= 2 THEN
       |    ${OracleSql.round4("CAST(COALESCE(a2.topc, 0) AS DOUBLE) / (len(tk.t) - 1)")}
       |    ELSE CAST(0.0 AS DOUBLE) END AS top_2gram_share,
       |  CAST(COALESCE(a5.dupc, 0) AS BIGINT) AS dup_5gram_cnt,
       |  CASE WHEN len(tk.t) >= 5 THEN
       |    ${OracleSql.round4("CAST(COALESCE(a5.dupc, 0) AS DOUBLE) / (len(tk.t) - 4)")}
       |    ELSE CAST(0.0 AS DOUBLE) END AS dup_5gram_frac,
       |  CAST(COALESCE(runs.mx, 0) AS BIGINT) AS max_token_run,
       |  ((len(tk.t) >= 2 AND COALESCE(a2.topc, 0) * 5 >= len(tk.t) - 1)
       |    OR (len(tk.t) >= 5 AND COALESCE(a5.dupc, 0) * 5 >= len(tk.t) - 4)
       |    OR COALESCE(runs.mx, 0) >= 5) AS is_repetitive
       |FROM tk
       |LEFT JOIN a2 ON tk.doc_id = a2.doc_id
       |LEFT JOIN a5 ON tk.doc_id = a5.doc_id
       |LEFT JOIN runs ON tk.doc_id = runs.doc_id
       |ORDER BY tk.doc_id""".stripMargin

  /** In-row duplicate profile of a gram array: sort, then one linear fold
    * over adjacent-equal runs → (max occurrence count of any single gram,
    * total occurrences belonging to grams appearing more than once). The
    * '' sentinel can never collide with a gram (tokens are non-empty).
    */
  private def dupProfile(grams: String): String =
    s"""aggregate(array_sort($grams),
       |  named_struct('p', '', 'c', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT), 'd', CAST(0 AS BIGINT)),
       |  (a, x) -> named_struct(
       |    'p', x,
       |    'c', IF(x = a.p, a.c + CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
       |    'm', greatest(a.m, IF(x = a.p, a.c + CAST(1 AS BIGINT), CAST(1 AS BIGINT))),
       |    'd', a.d + IF(x = a.p, IF(a.c = 1, CAST(2 AS BIGINT), CAST(1 AS BIGINT)), CAST(0 AS BIGINT))),
       |  a -> named_struct('m', a.m, 'd', a.d))""".stripMargin.replaceAll("\\s+", " ")

  /** q121 — intra-document repetition signals (the Gopher §A1.1 quality
    * family, token-granularity: the synthetic corpus has no newlines, so
    * the line-based variants collapse to these): per doc, the share of
    * 2-gram slots taken by the single most frequent 2-gram, the fraction
    * of 5-gram slots covered by 5-grams occurring more than once, and the
    * longest same-token run, plus a composite repetitiveness flag (any
    * signal ≥ 20%, or a run ≥ 5). Scale shape: repetition is
    * intra-document by definition, so NOTHING shuffles — one scan of
    * `documents`, per-row gram construction + array_sort + a linear
    * adjacent-run fold (O(G log G) per doc), and a run-length fold over
    * the raw token stream. The explode/groupBy twin the oracle uses would
    * re-key every token twice; at 100 TB this form is a pure map over
    * document splits with no exchange at all (PlanSpec-pinned).
    */
  val q121 = Q("q121_repetition_signals", q121OracleSql) { (s, dir) =>
    val gram = (n: Int) =>
      s"CASE WHEN size(t) >= $n THEN transform(sequence(1, size(t) - ${n - 1}), " +
        s"i -> array_join(slice(t, i, $n), ' ')) ELSE CAST(array() AS ARRAY<STRING>) END"
    // longest run of one token: single unsorted pass, same sentinel trick
    val runFold =
      """aggregate(t,
        |  named_struct('p', '', 'c', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT)),
        |  (a, x) -> named_struct(
        |    'p', x,
        |    'c', IF(x = a.p, a.c + CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |    'm', greatest(a.m, IF(x = a.p, a.c + CAST(1 AS BIGINT), CAST(1 AS BIGINT)))),
        |  a -> a.m)""".stripMargin.replaceAll("\\s+", " ")
    val nT = size(col("t"))
    val share = (cnt: Column, slots: Column) =>
      floor(cnt.cast("double") / slots.cast("double") * lit(10000.0) + lit(0.5)) / lit(10000.0)
    // gram-profile folds are the dominant per-row cost — spread the
    // narrow scan to session parallelism (r13; no-op on real inputs)
    graft.Catalog.spread(docs(s, dir))
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("p2", expr(dupProfile(gram(2))))
      .withColumn("p5", expr(dupProfile(gram(5))))
      .withColumn("mr", expr(runFold))
      .select(
        col("doc_id"),
        nT.cast("long").as("n_tokens"),
        col("p2.m").as("top_2gram_cnt"),
        when(nT >= 2, share(col("p2.m"), nT - 1)).otherwise(0.0).as("top_2gram_share"),
        col("p5.d").as("dup_5gram_cnt"),
        when(nT >= 5, share(col("p5.d"), nT - 4)).otherwise(0.0).as("dup_5gram_frac"),
        col("mr").as("max_token_run"),
        ((nT >= 2 && col("p2.m") * 5 >= nT - 1) ||
          (nT >= 5 && col("p5.d") * 5 >= nT - 4) ||
          col("mr") >= 5).as("is_repetitive"))
      .orderBy("doc_id")
  }

  // ── q152: wrap-packing (contiguous token-stream packs) ───────────────

  /** q152 — token-stream wrap packing: q56 assigns WHOLE documents to
    * the pack their cumulative range starts in (short packs, no split
    * docs); pretraining data loaders instead concatenate the token
    * stream and cut EXACTLY every 2048 tokens, wrapping documents across
    * pack boundaries. Each doc owns the half-open global token range
    * [cum − n, cum) (the same `exec.PrefixSum` running total — no
    * single-partition window) and explodes IN-ROW into the packs that
    * range touches (⌈n/2048⌉+1 rows max per doc — bounded by doc
    * length, never corpus size); per pack: docs touched, docs starting,
    * docs wrapped in from the previous pack, and the exact token fill —
    * 2048 everywhere but the tail by construction (spec-pinned, plus
    * token-mass conservation vs q56's totals). All integer arithmetic,
    * oracled exactly.
    */
  val q152 = Q("q152_wrap_packing",
    s"""$wrapPackCtesSql
      |SELECT pack_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN st >= pack_id * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_starting,
      |  CAST(SUM(CASE WHEN st < pack_id * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_wrapped_in,
      |  CAST(SUM(LEAST(en, (pack_id + 1) * 2048) - GREATEST(st, pack_id * 2048)) AS BIGINT) AS pack_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM ex GROUP BY pack_id ORDER BY pack_id""".stripMargin) { (s, dir) =>
    wrapSpans(s, dir)
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        Det.countIf(col("st") >= col("pack_id") * 2048L).as("n_starting"),
        Det.countIf(col("st") < col("pack_id") * 2048L).as("n_wrapped_in"),
        sum(packFill).cast("long").as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("pack_id")
  }

  /** The per-(doc, pack) span frame behind q152 — shared with the spec's
    * conservation/fill checks. One running total + an in-row explode.
    */
  private[graft] def wrapSpans(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
    graft.exec.PrefixSum.runningTotal(toks, "doc_id", "n_tokens", "cum")
      .filter(col("n_tokens") > 0L)
      .withColumn("st", col("cum") - col("n_tokens"))
      .withColumn("en", col("cum"))
      .withColumn("pack_id",
        explode(sequence(expr("st div 2048"), expr("(en - 1) div 2048"))))
  }

  /** This doc's token contribution to `pack_id` — the span-intersection
    * fill shared by q152's rollup and the pack table below.
    */
  private def packFill: Column =
    least(col("en"), (col("pack_id") + 1) * 2048L) -
      greatest(col("st"), col("pack_id") * 2048L)

  /** The (pack_id, pack_tokens) table of the wrap layout — what a data
    * loader's read plan is made of; shared with Mining's q153 epoch
    * read order.
    */
  private[graft] def wrapPacks(s: SparkSession, dir: String): DataFrame =
    wrapSpans(s, dir)
      .groupBy("pack_id")
      .agg(sum(packFill).cast("long").as("pack_tokens"))

  /** Oracle fragment: the q152 CTE chain (toks → c → sp → ex) plus a
    * `packs(pack_id, pack_tokens)` CTE — q152 reads `ex`, q153 `packs`,
    * so both derive the identical pack table.
    */
  private[graft] def wrapPackCtesSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, len(${OracleSql.tokens()}) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM toks
      |), sp AS (
      |  SELECT doc_id, cum - n_tokens AS st, cum AS en
      |  FROM c WHERE n_tokens > 0
      |), ex AS (
      |  SELECT doc_id, st, en,
      |    unnest(range(st // 2048, (en - 1) // 2048 + 1)) AS pack_id
      |  FROM sp
      |), packs AS (
      |  SELECT pack_id,
      |    CAST(SUM(LEAST(en, (pack_id + 1) * 2048) - GREATEST(st, pack_id * 2048)) AS BIGINT) AS pack_tokens
      |  FROM ex GROUP BY pack_id
      |)""".stripMargin

  // ── q183: bigram novelty between releases ─────────────────────────────

  private def q183OracleSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, ${OracleSql.tokens()} AS t
       |  FROM documents
       |), cutv AS (
       |  SELECT MAX(doc_id) // 2 AS cut FROM documents
       |), bg AS (
       |  SELECT doc_id, source,
       |    unnest(list_slice(t, 1, len(t) - 1)) AS w1,
       |    unnest(list_slice(t, 2, len(t))) AS w2
       |  FROM tk WHERE len(t) >= 2
       |), v1 AS (
       |  SELECT DISTINCT w1, w2 FROM bg, cutv WHERE doc_id < cut
       |), post AS (
       |  SELECT b.source, b.w1, b.w2 FROM bg b, cutv WHERE b.doc_id >= cut
       |), nw AS (
       |  SELECT p.source, p.w1, p.w2, v.w1 IS NOT NULL AS known
       |  FROM post p LEFT JOIN v1 v ON p.w1 = v.w1 AND p.w2 = v.w2
       |), inst AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_instances,
       |    CAST(SUM(CASE WHEN known THEN 0 ELSE 1 END) AS BIGINT) AS n_new_instances
       |  FROM nw GROUP BY source
       |), typ AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new_types FROM (
       |    SELECT DISTINCT source, w1, w2 FROM nw WHERE NOT known)
       |  GROUP BY source
       |)
       |SELECT i.source, i.n_instances, i.n_new_instances,
       |  (10000 * i.n_new_instances) // i.n_instances AS novelty_bp,
       |  CAST(COALESCE(t2.n_new_types, 0) AS BIGINT) AS n_new_types
       |FROM inst i LEFT JOIN typ t2 ON i.source = t2.source
       |ORDER BY i.source""".stripMargin

  /** The novelty rollup for the post-cut slice of `d`, against an
    * optional externally-served v1 vocabulary (the streamed LM store at
    * a release pin); `None` derives v1 from the pre-cut slice itself.
    */
  private[graft] def bigramNovelty(d: DataFrame, cut: Long,
      v1Opt: Option[DataFrame]): DataFrame = {
    val bg = d
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint()
    val v1 = v1Opt.getOrElse(bg.filter(col("doc_id") < cut).select("w1", "w2"))
      .select("w1", "w2").distinct().withColumn("known", lit(true))
    val nw = bg.filter(col("doc_id") >= cut).join(v1, Seq("w1", "w2"), "left")
    val inst = nw.groupBy("source")
      .agg(count(lit(1)).as("n_instances"),
        Det.countIf(col("known").isNull).as("n_new_instances"))
    // distinct-then-count, never COUNT(DISTINCT)'s Expand
    val typ = nw.filter(col("known").isNull)
      .select("source", "w1", "w2").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_new_types"))
    inst.join(typ, Seq("source"), "left")
      .select(col("source"), col("n_instances"), col("n_new_instances"),
        expr("(10000 * n_new_instances) div n_instances").as("novelty_bp"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .orderBy("source")
  }

  /** q183 — bigram NOVELTY between releases: how much of the newly
    * landed half's bigram mass the previous release's model has never
    * seen — the vocabulary-growth statistic that decides whether q173's
    * churn is noise or a genuinely shifted corpus (high novelty means
    * the old model scores the new data blind). Release boundary = q173's
    * scale-free doc_id < max/2 convention. Per source: post-cut bigram
    * instances, never-seen instances, novelty in exact basis points, and
    * the distinct new types the source introduces. At 100 TB: one
    * tokenize pass (checkpointed) feeds both sides; the vocabulary probe
    * is a hash left-join on (w1, w2); new-type counting is
    * distinct-then-count, never an Expand.
    */
  val q183 = Q("q183_bigram_novelty", q183OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val cut = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    bigramNovelty(d, cut, None)
  }

  // ── q189: k-anonymity audit over quasi-identifiers ─────────────────────

  private[graft] val KAnonK = 5
  private[graft] val KAnonBucket = 256L

  /** q189's oracle over a `corpus` relation (the survivors for q205). */
  private[ops] def q189OracleSql(corpus: String = "documents"): String =
    s"""WITH g AS (
       |  SELECT source, lang, n_chars // $KAnonBucket AS len_bucket, COUNT(*) AS gsz
       |  FROM $corpus GROUP BY 1, 2, 3
       |)
       |SELECT source,
       |  CAST(SUM(gsz) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_groups,
       |  CAST(SUM(CASE WHEN gsz < $KAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
       |  CAST(SUM(CASE WHEN gsz < $KAnonK THEN gsz ELSE 0 END) AS BIGINT) AS n_suppressed,
       |  (CAST(SUM(CASE WHEN gsz < $KAnonK THEN gsz ELSE 0 END) AS BIGINT) * 10000)
       |    // CAST(SUM(gsz) AS BIGINT) AS suppressed_bp
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** q189 — K-ANONYMITY audit: bucket every document by its
    * quasi-identifier tuple (source, lang, length-bucket of
    * [[KAnonBucket]] chars) and flag the docs whose bucket holds fewer
    * than k = [[KAnonK]] members — the re-identification-risk set a
    * privacy pass must suppress or generalize before release (q59
    * scrubs PII *inside* text; this catches the docs whose mere
    * METADATA combination is identifying). Per source: docs, QI groups,
    * small groups, suppressed docs, and the suppression rate in exact
    * basis points. Pure integer arithmetic. At 100 TB: one map-side-
    * combinable (source, lang, bucket) aggregate — group count is
    * bounded by the QI domain, not the corpus — then a |sources| rollup.
    */
  val q189 = Q("q189_kanonymity_audit", q189OracleSql()) { (s, dir) =>
    kAnonymityAudit(docs(s, dir))
  }

  /** q189 over any (source, lang, n_chars) frame — spec entry. */
  private[graft] def kAnonymityAudit(d: DataFrame): DataFrame =
    kAnonymityFromCells(kAnonCells(d))

  /** (source, lang, len_bucket, gsz) QI-group cells — add-mergeable SUM
    * state (bounded by the QI domain, not the corpus), so a streaming
    * sink can maintain them per batch and the audit serves off the fold.
    */
  private[graft] def kAnonCells(d: DataFrame): DataFrame =
    d.groupBy(col("source"), col("lang"),
        expr(s"n_chars div $KAnonBucket").as("len_bucket"))
      .agg(count(lit(1)).cast("long").as("gsz"))

  /** The q189 table from (possibly unfolded) cells — the fold is the
    * first aggregation, so batch and store-served paths share this code.
    * The k test runs on the FOLDED group size: a group small in every
    * batch but large in union is correctly safe.
    */
  private[graft] def kAnonymityFromCells(cells: DataFrame): DataFrame =
    cells.groupBy("source", "lang", "len_bucket")
      .agg(sum("gsz").cast("long").as("gsz"))
      .groupBy("source")
      .agg(
        sum("gsz").cast("long").as("n_docs"),
        count(lit(1)).as("n_groups"),
        Det.countIf(col("gsz") < KAnonK).as("n_small_groups"),
        sum(when(col("gsz") < KAnonK, col("gsz")).otherwise(lit(0L)))
          .cast("long").as("n_suppressed"))
      .withColumn("suppressed_bp", expr("(n_suppressed * 10000) div n_docs"))
      .orderBy("source")

  // ── q195: code-switching segmentation (windowed lang-id) ──────────────

  private val CsWindow = 32

  /** Shared oracle prefix for q195/q196: tokens → 32-token windows →
    * per-window stopword hits + token counts → window language majority.
    */
  private def csMajCtes(corpus: String = "documents"): String = {
    def hits(stop: Seq[String]) =
      s"SUM(CASE WHEN list_contains([${stop.map("'" + _ + "'").mkString(",")}], tok) THEN 1 ELSE 0 END)"
    s"""WITH tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM $corpus
       |), pos AS (
       |  SELECT doc_id, (generate_subscripts(t, 1) - 1) // $CsWindow AS w, unnest(t) AS tok
       |  FROM tk
       |), tags AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS n_toks,
       |    ${hits(enStop)} AS en, ${hits(esStop)} AS es,
       |    ${hits(deStop)} AS de, ${hits(frStop)} AS fr
       |  FROM pos GROUP BY doc_id, w
       |), maj AS (
       |  SELECT doc_id, w, n_toks, CASE
       |    WHEN en >= GREATEST(es, de, fr, 1) THEN 'en'
       |    WHEN es >= GREATEST(de, fr, 1) THEN 'es'
       |    WHEN de >= GREATEST(fr, 1) THEN 'de'
       |    WHEN fr >= 1 THEN 'fr'
       |    ELSE 'unknown' END AS lang
       |  FROM tags
       |)""".stripMargin
  }

  /** q195's oracle over a `corpus` relation (q211: the survivors). */
  private[ops] def q195OracleSql(corpus: String = "documents"): String =
    s"""${csMajCtes(corpus)}, seg AS (
       |  SELECT doc_id, w, lang,
       |    CASE WHEN lang = LAG(lang) OVER (PARTITION BY doc_id ORDER BY w)
       |      THEN 0 ELSE 1 END AS brk
       |  FROM maj
       |), per AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(SUM(brk) AS BIGINT) AS n_segments,
       |    CAST(COUNT(DISTINCT CASE WHEN lang <> 'unknown' THEN lang END) AS BIGINT) AS n_langs
       |  FROM seg GROUP BY doc_id
       |), dom AS (
       |  SELECT doc_id, lang AS dominant_lang FROM (
       |    SELECT doc_id, lang,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, lang) AS rn
       |    FROM maj GROUP BY doc_id, lang)
       |  WHERE rn = 1
       |)
       |SELECT d.doc_id,
       |  COALESCE(p.n_windows, 0) AS n_windows,
       |  COALESCE(p.n_segments, 0) AS n_segments,
       |  COALESCE(p.n_langs, 0) AS n_langs,
       |  COALESCE(m.dominant_lang, 'unknown') AS dominant_lang,
       |  COALESCE(p.n_langs, 0) >= 2 AS mixed
       |FROM $corpus d
       |LEFT JOIN per p ON d.doc_id = p.doc_id
       |LEFT JOIN dom m ON d.doc_id = m.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q195 — CODE-SWITCHING segmentation: q51's stopword lang-id run per
    * [[CsWindow]]-token WINDOW instead of per document, then
    * gaps-and-islands over the window sequence — per doc: windows,
    * language segments, distinct identified languages, dominant language
    * (by window count, alphabetic tie-break), and the `mixed` flag a
    * CCNet-style gate uses to route multi-language documents (a doc-level
    * lang-id mislabels them; segment structure says whether to split or
    * drop). Latin-token windows only (CJK routes through q51's doc-level
    * branch); integer counts and string compares end to end. Scale: one
    * posexplode → (doc, window) hash aggregate, islands ride per-doc
    * window partitions (never a global sort), rollup is per-doc.
    */
  val q195 = Q("q195_code_switching", q195OracleSql()) { (s, dir) =>
    codeSwitchOf(docs(s, dir))
  }

  /** Per-(doc, window) language majorities with window token counts —
    * the shared projection of q195 (segmentation) and q196 (salvage).
    */
  private[graft] def windowMajorities(d: DataFrame): DataFrame = {
    def hits(stop: Seq[String]) =
      Det.countIf(col("tok").isInCollection(stop))
    val pos = d.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "tok")))
      .select(col("doc_id"), expr(s"i div $CsWindow").as("w"), col("tok"))
    pos.groupBy("doc_id", "w")
      .agg(count(lit(1)).as("n_toks"),
        hits(enStop).as("en"), hits(esStop).as("es"),
        hits(deStop).as("de"), hits(frStop).as("fr"))
      .select(col("doc_id"), col("w"), col("n_toks"),
        when(col("en") >= greatest(col("es"), col("de"), col("fr"), lit(1L)), "en")
          .when(col("es") >= greatest(col("de"), col("fr"), lit(1L)), "es")
          .when(col("de") >= greatest(col("fr"), lit(1L)), "de")
          .when(col("fr") >= 1L, "fr")
          .otherwise("unknown").as("lang"))
  }

  /** q195 over any (doc_id, text) frame — spec entry. */
  private[graft] def codeSwitchOf(d: DataFrame): DataFrame =
    codeSwitchFromMaj(windowMajorities(d), d.select("doc_id"))

  /** q195's rollup from a (doc_id, w, n_toks, lang) majority frame — the
    * fold half shared by the batch query and the store-served path.
    */
  private[graft] def codeSwitchFromMaj(maj: DataFrame, spine: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("w")
    val seg = maj.withColumn("brk",
      when(col("lang") === lag(col("lang"), 1).over(byDoc), lit(0L)).otherwise(lit(1L)))
    val per = seg.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum("brk").cast("long").as("n_segments"),
        countDistinct(when(col("lang") =!= "unknown", col("lang"))).as("n_langs"))
    val dom = maj.groupBy("doc_id", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("dominant_lang"))
    spine.select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .join(dom, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        coalesce(col("dominant_lang"), lit("unknown")).as("dominant_lang"),
        (coalesce(col("n_langs"), lit(0L)) >= 2L).as("mixed"))
      .orderBy("doc_id")
  }

  // ── q196: mixed-document salvage analysis ──────────────────────────────

  private def q196OracleSql: String =
    s"""${csMajCtes()}, dom AS (
       |  SELECT doc_id, lang AS dominant FROM (
       |    SELECT doc_id, lang,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, lang) AS rn
       |    FROM maj GROUP BY doc_id, lang)
       |  WHERE rn = 1
       |), lng AS (
       |  SELECT doc_id,
       |    CAST(COUNT(DISTINCT CASE WHEN lang <> 'unknown' THEN lang END) AS BIGINT) AS n_langs
       |  FROM maj GROUP BY doc_id
       |), perdoc AS (
       |  SELECT m.doc_id, MAX(l.n_langs) AS n_langs,
       |    CAST(SUM(m.n_toks) AS BIGINT) AS doc_toks,
       |    CAST(SUM(CASE WHEN m.lang = d2.dominant AND d2.dominant <> 'unknown'
       |      THEN m.n_toks ELSE 0 END) AS BIGINT) AS dom_toks
       |  FROM maj m
       |  JOIN dom d2 ON m.doc_id = d2.doc_id
       |  JOIN lng l ON m.doc_id = l.doc_id
       |  GROUP BY m.doc_id
       |)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN p.n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       |  CAST(SUM(CASE WHEN p.n_langs >= 2 THEN p.doc_toks ELSE 0 END) AS BIGINT) AS mixed_tokens,
       |  CAST(SUM(CASE WHEN p.n_langs >= 2 THEN p.dom_toks ELSE 0 END) AS BIGINT) AS salvaged_tokens,
       |  CASE WHEN CAST(SUM(CASE WHEN p.n_langs >= 2 THEN p.doc_toks ELSE 0 END) AS BIGINT) = 0 THEN 0
       |    ELSE (CAST(SUM(CASE WHEN p.n_langs >= 2 THEN p.dom_toks ELSE 0 END) AS BIGINT) * 10000)
       |      // CAST(SUM(CASE WHEN p.n_langs >= 2 THEN p.doc_toks ELSE 0 END) AS BIGINT) END AS salvage_bp
       |FROM documents d
       |LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** q196 — mixed-document SALVAGE analysis: for the docs q195 flags as
    * code-switched, how many tokens survive the standard remediation
    * (keep only the dominant-language segments, drop the rest)? Per
    * source: docs, mixed docs, their token mass, the salvageable share
    * in exact basis points — the number that decides between
    * split-and-keep and drop-entirely for each source's mixed tail.
    * Window token counts ride the same (doc, window) aggregate as q195
    * ([[windowMajorities]]), so the composition adds no corpus scans.
    */
  val q196 = Q("q196_mixed_doc_salvage", q196OracleSql) { (s, dir) =>
    mixedSalvageOf(docs(s, dir))
  }

  /** q196 over any (doc_id, source, text) frame — spec entry. */
  private[graft] def mixedSalvageOf(d: DataFrame): DataFrame =
    mixedSalvageFromMaj(
      windowMajorities(d.select(col("doc_id"), col("text"))).localCheckpoint(),
      d.select(col("doc_id"), col("source")))

  /** q196's rollup from a majority frame + a (doc_id, source) spine. */
  private[graft] def mixedSalvageFromMaj(maj: DataFrame, spine: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dom = maj.groupBy("doc_id", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("dominant"))
    val lng = maj.groupBy("doc_id")
      .agg(countDistinct(when(col("lang") =!= "unknown", col("lang"))).as("n_langs"))
    val perDoc = maj.join(dom, Seq("doc_id")).join(lng, Seq("doc_id"))
      .groupBy("doc_id")
      .agg(max("n_langs").as("n_langs"),
        sum("n_toks").cast("long").as("doc_toks"),
        sum(when(col("lang") === col("dominant") && col("dominant") =!= "unknown",
          col("n_toks")).otherwise(lit(0L))).cast("long").as("dom_toks"))
    spine.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Det.countIf(coalesce(col("n_langs"), lit(0L)) >= 2L).as("n_mixed"),
        sum(when(col("n_langs") >= 2L, col("doc_toks")).otherwise(lit(0L)))
          .cast("long").as("mixed_tokens"),
        sum(when(col("n_langs") >= 2L, col("dom_toks")).otherwise(lit(0L)))
          .cast("long").as("salvaged_tokens"))
      .withColumn("salvage_bp",
        expr("CASE WHEN mixed_tokens = 0 THEN 0 " +
          "ELSE (salvaged_tokens * 10000) div mixed_tokens END"))
      .orderBy("source")
  }

  // ── q197: segment split (the transform q196's salvage plans) ──────────

  private def q197OracleSql: String =
    s"""${csMajCtes()}, brkt AS (
       |  SELECT doc_id, w, n_toks, lang,
       |    CASE WHEN lang = LAG(lang) OVER (PARTITION BY doc_id ORDER BY w)
       |      THEN 0 ELSE 1 END AS brk
       |  FROM maj
       |), seg AS (
       |  SELECT doc_id, w, n_toks, lang,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY w) AS seg_idx
       |  FROM brkt
       |), segs AS (
       |  SELECT doc_id, seg_idx, MIN(lang) AS lang,
       |    CAST(COUNT(*) AS BIGINT) AS n_windows,
       |    CAST(MIN(w) AS BIGINT) AS w0,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |  FROM seg GROUP BY doc_id, seg_idx
       |), multi AS (
       |  SELECT doc_id FROM segs GROUP BY doc_id HAVING COUNT(*) >= 2
       |)
       |SELECT s.doc_id, CAST(s.seg_idx AS BIGINT) AS seg_idx, s.lang,
       |  s.n_windows, s.n_tokens,
       |  array_to_string(t[CAST($CsWindow * s.w0 + 1 AS BIGINT)
       |    : CAST($CsWindow * s.w0 + s.n_tokens AS BIGINT)], ' ') AS seg_text
       |FROM segs s
       |JOIN multi m ON s.doc_id = m.doc_id
       |JOIN tk ON s.doc_id = tk.doc_id
       |ORDER BY s.doc_id, s.seg_idx""".stripMargin

  /** q197 — the SPLIT transform q196's salvage analysis plans: every
    * multi-segment document (language switch OR an unknown-window break)
    * is emitted as one row per segment with its language, window/token
    * span, and the segment TEXT reconstructed exactly (windows tile the
    * token array, so a segment is one contiguous token slice — both
    * engines rebuild the identical string). Downstream, the
    * dominant-language segments re-enter the corpus as standalone docs
    * and the rest is dropped — the split-and-keep remediation realized
    * as data, like q137's scrubbed-token output for decontamination.
    * Single-segment docs pass through unchanged and are not emitted.
    * Scale: the same (doc, window) aggregate as q195, islands on per-doc
    * partitions, one join back to the token arrays for the slice.
    */
  val q197 = Q("q197_segment_split", q197OracleSql) { (s, dir) =>
    segmentSplitOf(docs(s, dir))
  }

  /** q197 over any (doc_id, text) frame — spec entry. */
  private[graft] def segmentSplitOf(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("w")
    val seg = windowMajorities(d)
      .withColumn("brk",
        when(col("lang") === lag(col("lang"), 1).over(byDoc), lit(0L)).otherwise(lit(1L)))
      .withColumn("seg_idx", sum("brk").over(byDoc))
    val segs = seg.groupBy("doc_id", "seg_idx")
      .agg(min("lang").as("lang"),
        count(lit(1)).as("n_windows"),
        min("w").cast("long").as("w0"),
        sum("n_toks").cast("long").as("n_tokens"))
    val multi = segs.groupBy("doc_id").agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2).select("doc_id")
    segs.join(multi, Seq("doc_id"), "left_semi")
      .join(d.select(col("doc_id"), tokens(col("text")).as("t")), Seq("doc_id"))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"), col("lang"),
        col("n_windows"), col("n_tokens"),
        array_join(slice(col("t"),
          (col("w0") * CsWindow + 1).cast("int"), col("n_tokens").cast("int")), " ")
          .as("seg_text"))
      .orderBy("doc_id", "seg_idx")
  }

  val all: Seq[Q] =
    Seq(q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q62, q63, q64, q66, q101, q111, q120,
      q121, q152, q160, q170, q173, q183, q189, q195, q196, q197)
}
