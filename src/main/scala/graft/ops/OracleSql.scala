package graft.ops

/** The DuckDB SQL fragments that oracles in more than one module use, each
  * written once. An oracle calls these instead of pasting their text, so a
  * fix to a definition the engine's kernels must mirror (the tokenizer, the
  * h60 hash, the shingle set) is made in one place. A fragment used by one
  * module only is a private def in that module.
  */
object OracleSql {

  /** Token list of a text expression: the DuckDB mirror of
    * `TextOps.tokens` and `TextHash.tokens` (lower-case, maximal
    * `[a-z0-9]` runs).
    */
  def tokens(text: String = "text"): String =
    s"regexp_extract_all(lower($text), '[a-z0-9]+')"

  /** Whitespace-collapsed, trimmed lower-case text: the mirror of
    * `TextOps.normalized`, the key of every exact-duplicate fingerprint.
    */
  def normalized(text: String = "text"): String =
    s"trim(regexp_replace(lower($text), '\\s+', ' ', 'g'))"

  /** h60 of a string expression: the first 15 hex digits of its md5 as a
    * BIGINT, the DuckDB mirror of `TextHash.h60` and `Dedup.h60Col`.
    */
  def h60(e: String): String = s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Half-up rounding to 4 decimals, the mirror of `Det.dround(x, 4)`. */
  def round4(x: String): String = s"FLOOR($x * 10000.0 + 0.5) / 10000.0"

  /** The distinct n-token windows of the token list `t`, or the whole
    * token string when `t` is shorter: the shingle set that
    * `ShingleHashes(text, n)` hashes.
    */
  def shingleSetSql(n: Int = Dedup.ShingleN): String =
    s"""list_distinct(CASE WHEN len(t) >= $n
       |    THEN [array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]
       |    ELSE [array_to_string(t, ' ')] END)""".stripMargin

  /** CTEs `tk` (tokens) → `sh` (their [[shingleSetSql]] `ss`) → `hs`
    * (its h60 list `hh`) over any (doc_id, text) relation: the mirror of
    * `ShingleHashes(text, n)`. CTE names take `prefix`. No WITH prefix.
    */
  def shingleCtes(base: String = "documents", n: Int = Dedup.ShingleN, prefix: String = ""): String =
    s"""${prefix}tk AS (
       |  SELECT doc_id, ${tokens()} AS t FROM $base
       |), ${prefix}sh AS (
       |  SELECT doc_id, ${shingleSetSql(n)} AS ss FROM ${prefix}tk
       |), ${prefix}hs AS (
       |  SELECT doc_id, list_transform(ss, s -> ${h60("s")}) AS hh FROM ${prefix}sh
       |)""".stripMargin

  /** CTEs `ex` → `sizes` → `shared` → `pairs` over a [[shingleCtes]] `hs`
    * of the same `prefix`: every doc pair (doc_id < doc_b) sharing a
    * shingle, with `n_shared`, both set sizes `sa`/`sb` and the Jaccard
    * `j`. No WITH prefix.
    */
  def shingleOverlapCtes(prefix: String = ""): String =
    s"""${prefix}ex AS (
       |  SELECT doc_id, unnest(hh) AS h FROM ${prefix}hs
       |), ${prefix}sizes AS (
       |  SELECT doc_id, len(hh) AS sz FROM ${prefix}hs
       |), ${prefix}shared AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM ${prefix}ex a JOIN ${prefix}ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), ${prefix}pairs AS (
       |  SELECT s.doc_id, s.doc_b, s.n_shared, sa.sz AS sa, sb.sz AS sb,
       |    CAST(s.n_shared AS DOUBLE) / (sa.sz + sb.sz - s.n_shared) AS j
       |  FROM ${prefix}shared s
       |  JOIN ${prefix}sizes sa ON s.doc_id = sa.doc_id
       |  JOIN ${prefix}sizes sb ON s.doc_b = sb.doc_id
       |)""".stripMargin

  /** The Hamming-LSH band rows (id, sig, band_idx, band_val) of a
    * relation `from`: its signature column `sig` cut into `nBands` bands
    * of `bits` bits, one UNION ALL branch per band.
    */
  def bitBandSelectsSql(id: String, sig: String, from: String, bits: Int, nBands: Int): String =
    (0 until nBands).map { k =>
      s"  SELECT $id, $sig, $k AS band_idx, ($sig >> ${k * bits}) & ${(1 << bits) - 1} AS band_val FROM $from"
    }.mkString("\n  UNION ALL\n")

  /** Jaccard ≥ 0.8 of a [[shingleOverlapCtes]] pair, in exact integers. */
  def nearDupPairSql: String = "5 * n_shared >= 4 * (sa + sb - n_shared)"

  /** CTEs `st` → `gm` (doc_id, text_len, n_tokens, alpha_chars, n_punct,
    * n_stop): the q69 quality gate's per-doc statistics over any
    * (doc_id, text) relation, the mirror of `Corpus.gateFrame`. No WITH
    * prefix.
    */
  def gateStatsCtes(base: String = "documents"): String =
    s"""st AS (
       |  SELECT doc_id,
       |    length(text) AS text_len,
       |    ${tokens()} AS t,
       |    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
       |  FROM $base
       |), gm AS (
       |  SELECT doc_id, text_len, len(t) AS n_tokens,
       |    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) AS alpha_chars,
       |    n_punct,
       |    len(list_filter(t, x -> list_contains([${TextOps.allStop.map("'" + _ + "'").mkString(",")}], x))) AS n_stop
       |  FROM st
       |)""".stripMargin

  /** The q69 gate's keep predicate over [[gateStatsCtes]]' `gm` columns. */
  def gateKeepSql: String =
    "(n_tokens BETWEEN 50 AND 100000\n      AND 3 * n_tokens <= alpha_chars AND alpha_chars <= 10 * n_tokens\n" +
      "      AND 10 * n_punct <= text_len AND n_stop >= 2)"

  /** CTEs `toks` (doc_id, n_tokens) → `packed` (+ its [[packIdSql]]
    * `pack_id`) over a (doc_id, text) relation. No WITH prefix.
    */
  def packedCtes(base: String): String =
    s"""toks AS (
       |  SELECT doc_id, len(${tokens()}) AS n_tokens
       |  FROM $base
       |), packed AS (
       |  SELECT doc_id, n_tokens,
       |    $packIdSql AS pack_id
       |  FROM toks
       |)""".stripMargin

  /** The 2048-token training shard of a (doc_id, n_tokens) row: its
    * running token offset in doc_id order, floor-divided by the shard
    * size. The mirror of q56's `PrefixSum.runningTotal` packing.
    */
  def packIdSql: String =
    "CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)\n" +
      "      - n_tokens) / 2048.0) AS BIGINT)"
}
