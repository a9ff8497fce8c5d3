package graft.ops

import graft.Catalog
import graft.functions.ShingleHashes
import graft.queries.{Det, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for a training-data pipeline over `documents`:
  * exact (hash groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard
  * with shared-shingle blocking. All candidate generation is blocking-based
  * (band/bucket equi-joins — shuffle on the band key), never an O(n²)
  * cross join, so the shapes hold at 100 TB: work scales with
  * sum-of-bucket-sizes, and hot buckets are ordinary join skew that AQE
  * handles.
  *
  * Every hash is h60 (md5-prefix, see graft.functions.TextHash) so each
  * query carries a full DuckDB oracle: the seeded hash-family constants are
  * inlined into machine-generated oracle SQL, and all modular arithmetic
  * stays in non-negative BIGINT range on both engines.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String) =
    Catalog.spread(Catalog.table(s, dir, "documents"))

  /** The UNSPREAD documents scan, for queries whose per-row kernel is too
    * cheap to amortize session-wide tiny-task overhead: r13's blanket
    * spread in `docs` regressed q30 (one md5 per row) 0.31→0.52 s and
    * q39 0.51→0.76 s — the 8-core bench matched the unspread time, so
    * the cost was N-way tiny-task contention plus a full round-robin
    * exchange of raw text ahead of work that was fine at scan
    * parallelism (r13 VERDICT #1). Spread stays only where the kernel
    * CPU ≫ per-task overhead (the shingle/minhash families).
    */
  private def docsPlain(s: SparkSession, dir: String) =
    Catalog.table(s, dir, "documents")

  /** Spark column: h60 via built-ins (for small per-row strings like band
    * keys; the per-shingle path uses the codegen ShingleHashes instead).
    */
  def h60Col(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def shingleCtes = "WITH " + OracleSql.shingleCtes()

  /** q30 — exact dedup: cluster by normalized-content fingerprint, keep the
    * lowest doc_id (one shuffle on the 128-bit key; at any scale this is
    * the cheapest dedup and the first pass before near-dup methods).
    */
  val q30 = Q("q30_dedup_exact",
    s"""SELECT md5(${OracleSql.normalized()}) AS fingerprint,
      |  MIN(doc_id) AS keep_doc_id,
      |  COUNT(*) AS n_copies,
      |  COUNT(*) - 1 AS n_removed
      |FROM documents
      |GROUP BY 1
      |ORDER BY keep_doc_id""".stripMargin) { (s, dir) =>
    docsPlain(s, dir)
      .groupBy(md5(TextOps.normalized(col("text"))).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        (count(lit(1)) - 1).as("n_removed"))
      .orderBy("keep_doc_id")
  }

  // ── MinHash + LSH ─────────────────────────────────────────────────────

  val NumHashes = 64
  val BandSize = 4                      // 16 bands of 4 → catches J ≳ 0.5
  val MinhashPrime = 2147483647L        // 2^31 - 1
  /** Seeded affine hash families (a*h + b mod p) — deterministic, and
    * inlined as literals into the oracle SQL below.
    */
  val (hashA, hashB) = {
    val rnd = new scala.util.Random(12345)
    (Array.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1).toLong),
      Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }

  final val ShingleN = 3

  /** Content fingerprint of the banding CONFIGURATION — shingle width,
    * signature length, band size, prime, and both affine hash families.
    * Persisted as a `_band_conf` marker on band-index stores so a
    * redeployment with changed constants refuses to land into (or serve
    * from) a store whose rows were banded under the old ones — bands
    * from two configurations join without any structural error and
    * silently miss every cross-configuration duplicate.
    */
  lazy val bandConfigFingerprint: String = {
    val cfg = s"$ShingleN:$NumHashes:$BandSize:$MinhashPrime:" +
      hashA.mkString(",") + ":" + hashB.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(cfg.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Distinct 3-word-shingle h60 set per document, one codegen pass/row. */
  def shingleHashes(text: Column): Column = ShingleHashes(text, ShingleN)

  /** Per-doc 64-slot MinHash signature frame: doc_id, n_shingles, sig_0..63.
    * Shape: ONE fused codegen call per row (`minhash_sig` — tokenize →
    * shingle → h60 → 64-lane affine min in a single pass), unpacked into
    * the wide column layout. A signature is a pure function of the
    * document, so this is a projection with ZERO shuffle; the previous
    * explode + 64-min-aggregate form paid a per-doc hash-aggregate
    * exchange for nothing (kept bit-equal in OpsSpec as the reference
    * tree). At 100 TB: embarrassingly parallel, no exchange at all.
    */
  def minhashSignatures(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), call_function("minhash_sig", col("text")).as("_mh"))
      .select(col("doc_id") +: element_at(col("_mh"), 1).as("n_shingles") +:
        (0 until NumHashes).map(i => element_at(col("_mh"), i + 2).as(s"sig_$i")): _*)
  }

  /** The pre-fusion signature build — explode distinct shingle hashes,
    * one hash-aggregate with 64 partial mins. Kept as the spec-pinned
    * reference tree for the fused kernel (the SQL-tree arithmetic the
    * oracle mirrors).
    */
  private[graft] def minhashSignaturesAgg(d: DataFrame): DataFrame = {
    val exploded = d
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
    val hp = col("h") % MinhashPrime
    val sigCols = (0 until NumHashes).map(i =>
      min((hp * hashA(i) + hashB(i)) % MinhashPrime).as(s"sig_$i"))
    exploded.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sigCols: _*)
  }

  /** (doc_id, band_idx, band_hash) — LSH bucketing of the signature.
    * `bandSize` widens/narrows the bands over the same 64 hashes (the
    * recall/precision knob whose 32×2/16×4/8×8 sweep SURVEY.md's round-10
    * handoff records); the default is the production 16×4 configuration
    * every query uses.
    */
  def lshBands(sigs: DataFrame, bandSize: Int = BandSize): DataFrame = {
    require(NumHashes % bandSize == 0,
      s"bandSize $bandSize must divide the $NumHashes-hash signature — a " +
        "non-divisor would silently drop trailing hashes and skew any sweep")
    val bands = (0 until NumHashes / bandSize).map { j =>
      val parts = (0 until bandSize).map(k => col(s"sig_${j * bandSize + k}"))
      struct(lit(j).as("band_idx"), h60Col(concat_ws(",", parts: _*)).as("band_hash"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_hash"))
  }

  /** Oracle fragment: the 64 affine min-hash signature columns off an `hh`
    * shingle-hash list (shared by every LSH oracle below).
    */
  private def sigDefsSql: String = (0 until NumHashes).map(i =>
    s"  list_min(list_transform(hh, h -> ((h % $MinhashPrime) * ${hashA(i)} + ${hashB(i)}) % $MinhashPrime)) AS sig_$i")
    .mkString(",\n")

  /** Oracle fragment: the 16-band h60 bucket rows off a `sigs` relation. */
  private def bandSelectsSql: String = (0 until NumHashes / BandSize).map { j =>
    val parts = (0 until BandSize).map(k => s"sig_${j * BandSize + k}").mkString(", ")
    s"  SELECT doc_id, $j AS band_idx, ${OracleSql.h60(s"concat_ws(',', $parts)")} AS band_hash FROM sigs"
  }.mkString("\n  UNION ALL\n")

  /** Oracle CTEs `sigs` (n_shingles and the 64 min-hash slots) → `bands`
    * (the 16 h60 band buckets) off an `hs` shingle-hash relation. No WITH
    * prefix.
    */
  private[ops] def lshBandCtes: String =
    s"""sigs AS (
       |  SELECT doc_id, len(hh) AS n_shingles,
       |$sigDefsSql
       |  FROM hs
       |), bands AS (
       |$bandSelectsSql
       |)""".stripMargin

  /** [[lshBandCtes]] then `cand`: the distinct band-sharing
    * (doc_id, doc_b) pairs whose ids satisfy `pair` over aliases `a`, `b`.
    */
  private def lshCandCtes(pair: String): String =
    s"""$lshBandCtes, cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND $pair
       |)""".stripMargin

  private def q31OracleSql: String = {
    val checksum = (0 until NumHashes).map(i => s"sig_$i").mkString(" + ")
    s"""$shingleCtes, ${lshCandCtes("a.doc_id <> b.doc_id")}, nc AS (
       |  SELECT doc_id, COUNT(*) AS n FROM cand GROUP BY doc_id
       |)
       |SELECT s.doc_id, s.n_shingles,
       |  $checksum AS sig_checksum,
       |  sig_0, sig_63,
       |  CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_candidates
       |FROM sigs s LEFT JOIN nc ON s.doc_id = nc.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** q31 — MinHash+LSH dup candidates: per-doc signature digest and the
    * number of distinct candidate partners found via band-bucket join.
    * Oracle: the full pipeline (shingles → 64 affine min-hashes → 16-band
    * h60 buckets → self-join) regenerated in DuckDB list SQL.
    */
  val q31 = Q("q31_minhash_lsh", q31OracleSql) { (s, dir) =>
    val sigs = minhashSignatures(docs(s, dir))
    val bands = lshBands(sigs)
    val other = bands.select(col("doc_id").as("doc_b"),
      col("band_idx").as("bi"), col("band_hash").as("bh"))
    val candidates = bands
      .join(other, col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
        col("doc_id") =!= col("doc_b"))
      .select("doc_id", "doc_b").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_candidates"))
    val sigChecksum = (0 until NumHashes).map(i => col(s"sig_$i")).reduce(_ + _)
    sigs.join(candidates, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_shingles"),
        sigChecksum.as("sig_checksum"),
        col("sig_0"), col("sig_63"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .orderBy("doc_id")
  }

  // ── SimHash ───────────────────────────────────────────────────────────

  val SimBits = 60                      // h60 has 60 usable bits
  val SimBandBits = 15                  // 4 bands of 15 bits
  val SimHammingMax = 8

  /** Per-doc 60-bit term-frequency-weighted SimHash (Charikar): every
    * token occurrence votes ±1 per bit, bit set when the sum is positive.
    * ONE fused codegen call per row (`simhash_sig`) — a projection with
    * zero shuffle, like `minhashSignatures`; the n_tokens = 0 filter
    * reproduces the explode-then-aggregate reference tree's
    * drop-empty-docs semantics (and the oracle's `WHERE len(t) > 0`).
    */
  def simhash(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), call_function("simhash_sig", col("text")).as("_sh"))
      .select(col("doc_id"), element_at(col("_sh"), 1).as("n_tokens"),
        element_at(col("_sh"), 2).as("simhash"))
      .filter(col("n_tokens") > 0)
  }

  /** The pre-fusion simhash — explode + 60 conditional sums, signature
    * reassembled as a sum of disjoint powers of two. Spec-pinned
    * reference tree for the fused kernel.
    */
  private[graft] def simhashAgg(d: DataFrame): DataFrame = {
    val exploded = d.select(col("doc_id"),
      explode(ShingleHashes.tokens(col("text"))).as("h"))
    val bitSums = (0 until SimBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"bit_$b"))
    val agg = exploded.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"), bitSums: _*)
    val sig = (0 until SimBits).map(b =>
      when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), col("n_tokens"), sig.as("simhash"))
  }

  /** DuckDB expression for the 60-bit simhash of a token-hash list column
    * named `hh` — the SQL mirror of simhash(), shared by the q32 and q65
    * oracles so the signature definition lives in one place.
    */
  def simhashSumSql: String = (0 until SimBits).map(b =>
    s"    (CASE WHEN list_sum(list_transform(hh, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
    .mkString(" +\n")

  /** Oracle CTEs `${p}tk` → `${p}hs` (token h60 lists of the non-empty
    * docs) → `${p}sigs` (id, n_tokens, simhash) → `${p}bands` (its 15-bit
    * LSH bands) over a relation with an `id` column and `text`. No WITH
    * prefix.
    */
  private[ops] def simhashBandCtes(base: String, p: String = "", id: String = "doc_id"): String =
    s"""${p}tk AS (
       |  SELECT $id, ${OracleSql.tokens()} AS t FROM $base
       |), ${p}hs AS (
       |  SELECT $id, list_transform(t, s -> ${OracleSql.h60("s")}) AS hh
       |  FROM ${p}tk WHERE len(t) > 0
       |), ${p}sigs AS (
       |  SELECT $id, len(hh) AS n_tokens,
       |$simhashSumSql AS simhash
       |  FROM ${p}hs
       |), ${p}bands AS (
       |${OracleSql.bitBandSelectsSql(id, "simhash", s"${p}sigs", SimBandBits, SimBits / SimBandBits)}
       |)""".stripMargin

  private def q32OracleSql: String = {
    s"""WITH ${simhashBandCtes("documents")}, pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, a.simhash AS sim_a, b.doc_id AS doc_b, b.simhash AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id <> b.doc_id
       |), near AS (
       |  SELECT doc_id, COUNT(*) AS n_candidates,
       |    SUM(CASE WHEN bit_count(xor(sim_a, sim_b)) <= $SimHammingMax THEN 1 ELSE 0 END) AS n_near_dups,
       |    MIN(bit_count(xor(sim_a, sim_b))) AS min_hamming
       |  FROM pairs GROUP BY doc_id
       |)
       |SELECT s.doc_id, s.n_tokens, s.simhash,
       |  CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
       |  CAST(COALESCE(n.n_near_dups, 0) AS BIGINT) AS n_near_dups,
       |  CAST(n.min_hamming AS INTEGER) AS min_hamming
       |FROM sigs s LEFT JOIN near n ON s.doc_id = n.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** q32 — SimHash near-dup: 4×15-bit band LSH over the signature, Hamming
    * distance ≤ 8 counts as near-duplicate. Full DuckDB oracle (bit sums
    * spelled out per bit position).
    */
  val q32 = Q("q32_simhash", q32OracleSql) { (s, dir) =>
    val sigs = simhash(docs(s, dir))
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("band_idx"),
          shiftright(col("simhash"), k * SimBandBits)
            .bitwiseAND(lit(((1 << SimBandBits) - 1).toLong)).as("band_val"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_idx"), col("b.band_val"))
    val other = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("band_idx").as("bi"), col("band_val").as("bv"))
    val near = bands
      .join(other, col("band_idx") === col("bi") && col("band_val") === col("bv") &&
        col("doc_id") =!= col("doc_b"))
      .select(col("doc_id"), col("doc_b"),
        bit_count(col("simhash").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_candidates"),
        Det.countIf(col("hamming") <= SimHammingMax).as("n_near_dups"),
        min(col("hamming")).as("min_hamming"))
    sigs.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("simhash"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        col("min_hamming"))
      .orderBy("doc_id")
  }

  /** SimHash band-bucket candidate pairs (doc_id < doc_b, with Hamming
    * distance) at a configurable band width: 15-bit bands (4 bands) catch
    * Hamming ≤ 8 with high recall; 20-bit bands (3 bands) trade recall for
    * far fewer bucket collisions on low-entropy corpora.
    */
  def simhashCandidates(sigs: DataFrame, bandBits: Int = SimBandBits): DataFrame = {
    val nBands = SimBits / bandBits
    val mask = (1L << bandBits) - 1
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nBands).map(k =>
        struct(lit(k).as("band_idx"),
          shiftright(col("simhash"), k * bandBits).bitwiseAND(lit(mask)).as("band_val"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_idx"), col("b.band_val"))
    val other = bands.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("band_idx").as("bi"), col("band_val").as("bv"))
    bands
      .join(other, col("band_idx") === col("bi") && col("band_val") === col("bv") &&
        col("doc_id") < col("doc_b"))
      .select(col("doc_id"), col("doc_b"),
        bit_count(col("simhash").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
  }

  /** The near-dup pipeline wired the way it must run at 100 TB: exact
    * dedup FIRST (identical documents collapse to one representative per
    * content fingerprint — one cheap shuffle), then SimHash banding over
    * representatives only, then the Hamming verify. SURVEY §8's 10× probe
    * measured 27M band-collision pairs on the raw corpus vs density-bounded
    * candidates with this ordering — banding cost is quadratic in bucket
    * occupancy, and exact duplicates are the degenerate occupants. The
    * ScaleOpsSpec pins the bound. Returns near-dup pairs among
    * representatives (doc_id < doc_b, hamming ≤ hammingMax).
    */
  def nearDupPipeline(d: DataFrame, bandBits: Int = SimBandBits,
      hammingMax: Int = SimHammingMax): DataFrame = {
    val reps = d
      .groupBy(md5(TextOps.normalized(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), min_by(col("text"), col("doc_id")).as("text"))
      .select("doc_id", "text")
    simhashCandidates(simhash(reps), bandBits)
      .filter(col("hamming") <= hammingMax)
  }

  // ── Incremental (keep-earliest) LSH dedup ─────────────────────────────

  /** Distinct EARLIER band partners: for each document in `bands`, every
    * distinct pool document with a lower id sharing a band bucket — the
    * asymmetric half of q31's candidate join, and the verdict kernel the
    * streaming band index rides (LshStream): for a batch run pool =
    * bands; for a micro-batch pool = history ∪ the batch itself, and the
    * id ordering makes "earlier" well-defined under id-ordered arrival
    * (the CorpusStream/EmbeddingStream assumption).
    */
  def earlierBandPartners(bands: DataFrame, pool: DataFrame): DataFrame =
    bands.join(
        pool.select(col("doc_id").as("doc_b"),
          col("band_idx").as("bi"), col("band_hash").as("bh")),
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("doc_b") < col("doc_id"))
      .select("doc_id", "doc_b").distinct()

  /** FIRST-SEEN band partners for a micro-batch: every distinct band
    * collider already in the maintained index (history arrived in an
    * EARLIER micro-batch by construction, whatever its id — self rows
    * from a re-delivered file excluded) plus same-batch colliders with a
    * lower id (a batch has no internal arrival order, so the id is the
    * deterministic tiebreak). Under id-ordered arrival every history id
    * is lower than every batch id, so this equals
    * `earlierBandPartners(bands, hist ∪ bands)` bit-for-bit; under
    * OUT-OF-ORDER arrival it is what keeps decisions final — the first
    * arrival survives and a late lower-id collider becomes the
    * duplicate, instead of both copies slipping through the `<` test.
    */
  def firstSeenBandPartners(bands: DataFrame, hist: DataFrame): DataFrame =
    bands.join(
        hist.select(col("doc_id").as("doc_b"),
          col("band_idx").as("bi"), col("band_hash").as("bh")),
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("doc_b") =!= col("doc_id"))
      .select("doc_id", "doc_b")
      .unionByName(
        bands.join(
            bands.select(col("doc_id").as("doc_b"),
              col("band_idx").as("bi"), col("band_hash").as("bh")),
            col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
              col("doc_b") < col("doc_id"))
          .select("doc_id", "doc_b"))
      .distinct()

  /** Keep-earliest verdicts for `ids` (one doc_id column) given the
    * earlier-partner pairs: earliest partner, distinct-partner count,
    * and the dup flag (any earlier band collision). Null-safe for docs
    * with no partners.
    */
  def keepEarliestVerdicts(ids: DataFrame, partners: DataFrame): DataFrame =
    ids.join(
        partners.groupBy("doc_id")
          .agg(count(lit(1)).as("n_earlier"), min(col("doc_b")).as("dup_of")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_earlier"), lit(0L)).as("n_earlier"),
        col("dup_of"),
        col("dup_of").isNotNull.as("is_band_dup"))

  /** Oracle CTEs ending in `verdicts` (doc_id, n_earlier, dup_of,
    * is_band_dup): the keep-earliest band verdict of every row of `base`,
    * a (doc_id, text) relation. No WITH prefix.
    */
  private def keepEarliestCtes(base: String): String =
    s"""${OracleSql.shingleCtes(base)}, ${lshCandCtes("b.doc_id < a.doc_id")}, agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_earlier, MIN(doc_b) AS dup_of
       |  FROM cand GROUP BY doc_id
       |), verdicts AS (
       |  SELECT r.doc_id,
       |    CAST(COALESCE(a.n_earlier, 0) AS BIGINT) AS n_earlier,
       |    a.dup_of,
       |    a.dup_of IS NOT NULL AS is_band_dup
       |  FROM $base r LEFT JOIN agg a ON r.doc_id = a.doc_id
       |)""".stripMargin

  /** q124's oracle over a `corpus` relation (the survivors for q201, a
    * retention window's survivors for q223).
    */
  private[ops] def keepEarliestOracleSql(corpus: String = "documents"): String =
    s"WITH ${keepEarliestCtes(corpus)}\nSELECT * FROM verdicts ORDER BY doc_id"

  /** q124 — keep-earliest MinHash-LSH dedup verdicts: q31's band-bucket
    * candidates made ASYMMETRIC (partners with a lower doc_id only), so
    * every document gets the decision an incremental curation run makes —
    * first arrival survives, later band-colliders point at their earliest
    * partner. This is the batch anchor for the maintained band index:
    * LshStream folds (band_idx, band_hash, doc_id) rows per micro-batch
    * and scores each batch against history ∪ its own lower ids, and the
    * StreamingSpec pins the streamed decisions equal to THIS query under
    * id-ordered arrival. Scale shape: signature build is a zero-shuffle
    * fused projection, the candidate join is an equi-join on
    * (band_idx, band_hash) — work bounded by bucket occupancy (near-dup
    * density), never corpus²; verdicts are one per-doc aggregate.
    */
  val q124 = Q("q124_lsh_keep_earliest", keepEarliestOracleSql()) { (s, dir) =>
    val d = docs(s, dir)
    val bands = lshBands(minhashSignatures(d))
    keepEarliestVerdicts(d.select("doc_id"), earlierBandPartners(bands, bands))
      .orderBy("doc_id")
  }

  /** The oracle CTE chain shared by q127/q133: gate → keepers with
    * fingerprints → exact first-owner verdicts → representative banding →
    * keep-earliest band verdicts. Ends with the `exact` and `verdicts`
    * relations ready for a final SELECT.
    */
  private[ops] def curationVerdictCtes(base: String = "documents"): String = {
    s"""WITH ${OracleSql.gateStatsCtes(base)}, keep_ids AS (
       |  SELECT doc_id FROM gm WHERE ${OracleSql.gateKeepSql}
       |), keepers AS (
       |  SELECT d.doc_id, d.text,
       |    md5(${OracleSql.normalized("d.text")}) AS fp
       |  FROM $base d JOIN keep_ids k ON d.doc_id = k.doc_id
       |), firstown AS (
       |  SELECT fp, MIN(doc_id) AS first FROM keepers GROUP BY fp
       |), exact AS (
       |  SELECT k.doc_id, (f.first < k.doc_id) AS is_exact_dup,
       |    CASE WHEN f.first < k.doc_id THEN f.first END AS exact_dup_of
       |  FROM keepers k JOIN firstown f ON k.fp = f.fp
       |), reps AS (
       |  SELECT k.doc_id, k.text FROM keepers k JOIN firstown f ON k.doc_id = f.first
       |), ${keepEarliestCtes("reps")}""".stripMargin
  }

  private def q127OracleSql: String =
    s"""${curationVerdictCtes()}
       |SELECT e.doc_id, e.is_exact_dup, e.exact_dup_of,
       |  v.n_earlier, v.dup_of, v.is_band_dup
       |FROM exact e LEFT JOIN verdicts v ON e.doc_id = v.doc_id
       |ORDER BY e.doc_id""".stripMargin

  /** q127 — the consolidated CURATION DECISION TABLE as one oracled
    * batch query: gate (q69's integer-exact Gopher rules) → exact
    * first-owner-per-fingerprint verdicts → keep-earliest band verdicts
    * among fingerprint REPRESENTATIVES only (q124's rule, run where the
    * occupancy law says it must run — after exact dedup). One row per
    * gate-keeper with both verdicts; band columns are null for exact
    * dups, which never reach banding. This is CurationStream's decision
    * audit in batch form — the streaming sink's semantics made
    * driver-green, not just spec-pinned. Scale shape: gate is a per-row
    * projection, exact dedup one shuffle on the fingerprint, banding
    * bounded by rep bucket occupancy; the decision join is rep-keyed.
    */
  val q127 = Q("q127_curation_decisions", q127OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    // gate applied as an in-row filter (Corpus.gateKeepOnly): the former
    // doc_id self-join against gateFrame(d) shuffled the text payload
    // twice just to attach a per-row boolean (r14; guide §2.4)
    val keepers = Corpus.gateKeepOnly(d)
      .select(col("doc_id"), col("text"),
        md5(TextOps.normalized(col("text"))).as("fp"))
      .localCheckpoint()
    val firstOwner = keepers.groupBy("fp").agg(min(col("doc_id")).as("first"))
    val exact = keepers.join(firstOwner, Seq("fp"))
      .select(col("doc_id"), (col("first") < col("doc_id")).as("is_exact_dup"),
        when(col("first") < col("doc_id"), col("first")).as("exact_dup_of"))
    val reps = keepers.join(firstOwner,
      keepers("doc_id") === firstOwner("first"), "left_semi")
    val bands = lshBands(minhashSignatures(reps))
    val verdicts = keepEarliestVerdicts(reps.select("doc_id"),
      earlierBandPartners(bands, bands))
    exact.join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"), col("exact_dup_of"),
        col("n_earlier"), col("dup_of"), col("is_band_dup"))
      .orderBy("doc_id")
  }

  /** Build the full curation store family (fp history, band index,
    * decisions, accepted, quarantine) for a corpus dir by running the
    * consolidated CurationStream fold over the whole corpus as one
    * batch — the same code path every micro-batch runs, so the stores
    * ARE the streaming sink's output shape. The five stores commit
    * together as one [[graft.exec.DerivedStore]] root, so a crash between
    * stores never leaves a partial family. Returns the root; stores live
    * at `$root/{fp,index,decisions,accepted,quarantine}`.
    */
  def buildCurationStores(s: SparkSession, dir: String): String =
    graft.exec.DerivedStore.cached("curation_stores", dir, "documents") { root =>
      val d = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
      graft.streaming.CurationStream.processBatch(
        d, graft.streaming.CurationStream.Layout(root), 0L)
    }

  private def q133OracleSql: String =
    s"""${curationVerdictCtes()}, reasons AS (
       |  SELECT d.doc_id, d.source,
       |    CASE WHEN e.doc_id IS NULL THEN 'gate'
       |         WHEN e.is_exact_dup THEN 'exact_dup'
       |         WHEN v.is_band_dup THEN 'near_dup'
       |         ELSE 'accepted' END AS reason
       |  FROM documents d
       |  LEFT JOIN exact e ON d.doc_id = e.doc_id
       |  LEFT JOIN verdicts v ON d.doc_id = v.doc_id
       |), per AS (
       |  SELECT source, reason, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM reasons GROUP BY 1, 2
       |), tot AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source
       |  FROM reasons GROUP BY 1
       |)
       |SELECT p.source, p.reason, p.n, t.n_source,
       |  (p.n * 10000) // t.n_source AS share_bp
       |FROM per p JOIN tot t ON p.source = t.source
       |ORDER BY p.source, p.reason""".stripMargin

  /** q133 — quarantine analytics OFF THE STORES: per-source × per-reason
    * curation outcome rates in exact basis points, computed by reading
    * ONLY the accepted and quarantine stores the expectations write path
    * produced (PlanSpec pins zero `documents` scans in the executed
    * plan) — the report a curation dashboard serves without touching
    * corpus text. 'accepted' rides along as a pseudo-reason so the four
    * shares partition each source's gate input exactly; the oracle
    * recomputes every reason from raw documents, so a row match proves
    * accepted ∪ quarantine = input with no doc dropped or double-stored.
    * Scale shape: the stores carry (source, reason) only — two
    * source-keyed hash aggregates and a broadcast-sized join; the
    * store build itself is the q127 curation pass, amortized across
    * every reader of the artifact family.
    */
  /** The rates kernel shared by q133 and the streaming-parity spec:
    * per-source × per-reason counts and exact basis-point shares over
    * an accepted store and a quarantine store, 'accepted' riding as a
    * pseudo-reason so the shares partition each source's input exactly.
    */
  def quarantineRates(accepted: DataFrame, quarantine: DataFrame): DataFrame = {
    val u = accepted.select(col("source"), lit("accepted").as("reason"))
      .unionByName(quarantine.select(col("source"), col("reason")))
    val per = u.groupBy("source", "reason").agg(count(lit(1)).as("n"))
    val tot = u.groupBy("source").agg(count(lit(1)).as("n_source"))
    per.join(broadcast(tot), Seq("source"))
      .withColumn("share_bp", expr("(n * 10000) div n_source"))
      .orderBy("source", "reason")
  }

  val q133 = Q("q133_quarantine_rates", q133OracleSql) { (s, dir) =>
    val stores = graft.streaming.CurationStream.Layout(buildCurationStores(s, dir))
    quarantineRates(s.read.parquet(stores.accepted), s.read.parquet(stores.quarantine))
  }

  private def q134OracleSql: String =
    s"""${curationVerdictCtes()}, acc AS (
       |  SELECT d.doc_id, d.text
       |  FROM documents d
       |  JOIN exact e ON d.doc_id = e.doc_id
       |  LEFT JOIN verdicts v ON d.doc_id = v.doc_id
       |  WHERE NOT e.is_exact_dup AND NOT COALESCE(v.is_band_dup, FALSE)
       |), ${OracleSql.packedCtes("acc")}
       |SELECT pack_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  (CAST(SUM(n_tokens) AS BIGINT) * 10000) // 2048 AS fill_bp
       |FROM packed
       |GROUP BY pack_id
       |ORDER BY pack_id""".stripMargin

  /** q134 — the pipeline CAPSTONE: pack the CURATED corpus (the accepted
    * store — gate-passing, exact- and near-dup-free) into fixed
    * token-budget training shards. This is the composition a training
    * run actually executes — curation verdicts feed the packer, not raw
    * documents — expressed store-first: the only corpus input is the
    * accepted store (PlanSpec pins zero `documents` scans), tokenization
    * is q55's counting rule, the running total is the distributed
    * PrefixSum (no single-partition window — q56's scale shape), and the
    * oracle re-derives the accepted set from raw documents through the
    * q127 CTE chain, so a row match proves store-served packing ≡
    * recompute-from-scratch packing exactly. fill_bp (basis points of
    * the 2048-token budget, exact integer division) is the shard-health
    * signal a packing dashboard publishes.
    */
  /** The packing kernel shared by q134 and the streaming-parity spec:
    * fixed token-budget shards over any accepted-store frame
    * (doc_id, text), via the distributed PrefixSum.
    */
  def packAccepted(accepted: DataFrame): DataFrame = {
    TextOps.packShards(accepted
        .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")))
      .withColumn("fill_bp", expr("(pack_tokens * 10000) div 2048"))
      .orderBy("pack_id")
  }

  val q134 = Q("q134_curated_packing", q134OracleSql) { (s, dir) =>
    val stores = graft.streaming.CurationStream.Layout(buildCurationStores(s, dir))
    packAccepted(s.read.parquet(stores.accepted))
  }

  // ── n-gram Jaccard ────────────────────────────────────────────────────

  /** Exact Jaccard over shingle sets for candidate pairs found by
    * shared-shingle blocking: J = |A∩B| / (|A| + |B| - |A∩B|), where the
    * intersection size falls out of a (hash → docs) join + pair count —
    * no per-pair set materialization.
    */
  def jaccardPairs(d: DataFrame, minShared: Int = 1): DataFrame = {
    // Each exploded row CARRIES its doc's set size: the old separate
    // `sizes` aggregate re-ran the shingle kernel (its doc_id exchange is
    // a different subtree than the join's h exchange, so ReuseExchange
    // could not dedup it) and paid two join-backs. One extra long per
    // shuffled row buys one fewer kernel pass + two fewer exchanges
    // (guide §2.3 "shuffle keys and metadata" / §2.4) — r14.
    val sh = d.select(col("doc_id"), shingleHashes(col("text")).as("_sh"))
      .select(col("doc_id"), explode(col("_sh")).as("h"),
        size(col("_sh")).cast("long").as("set_size")) // long: the old count-based size's type
    val other = sh.select(col("doc_id").as("doc_b"), col("h").as("h2"),
      col("set_size").as("size_b"))
    sh.join(other, col("h") === col("h2") && col("doc_id") < col("doc_b"))
      .groupBy("doc_id", "doc_b")
      .agg(count(lit(1)).as("n_shared"),
        // constant within the group (one size per doc) — min picks it
        min(col("set_size")).as("size_a"), min(col("size_b")).as("size_b"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("doc_b"), col("n_shared"), col("size_a"), col("size_b"),
        (col("n_shared").cast("double") /
          (col("size_a") + col("size_b") - col("n_shared"))).as("jaccard"))
  }

  /** The pair computation of [[jaccardPairs]] over an ALREADY-exploded
    * (doc_id, h) distinct-shingle frame — shared with the store-served
    * path (q185), whose rows come from the inverted-index artifact
    * instead of a corpus unroll.
    */
  private[graft] def jaccardPairsFromExploded(sh: DataFrame,
      minShared: Int = 1): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("set_size"))
    val other = sh.select(col("doc_id").as("doc_b"), col("h").as("h2"))
    val shared = sh.join(other, col("h") === col("h2") && col("doc_id") < col("doc_b"))
      .groupBy("doc_id", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sizes, Seq("doc_id"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("set_size").as("size_b")), Seq("doc_b"))
      .select(col("doc_id"), col("doc_b"), col("n_shared"), col("set_size").as("size_a"),
        col("size_b"),
        (col("n_shared").cast("double") /
          (col("set_size") + col("size_b") - col("n_shared"))).as("jaccard"))
  }

  /** Exact Jaccard restricted to MinHash-LSH candidate pairs — the 100 TB
    * path for near-duplicate detection. The all-pairs inverted index
    * (jaccardPairs) is exact but Σdf²-quadratic on low-entropy corpora
    * (measured: 10× docs → 100× pairs on the synthetic vocabulary); LSH
    * banding bounds the candidate set by true near-dup density instead,
    * and the exact J = |A∩B| / |A∪B| over the candidates' shingle arrays
    * removes the LSH false positives. False-negative rate is the standard
    * banding curve (1-(1-J^r)^b ≈ 96% at J=0.5 for 16 bands of 4).
    */
  def jaccardLshPairs(d: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(d)
    val bands = lshBands(sigs)
    val other = bands.select(col("doc_id").as("doc_b"),
      col("band_idx").as("bi"), col("band_hash").as("bh"))
    val candidates = bands
      .join(other, col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
        col("doc_id") < col("doc_b"))
      .select("doc_id", "doc_b").distinct()
    val sh = d.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    candidates
      .join(sh, Seq("doc_id"))
      .join(shB, Seq("doc_b"))
      .select(col("doc_id"), col("doc_b"),
        (size(array_intersect(col("sh"), col("sh_b"))).cast("double") /
          size(array_union(col("sh"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  private def q33OracleSql: String =
    s"""$shingleCtes, ${OracleSql.shingleOverlapCtes()}, sym AS (
       |  SELECT doc_id, doc_b, j FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_id AS doc_b, j FROM pairs
       |), best AS (
       |  SELECT doc_id, doc_b, j,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, doc_b) AS rn
       |  FROM sym
       |)
       |SELECT d.doc_id, b.doc_b AS best_match_id,
       |  COALESCE(${OracleSql.round4("b.j")}, 0.0) AS best_jaccard,
       |  (COALESCE(${OracleSql.round4("b.j")}, 0.0) >= 0.8) AS is_near_dup
       |FROM documents d
       |LEFT JOIN (SELECT doc_id, doc_b, j FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q33 — per-doc best n-gram-Jaccard match (docs with no shared shingle
    * report null match, so the output is always one row per document).
    * Oracle: the identical inverted-index formulation in DuckDB.
    */
  val q33 = Q("q33_ngram_jaccard", q33OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val pairs = jaccardPairs(d)
    // symmetrize so every doc sees its best partner — explode both
    // orientations from ONE evaluation of the pair pipeline (a union of
    // pairs with its flipped self would re-run the whole shingle join)
    val sym = pairs.select(explode(array(
        struct(col("doc_id"), col("doc_b"), col("jaccard")),
        struct(col("doc_b").as("doc_id"), col("doc_id").as("doc_b"), col("jaccard")))).as("p"))
      .select(col("p.doc_id"), col("p.doc_b"), col("p.jaccard"))
    // argmax via one hash aggregate (partial+final, map-side combine)
    // instead of a window sort over every candidate pair; the negated
    // doc_b gives the same tie-break as ORDER BY jaccard DESC, doc_b ASC
    val best = sym
      .groupBy("doc_id")
      .agg(max(struct(col("jaccard"), (-col("doc_b")).as("neg_b"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_b")).as("best_match_id"),
        Det.dround(col("m.jaccard"), 4).as("best_jaccard"))
    d.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best_match_id"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        (coalesce(col("best_jaccard"), lit(0.0)) >= 0.8).as("is_near_dup"))
      .orderBy("doc_id")
  }

  /** Cross-corpus shingle overlap — decontamination: for every corpus doc,
    * its worst n-gram containment against a benchmark set. Containment
    * |A∩B| / |A| (not symmetric Jaccard) is the decontamination metric: a
    * short benchmark item fully embedded in a long training doc must
    * score 1.0. Same inverted-index blocking as jaccardPairs, but the
    * join is corpus×benchmark, so work scales with shared-shingle density
    * between the two sets, and the benchmark side (small by nature)
    * broadcasts.
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val c = corpus.select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
    // bench rows carry their set size in-row — the old separate bSizes
    // projection ran the benchmark shingle kernel a second time and paid
    // a third join (guide §2.3/§2.4) — r14
    val b = benchmark.select(col("doc_id").as("bench_id"), shingleHashes(col("text")).as("_sh"))
      .select(col("bench_id"), explode(col("_sh")).as("h2"), size(col("_sh")).as("bench_size"))
    c.join(b, col("h") === col("h2"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"), min(col("bench_size")).as("bench_size"))
      .select(col("doc_id"), col("bench_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("bench_size")).as("containment"))
  }

  /** Oracle CTEs over `hs`: `bench` (doc_id < 50) and `corpus`
    * (doc_id ≥ 50) shingle sets, their unrolled hashes `be`/`ce`, and
    * `shared`, the shingle count of every (doc_id, bench_id) pair that
    * shares one. No WITH prefix.
    */
  private def benchSharedCtes: String =
    """bench AS (
      |  SELECT doc_id AS bench_id, hh FROM hs WHERE doc_id < 50
      |), corpus AS (
      |  SELECT doc_id, hh FROM hs WHERE doc_id >= 50
      |), ce AS (
      |  SELECT doc_id, unnest(hh) AS h FROM corpus
      |), be AS (
      |  SELECT bench_id, unnest(hh) AS h FROM bench
      |), shared AS (
      |  SELECT ce.doc_id, be.bench_id, COUNT(*) AS n_shared
      |  FROM ce JOIN be ON ce.h = be.h
      |  GROUP BY 1, 2
      |)""".stripMargin

  private def q34ContOracleSql: String =
    s"""$shingleCtes, $benchSharedCtes, scored AS (
       |  SELECT s.doc_id, s.bench_id,
       |    CAST(s.n_shared AS DOUBLE) / len(b.hh) AS containment
       |  FROM shared s JOIN bench b ON s.bench_id = b.bench_id
       |), best AS (
       |  SELECT doc_id, bench_id, containment,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY containment DESC, bench_id) AS rn
       |  FROM scored
       |)
       |SELECT doc_id, bench_id AS worst_bench_id,
       |  ${OracleSql.round4("containment")} AS containment,
       |  (${OracleSql.round4("containment")} >= 0.3) AS is_contaminated
       |FROM best WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** q39 — decontamination report: corpus docs (doc_id ≥ 50) scored
    * against the benchmark slice (doc_id < 50); one row per corpus doc
    * that shares any shingle, with its worst containment.
    */
  val q39 = Q("q39_decontamination", q34ContOracleSql) { (s, dir) =>
    val d = docsPlain(s, dir)
    val pairs = contaminationPairs(
      d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
    pairs
      .groupBy("doc_id")
      .agg(max(struct(col("containment"), (-col("bench_id")).as("neg_b"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_b")).as("worst_bench_id"),
        Det.dround(col("m.containment"), 4).as("containment"),
        (Det.dround(col("m.containment"), 4) >= 0.3).as("is_contaminated"))
      .orderBy("doc_id")
  }

  private def q135OracleSql: String =
    s"""$shingleCtes, ${lshCandCtes("a.doc_id < b.doc_id")}, jac AS (
       |  SELECT c.doc_id, c.doc_b,
       |    CAST(len(list_filter(ha.hh, h -> list_contains(hb.hh, h))) AS DOUBLE)
       |      / (len(ha.hh) + len(hb.hh) - len(list_filter(ha.hh, h -> list_contains(hb.hh, h)))) AS j
       |  FROM cand c JOIN hs ha ON c.doc_id = ha.doc_id JOIN hs hb ON c.doc_b = hb.doc_id
       |), strong AS (
       |  SELECT doc_id, doc_b, j FROM jac WHERE j >= 0.5
       |), splits AS (
       |  ${TextOps.splitAssignmentSql}
       |), tagged AS (
       |  SELECT least(s1.split, s2.split) AS split_a, greatest(s1.split, s2.split) AS split_b,
       |    p.doc_id, p.doc_b, p.j
       |  FROM strong p
       |  JOIN splits s1 ON p.doc_id = s1.doc_id
       |  JOIN splits s2 ON p.doc_b = s2.doc_id
       |), docsides AS (
       |  SELECT split_a, split_b, doc_id AS d FROM tagged
       |  UNION
       |  SELECT split_a, split_b, doc_b AS d FROM tagged
       |), dcount AS (
       |  SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM docsides GROUP BY 1, 2
       |)
       |SELECT t.split_a, t.split_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MAX(dc.n_docs) AS n_docs,
       |  ${OracleSql.round4("MAX(t.j)")} AS max_jaccard,
       |  (t.split_a <> t.split_b) AS is_leak
       |FROM tagged t JOIN dcount dc ON t.split_a = dc.split_a AND t.split_b = dc.split_b
       |GROUP BY t.split_a, t.split_b
       |ORDER BY t.split_a, t.split_b""".stripMargin

  /** q135 — train/test split-leakage audit: the near-dup pairs the shipped
    * corpus would carry ACROSS the q55 content-hash split boundaries.
    * Content-hash splitting pins exact duplicates to one split, but
    * NEAR-duplicates hash to unrelated buckets — exactly the residual
    * leakage an eval-integrity audit must quantify before training. The
    * pair generator is the production near-dup path (`jaccardLshPairs`:
    * band-bucket candidates, exact-Jaccard rescore ≥ 0.5 — never
    * corpus²); each pair is then tagged with both sides' split under the
    * SAME rule the corpus ships with (`TextOps.splitAssignment`) and
    * rolled up into the split×split leak matrix: pair count, distinct
    * docs involved, worst Jaccard. Scale shape: the audit joins the
    * (small, density-bounded) pair set against the split projection on
    * doc_id — two equi-joins and a 6-group rollup; no new corpus-sized
    * exchange beyond what the dedup path already pays.
    */
  val q135 = Q("q135_split_leakage", q135OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val splits = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("split"))
    val tagged = jaccardLshPairs(d, 0.5)
      .join(splits.select(col("doc_id"), col("split").as("_sa")), Seq("doc_id"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("_sb")), Seq("doc_b"))
      .select(
        least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"),
        col("doc_id"), col("doc_b"), col("jaccard"))
    val dcount = tagged
      .select(col("split_a"), col("split_b"),
        explode(array(col("doc_id"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_docs"))
    tagged.groupBy("split_a", "split_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        Det.dround(max(col("jaccard")), 4).as("max_jaccard"))
      .join(dcount, Seq("split_a", "split_b"))
      .select(col("split_a"), col("split_b"), col("n_pairs"), col("n_docs"),
        col("max_jaccard"), (col("split_a") =!= col("split_b")).as("is_leak"))
      .orderBy("split_a", "split_b")
  }

  private def q136OracleSql: String =
    s"""WITH ${corpusPosCtesSql(ScrubCorpus)}, bsh AS (
      |  SELECT doc_id, ${OracleSql.shingleSetSql()} AS ss FROM tk WHERE doc_id < 50
      |), be AS (
      |  SELECT doc_id AS bench_id,
      |    unnest(list_transform(ss, s -> ${OracleSql.h60("s")})) AS h
      |  FROM bsh
      |)
      |SELECT ce.doc_id, be.bench_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_hits,
      |  CAST(MIN(ce.pos) AS BIGINT) AS first_pos,
      |  CAST(MAX(ce.pos) AS BIGINT) AS last_pos,
      |  ${OracleSql.round4("CAST(COUNT(*) AS DOUBLE) / MAX(ce.n_pos)")} AS coverage
      |FROM ce JOIN be ON ce.h = be.h
      |GROUP BY 1, 2
      |ORDER BY doc_id, bench_id""".stripMargin

  /** q136 — contamination SPAN localization: q39 says WHICH corpus docs
    * overlap the benchmark slice; this says WHERE. Every corpus document
    * is unrolled into positional 3-shingles (start position → h60), the
    * positions are matched against each benchmark item's distinct shingle
    * set, and each contaminated (doc, bench) pair reports its hit count,
    * first/last matched token position, and position coverage — the spans
    * a surgical-removal pass (cut the span, keep the doc) needs, where
    * doc-level decontamination would discard the whole document. Scale
    * shape: the positional unroll is a per-row projection (O(tokens), no
    * shuffle); the benchmark side is small by nature and BROADCAST, so
    * the only exchange is the per-(doc, bench) aggregate — work scales
    * with shared-shingle density like `contaminationPairs`, never
    * corpus×benchmark. Docs under 3 tokens have no 3-shingle positions
    * and are skipped on the corpus side (the whole-doc fallback shingle
    * exists only for the SET-semantics ops).
    */
  /** Span kernel behind q136, callable on any (doc_id, text) frames: the
    * corpus side unrolls into positional 3-shingle h60s (a per-row
    * projection), the benchmark's distinct shingle sets broadcast, and
    * each contaminated (doc, bench) pair aggregates its hit positions.
    */
  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val pos = corpus
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), (size(col("t")) - 2).cast("long").as("n_pos"),
        explode(expr(
          """transform(sequence(1, size(t) - 2), i -> named_struct(
            |  'pos', CAST(i AS BIGINT),
            |  'h', CAST(conv(substring(md5(array_join(slice(t, i, 3), ' ')), 1, 15), 16, 10) AS BIGINT)))""".stripMargin))
          .as("p"))
      .select(col("doc_id"), col("n_pos"), col("p.pos").as("pos"), col("p.h").as("h"))
    val bench = benchmark
      .select(col("doc_id").as("bench_id"), explode(shingleHashes(col("text"))).as("h"))
    pos.join(broadcast(bench), Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(
        count(lit(1)).as("n_hits"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"),
        Det.dround(count(lit(1)).cast("double") / max(col("n_pos")), 4).as("coverage"))
  }

  val q136 = Q("q136_contamination_spans", q136OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    contaminationSpans(d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
      .orderBy("doc_id", "bench_id")
  }

  /** The scrubbed corpus of the span-scrub oracles: every doc past the
    * benchmark slice.
    */
  private final val ScrubCorpus = "doc_id >= 50"

  /** Oracle fragment: corpus-side positional shingles — `tk` (tokens),
    * `ps`/`ce` (positional 3-shingle h60s and the doc's position count
    * `n_pos`) of the docs matching `corpus`, independent of any benchmark
    * release, so two-release oracles (q142) emit it once.
    */
  private def corpusPosCtesSql(corpus: String): String =
    s"""tk AS (
      |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
      |), ps AS (
      |  SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_pos,
      |    [struct_pack(pos := i, h := ${OracleSql.h60("array_to_string(t[i:i+2], ' ')")}) for i in range(1, len(t) - 1)] AS ph
      |  FROM tk WHERE len(t) >= 3 AND $corpus
      |), ce AS (
      |  SELECT doc_id, n_pos, unnest(ph, recursive := true) FROM ps
      |)""".stripMargin

  /** Oracle fragment: one benchmark release's scrub — hash set, hit
    * positions, scrubbed token list of the docs matching `corpus` — with
    * CTE names prefixed so two releases coexist in one WITH chain.
    * `${p}scrub` is the result.
    */
  private def benchScrubCtesSql(benchPred: String, p: String,
      corpus: String = ScrubCorpus): String =
    s"""${p}bsh AS (
       |  SELECT ${OracleSql.shingleSetSql()} AS ss FROM tk WHERE $benchPred
       |), ${p}ba AS (
       |  SELECT DISTINCT unnest(list_transform(ss, s -> ${OracleSql.h60("s")})) AS h FROM ${p}bsh
       |), ${p}hp AS (
       |  SELECT ce.doc_id, list(ce.pos) AS hp
       |  FROM ce JOIN ${p}ba ON ce.h = ${p}ba.h GROUP BY ce.doc_id
       |), ${p}scrub AS (
       |  SELECT c.doc_id, CAST(len(c.t) AS BIGINT) AS n_tokens,
       |    [c.t[i] for i in range(1, len(c.t) + 1)
       |      if len(list_filter(COALESCE(${p}hp.hp, CAST([] AS BIGINT[])), p -> i >= p AND i <= p + 2)) = 0] AS st
       |  FROM (SELECT * FROM tk WHERE $corpus) c LEFT JOIN ${p}hp ON c.doc_id = ${p}hp.doc_id
       |)""".stripMargin

  /** Oracle CTE chain ending in `scrub` (doc_id, n_tokens, st = scrubbed
    * token list) — shared by q137 and the requalification pass q139.
    */
  private def scrubCtesSql(corpus: String = ScrubCorpus): String =
    s"${corpusPosCtesSql(corpus)}, ${benchScrubCtesSql("doc_id < 50", "", corpus)}"

  private def q137OracleSql: String =
    s"""WITH ${scrubCtesSql()}
      |SELECT doc_id, n_tokens,
      |  n_tokens - CAST(len(st) AS BIGINT) AS n_removed,
      |  CAST(len(st) AS BIGINT) AS n_after,
      |  md5(COALESCE(array_to_string(st, ' '), '')) AS scrubbed_fp,
      |  (n_tokens > CAST(len(st) AS BIGINT)) AS was_contaminated
      |FROM scrub ORDER BY doc_id""".stripMargin

  /** q137 — surgical span scrub: CUT the contamination q136 localized,
    * keep the documents. Every corpus token covered by any 3-shingle
    * matching the UNION of benchmark shingle sets is removed (a hit at
    * position p covers tokens p..p+2; overlapping spans merge by
    * construction of the coverage test), and each doc reports its
    * before/after token counts plus the md5 of the scrubbed token stream
    * — the verifiable artifact a decontamination pass ships where
    * doc-level removal (q39's flag) would discard 95 % of a long doc for
    * a one-line benchmark hit. Hit positions come from q136's kernel
    * shape — positional unroll, HASH-join against the broadcast distinct
    * benchmark set (NOT an in-row array_contains scan, which is
    * O(positions × |bench|) and measured unusable past sf0.01) —
    * collected to one per-doc position list and joined back, so the
    * token filter itself stays an in-row higher-order function. Scale
    * shape: one broadcast join + one per-doc collect + one doc-keyed
    * join — all linear, position lists bounded by hit density. DuckDB
    * NULL trap: array_to_string([]) is NULL there but '' in Spark's
    * array_join, so the oracle COALESCEs before hashing (a
    * fully-scrubbed doc must fingerprint as md5('') in both engines).
    */
  /** The distinct benchmark shingle-hash set of a (doc_id, text) frame —
    * what `ScrubStream.buildBenchArtifact` materializes so the scrub
    * family can serve off an artifact instead of re-deriving it per run.
    */
  def benchShingleHashes(benchmark: DataFrame): DataFrame = {
    benchmark.select(explode(shingleHashes(col("text"))).as("h")).distinct()
  }

  /** Positional 3-shingles of a (doc_id, text) frame: (doc_id, pos, h) —
    * the corpus side of every span operation (q136/q137/q139/q142).
    */
  def positionalShingles(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          """transform(sequence(1, size(t) - 2), i -> named_struct(
            |  'pos', CAST(i AS BIGINT),
            |  'h', CAST(conv(substring(md5(array_join(slice(t, i, 3), ' ')), 1, 15), 16, 10) AS BIGINT)))""".stripMargin))
          .as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.h").as("h"))

  /** The scrub kernel's inner frame against a PREBUILT hash set: the
    * streamed path hands in the artifact's hashes directly.
    */
  def scrubbedTokensByHashes(corpus: DataFrame, benchHashes: DataFrame): DataFrame = {
    val toks = corpus.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val hitPos = positionalShingles(corpus)
      .join(broadcast(benchHashes.select(col("h"))), Seq("h"))
      .groupBy("doc_id").agg(collect_list(col("pos")).as("hp"))
    toks.join(hitPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("hp"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("hp"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        expr("filter(t, (x, i) -> NOT exists(hp, p -> i + 1 >= p AND i + 1 <= p + 2))").as("st"))
  }

  /** The scrub kernel's inner frame: (doc_id, n_tokens, st = scrubbed
    * token array) — q137 projects stats off it, q139 re-gates it.
    */
  def scrubbedTokens(corpus: DataFrame, benchmark: DataFrame): DataFrame =
    scrubbedTokensByHashes(corpus, benchShingleHashes(benchmark))

  /** The per-doc scrub stats projection over a scrubbed-tokens frame. */
  def scrubStats(scrubbed: DataFrame): DataFrame =
    scrubbed
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("st"))).as("n_removed"),
        size(col("st")).cast("long").as("n_after"),
        md5(array_join(col("st"), " ")).as("scrubbed_fp"),
        (col("n_tokens") > size(col("st"))).as("was_contaminated"))

  /** Scrub kernel behind q137, callable on any (doc_id, text) frames. */
  def scrubSpans(corpus: DataFrame, benchmark: DataFrame): DataFrame =
    scrubStats(scrubbedTokens(corpus, benchmark))

  /** The artifact-served scrub — the streamed path's kernel. */
  def scrubSpansByHashes(corpus: DataFrame, benchHashes: DataFrame): DataFrame =
    scrubStats(scrubbedTokensByHashes(corpus, benchHashes))

  /** Incremental re-scrub under a GROWN benchmark (h2 ⊇ h1): a doc's
    * verdict changes only if it has a positional hit in the DELTA
    * h2 ∖ h1, so only delta-touched docs are re-scrubbed (under the FULL
    * h2 — old and new hits both cover tokens) and every other doc keeps
    * its v1 row verbatim. Work scales with the benchmark delta's hit
    * density, never the corpus — the maintenance law a growing benchmark
    * suite needs; the spec pins this union bit-equal to a full h2 scrub.
    * `v1Rows` is the existing verdict store (scrubSpansByHashes(·, h1)
    * shaped); in production it is read, not recomputed.
    */
  def incrementalRescrub(corpus: DataFrame, v1Rows: DataFrame,
      h1: DataFrame, h2: DataFrame): DataFrame =
    rescrubTouched(corpus, v1Rows,
      positionalShingles(corpus)
        .join(broadcast(h2.join(h1, Seq("h"), "left_anti")), Seq("h"))
        .select("doc_id").distinct(),
      h2)

  /** The indexed rotation — `incrementalRescrub` with touched-doc
    * detection served from an inverted (h, doc_id) shingle INDEX instead
    * of re-unrolling corpus text: the `scrubprobe` measured that
    * text-scan detection makes rotation cost a full corpus scan at every
    * delta size (the scrub itself is so cheap that detecting what to
    * re-scrub was the whole bill), so the index is what actually makes
    * rotation delta-keyed — the tiny delta broadcasts against the index
    * scan, text is touched only for re-scrubbed docs.
    */
  def incrementalRescrubIndexed(corpus: DataFrame, v1Rows: DataFrame,
      index: DataFrame, h1: DataFrame, h2: DataFrame): DataFrame =
    rescrubTouched(corpus, v1Rows,
      index.join(broadcast(h2.join(h1, Seq("h"), "left_anti")), Seq("h"))
        .select("doc_id").distinct(),
      h2)

  private def rescrubTouched(corpus: DataFrame, v1Rows: DataFrame,
      touched: DataFrame, h2: DataFrame): DataFrame = {
    val rescrubbed = scrubSpansByHashes(
      corpus.join(touched, Seq("doc_id"), "left_semi"), h2)
    v1Rows.join(touched, Seq("doc_id"), "left_anti").unionByName(rescrubbed)
  }

  val q137 = Q("q137_span_scrub", q137OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    scrubSpans(d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
      .orderBy("doc_id")
  }

  /** Oracle fragment: components → splits → majority, generic over any
    * (doc_id, doc_b) pair relation — q138/q140 run it on the lexical
    * strong pairs, q146 on the lexical ∪ semantic union.
    */
  private[ops] def repairTailCtesSql(pairsRel: String): String =
    s"""edges AS (
       |  SELECT doc_id AS src, doc_b AS dst FROM $pairsRel
       |  UNION ALL SELECT doc_b AS src, doc_id AS dst FROM $pairsRel
       |), verts AS (
       |  SELECT DISTINCT src AS v FROM edges
       |), reach AS (
       |  SELECT v, v AS lab FROM verts
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.v = e.dst
       |), labels AS (
       |  SELECT v AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY v
       |), splits AS (
       |  ${TextOps.splitAssignmentSql}
       |), members AS (
       |  SELECT l.doc_id, l.cluster_id, s.split
       |  FROM labels l JOIN splits s ON l.doc_id = s.doc_id
       |), counts AS (
       |  SELECT cluster_id, split, COUNT(*) AS cnt FROM members GROUP BY 1, 2
       |), maj AS (
       |  SELECT cluster_id, split AS final_split,
       |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY cnt DESC, split ASC) AS rn
       |  FROM counts
       |), rep AS (
       |  SELECT cluster_id, final_split FROM maj WHERE rn = 1
       |)""".stripMargin

  /** Oracle CTE chain (recursive) ending in `members` (clustered doc,
    * cluster_id, current split) and `rep` (cluster_id, final_split) —
    * shared by q138 and the repaired-packing pass q140.
    */
  /** Oracle fragment: the lexical strong-pair chain ending in `strong`
    * (doc_id, doc_b with exact Jaccard ≥ 0.5) — no WITH prefix.
    */
  private[ops] def lexStrongCtesSql: String =
    s"""${OracleSql.shingleCtes()}, ${lshCandCtes("a.doc_id < b.doc_id")}, jac AS (
       |  SELECT c.doc_id, c.doc_b,
       |    CAST(len(list_filter(ha.hh, h -> list_contains(hb.hh, h))) AS DOUBLE)
       |      / (len(ha.hh) + len(hb.hh) - len(list_filter(ha.hh, h -> list_contains(hb.hh, h)))) AS j
       |  FROM cand c JOIN hs ha ON c.doc_id = ha.doc_id JOIN hs hb ON c.doc_b = hb.doc_id
       |), strong AS (
       |  SELECT doc_id, doc_b FROM jac WHERE j >= 0.5
       |)""".stripMargin

  private def leakRepairCtesSql: String =
    s"WITH RECURSIVE $lexStrongCtesSql, ${repairTailCtesSql("strong")}"

  private def q138OracleSql: String =
    s"""$leakRepairCtesSql
       |SELECT m.doc_id, m.cluster_id, m.split, j.final_split,
       |  (m.split <> j.final_split) AS moved
       |FROM members m
       |JOIN rep j ON m.cluster_id = j.cluster_id
       |ORDER BY m.doc_id""".stripMargin

  /** q138 — leak REPAIR policy: q135 finds the near-dup pairs straddling
    * split boundaries; this closes them. Pairs can chain (A≈B≈C across
    * three splits), so the repair unit is the connected COMPONENT of the
    * strong-pair graph (`Cluster.connectedComponents` — the q65 kernel
    * on the Jaccard≥0.5 graph instead of the SimHash graph): every
    * cluster is reassigned wholesale to its majority split (ties break
    * lexicographically — deterministic, engine-independent), which by
    * construction leaves ZERO cross-split near-dup pairs (both ends of
    * every pair are in one component). One row per clustered doc with
    * its old/final split and moved flag; untouched docs keep q55's
    * assignment and never enter the frame. Scale shape: the graph is
    * near-dup pairs only (density-bounded, tiny vs corpus), components
    * run in O(log d) label rounds over it, and the majority vote is a
    * per-cluster rollup over ≤|splits| rows; the oracle recomputes the
    * closure with a recursive CTE, so the LABELS must agree, not just
    * the counts.
    */
  /** Repair kernel behind q138: one row per doc in a strong-pair
    * component — (doc_id, cluster_id, split, final_split, moved).
    */
  def leakRepair(d: DataFrame): DataFrame = {
    val splits = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("split"))
    val pairs = jaccardLshPairs(d, 0.5)
      .select(col("doc_id").as("src"), col("doc_b").as("dst"))
      .localCheckpoint() // the LSH pipeline feeds edges, vertices, AND the CC loop — evaluate once
    majorityRepair(pairs, splits)
      .select(col("doc_id"), col("cluster_id"), col("split"), col("final_split"),
        (col("split") =!= col("final_split")).as("moved"))
  }

  /** Each doc of the pair graph `pairs` (src, dst) with its connected
    * component and that component's majority split (ties to the lowest
    * split name): (cluster_id, doc_id, split, final_split).
    */
  private def majorityRepair(pairs: DataFrame, splits: DataFrame): DataFrame = {
    val verts = pairs.select(col("src").as("id"))
      .union(pairs.select(col("dst").as("id"))).distinct()
    val members = Cluster.connectedComponents(pairs, verts)
      .join(splits, col("id") === col("doc_id"))
      .select(col("doc_id"), col("component").as("cluster_id"), col("split"))
    val majority = members.groupBy("cluster_id", "split").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id").orderBy(col("cnt").desc, col("split").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("split").as("final_split"))
    members.join(majority, Seq("cluster_id"))
  }

  val q138 = Q("q138_leak_repair", q138OracleSql) { (s, dir) =>
    leakRepair(docs(s, dir)).orderBy("doc_id")
  }

  /** Oracle fragment: the q69 gate's keep boolean over any (doc_id, text)
    * relation, CTEs prefixed to stay unique within one WITH chain.
    */
  private def gateKeepCtes(base: String, prefix: String): String = {
    val stop = TextOps.allStop.map("'" + _ + "'").mkString(",")
    s"""${prefix}src AS (
       |  SELECT doc_id,
       |    length(text) AS text_len,
       |    ${OracleSql.tokens()} AS t,
       |    length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
       |  FROM $base
       |), ${prefix}keep AS (
       |  SELECT doc_id,
       |    (len(t) BETWEEN 50 AND 100000
       |      AND 3 * len(t) <= CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT)
       |      AND CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS BIGINT) <= 10 * len(t)
       |      AND 10 * n_punct <= text_len
       |      AND len(list_filter(t, x -> list_contains([$stop], x))) >= 2) AS keep
       |  FROM ${prefix}src
       |)""".stripMargin
  }

  private def q139OracleSql: String =
    s"""WITH ${scrubCtesSql()}, scrubdocs AS (
       |  SELECT doc_id, COALESCE(array_to_string(st, ' '), '') AS text FROM scrub
       |), ${gateKeepCtes("(SELECT doc_id, text FROM documents WHERE doc_id >= 50)", "g1")},
       |${gateKeepCtes("scrubdocs", "g2")}
       |SELECT s.doc_id, s.n_tokens AS n_tokens_before,
       |  s.n_tokens - CAST(len(s.st) AS BIGINT) AS n_removed,
       |  (s.n_tokens > CAST(len(s.st) AS BIGINT)) AS was_contaminated,
       |  g1keep.keep AS keep_before,
       |  g2keep.keep AS keep_after,
       |  (g1keep.keep AND NOT g2keep.keep) AS damaged
       |FROM scrub s
       |JOIN g1keep ON s.doc_id = g1keep.doc_id
       |JOIN g2keep ON s.doc_id = g2keep.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** q139 — scrub REQUALIFICATION: decontaminate → re-gate, the loop a
    * production pipeline closes after q137. Each corpus doc's scrubbed
    * token stream is rebuilt into text and pushed through the IDENTICAL
    * q69 gate (`Corpus.gateFrame` — shared code, not re-derived rules),
    * next to its pre-scrub verdict: `damaged` marks the collateral of
    * decontamination — docs the gate accepted raw but rejects after the
    * benchmark spans are cut (e.g. dropped under the 50-token floor).
    * That column is the scrub policy's cost surface: too-aggressive span
    * removal shows up HERE, not in a silent corpus shrink. Scale shape:
    * q137's kernel plus two per-row gate projections and two doc-keyed
    * joins — nothing new shuffles.
    */
  /** Requalification kernel behind q139, callable on any frames. */
  def scrubRequalify(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val scrubbed = scrubbedTokens(corpus, benchmark)
    val before = Corpus.gateFrame(corpus)
      .select(col("doc_id"), col("keep").as("keep_before"))
    val after = Corpus.gateFrame(
        scrubbed.select(col("doc_id"), array_join(col("st"), " ").as("text")))
      .select(col("doc_id"), col("keep").as("keep_after"))
    scrubbed
      .select(col("doc_id"), col("n_tokens").as("n_tokens_before"),
        (col("n_tokens") - size(col("st"))).as("n_removed"),
        (col("n_tokens") > size(col("st"))).as("was_contaminated"))
      .join(before, Seq("doc_id"))
      .join(after, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens_before"), col("n_removed"),
        col("was_contaminated"), col("keep_before"), col("keep_after"),
        (col("keep_before") && !col("keep_after")).as("damaged"))
  }

  val q139 = Q("q139_scrub_requalify", q139OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    scrubRequalify(d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
      .orderBy("doc_id")
  }

  private def q140OracleSql: String =
    s"""$unifiedRepairCtesSql, fin AS (
       |  SELECT s.doc_id,
       |    COALESCE(j.final_split, s.split) AS split,
       |    COALESCE(m.split <> 'train' AND j.final_split = 'train', FALSE) AS moved_in
       |  FROM splits s
       |  LEFT JOIN members m ON s.doc_id = m.doc_id
       |  LEFT JOIN rep j ON m.cluster_id = j.cluster_id
       |), toks AS (
       |  SELECT d.doc_id, len(${OracleSql.tokens("d.text")}) AS n_tokens,
       |    f.moved_in
       |  FROM documents d JOIN fin f ON d.doc_id = f.doc_id
       |  WHERE f.split = 'train'
       |), packed AS (
       |  SELECT doc_id, n_tokens, moved_in,
       |    ${OracleSql.packIdSql} AS pack_id
       |  FROM toks
       |)
       |SELECT pack_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |  CAST(SUM(CASE WHEN moved_in THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM packed
       |GROUP BY pack_id
       |ORDER BY pack_id""".stripMargin

  /** q140 — repair-aware packing: the audit chain consumed end to end.
    * The training split is q55's assignment WITH the UNIFIED (lexical ∪
    * semantic, q146) cluster repairs applied — packing on the
    * lexical-only repair would ship shards that still leak through the
    * semantic graph — then the repaired train set packs into 2048-token
    * shards exactly as q56 does (`exec.PrefixSum.runningTotal`, never a
    * single-partition global window), each shard reporting how many of
    * its docs were MOVED IN by repair (the lineage a training job audits
    * when a shard's content changes between corpus versions). Scale
    * shape: the union graph's density-bounded component work + one
    * broadcast-joined split override + the two-pass distributed prefix
    * sum.
    */
  val q140 = Q("q140_repaired_packing", q140OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val splits = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("split"))
    val repair = unifiedRepair(s, dir)
      .select(col("doc_id"), col("split").as("old_split"), col("final_split"))
    val fin = splits.join(broadcast(repair), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("final_split"), col("split")).as("split"),
        coalesce(col("old_split") =!= "train" && col("final_split") === "train",
          lit(false)).as("moved_in"))
    val toks = d.select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      .join(fin.filter(col("split") === "train"), Seq("doc_id"))
    TextOps.packShards(toks.select(col("doc_id"), col("n_tokens"), col("moved_in")),
        sum(when(col("moved_in"), 1L).otherwise(0L)).as("n_moved_in"))
      .orderBy("pack_id")
  }

  /** q141's oracle over the corpus docs matching `corpus` (q207 adds the
    * survivor predicate).
    */
  private[ops] def q141OracleSql(corpus: String = ScrubCorpus): String =
    s"""WITH ${scrubCtesSql(corpus)}, srcd AS (
       |  SELECT s.doc_id, d.source, s.n_tokens,
       |    s.n_tokens - CAST(len(s.st) AS BIGINT) AS n_removed
       |  FROM scrub s JOIN documents d ON s.doc_id = d.doc_id
       |), agg AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
       |    CAST(SUM(n_removed) AS BIGINT) AS tokens_removed
       |  FROM srcd GROUP BY source
       |)
       |SELECT source, n_docs, n_contaminated,
       |  (n_contaminated * 10000) // n_docs AS contaminated_bp,
       |  tokens_before, tokens_removed
       |FROM agg ORDER BY source""".stripMargin

  /** q141 — scrub report OFF THE STORE: per-source contamination rates
    * (docs hit, exact basis points, token mass before/removed) computed
    * by reading ONLY the scrub store the streaming sink maintains
    * (`ScrubStream.buildScrubStore` runs the sink's batch path over the
    * corpus once) — the dashboard a decontamination
    * pipeline serves without re-touching corpus text OR the benchmark.
    * The oracle recomputes every number from raw documents through the
    * scrub chain, so a row match proves the store carries exactly the
    * batch q137 verdicts. PlanSpec pins zero `documents` scans. Scale
    * shape: the store has one row per corpus doc with fixed-width
    * columns; the report is one source-keyed hash aggregate over it.
    */
  /** The report kernel shared by q141 and the streaming retention spec:
    * per-source contamination rates over scrub-store rows.
    */
  def scrubReport(rows: DataFrame): DataFrame =
    rows.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("was_contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_tokens")).cast("long").as("tokens_before"),
        sum(col("n_removed")).cast("long").as("tokens_removed"))
      .withColumn("contaminated_bp", expr("(n_contaminated * 10000) div n_docs"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        col("contaminated_bp"), col("tokens_before"), col("tokens_removed"))
      .orderBy("source")

  val q141 = Q("q141_scrub_report", q141OracleSql()) { (s, dir) =>
    val root = graft.streaming.ScrubStream.buildScrubStore(s, dir)
    scrubReport(s.read.parquet(s"$root/rows"))
  }

  private def q142OracleSql: String =
    s"""WITH ${corpusPosCtesSql(ScrubCorpus)},
       |${benchScrubCtesSql("doc_id < 25", "v1")},
       |${benchScrubCtesSql("doc_id < 50", "v2")},
       |per AS (
       |  SELECT d.source,
       |    a.n_tokens - CAST(len(a.st) AS BIGINT) AS nr1,
       |    b.n_tokens - CAST(len(b.st) AS BIGINT) AS nr2
       |  FROM v1scrub a
       |  JOIN v2scrub b ON a.doc_id = b.doc_id
       |  JOIN documents d ON a.doc_id = d.doc_id
       |), agg AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN nr1 = 0 AND nr2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_newly_contaminated,
       |    CAST(SUM(nr2 - nr1) AS BIGINT) AS delta_tokens_removed,
       |    CAST(SUM(nr2) AS BIGINT) AS tokens_removed_v2
       |  FROM per GROUP BY source
       |)
       |SELECT source, n_docs, n_newly_contaminated, delta_tokens_removed, tokens_removed_v2
       |FROM agg ORDER BY source""".stripMargin

  /** q142 — benchmark RELEASE rotation: what changes when the benchmark
    * grows from release v1 (doc_id < 25) to v2 (doc_id < 50)? Per
    * source: docs newly contaminated, extra tokens the scrub now
    * removes, and the total v2 removal mass. The v2 verdicts are built
    * INCREMENTALLY (`incrementalRescrub`): only docs with a positional
    * hit in the hash-set DELTA h2 ∖ h1 are re-scrubbed (under full h2),
    * everyone else keeps their v1 row — so rotating a benchmark release
    * costs work proportional to the delta's hit density, not a corpus
    * re-scan of verdict-identical docs. OpsSpec pins the incremental
    * union bit-equal to a full v2 scrub AND a planted v2-only benchmark
    * item flipping exactly its target doc to newly-contaminated. The
    * oracle computes BOTH releases from scratch, so the report's parity
    * also re-proves the incremental law end-to-end.
    */
  val q142 = Q("q142_bench_release_delta", q142OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val corpus = d.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
    val h1 = benchShingleHashes(d.filter(col("doc_id") < 25)).localCheckpoint()
    val h2 = benchShingleHashes(d.filter(col("doc_id") < 50)).localCheckpoint()
    // ONE corpus unroll serves BOTH releases (r14; guide §1.2 "don't
    // compute twice"): h1 ⊆ h2 structurally (v1's benchmark docs are a
    // subset of v2's), so the positional hits against h2, tagged with
    // h1-membership, carry v1's hit positions too — nr1 counts tokens
    // covered by h1-tagged hits, nr2 by all hits. Bit-equal to the old
    // v1-scrub + incrementalRescrub chain (r13's profile showed its
    // THREE corpus-sized unroll stages; the incremental union equals a
    // full h2 scrub by the OpsSpec-pinned law, and a full h2 scrub's
    // n_removed is exactly nr2). The production rotation-at-delta-cost
    // path lives in q143's store build (incrementalRescrubIndexed),
    // which this report's oracle still proves end to end.
    val hset = h2.join(h1.withColumn("in1", lit(true)), Seq("h"), "left")
      .select(col("h"), coalesce(col("in1"), lit(false)).as("in1"))
    val hp = positionalShingles(corpus)
      .join(broadcast(hset), Seq("h"))
      .groupBy("doc_id").agg(
        collect_list(when(col("in1"), col("pos"))).as("hp1"), // nulls skipped
        collect_list(col("pos")).as("hp2"))
    val emptyPos = expr("CAST(array() AS ARRAY<BIGINT>)")
    def covered(hpCol: String) = expr(
      s"size(filter(t, (x, i) -> exists($hpCol, p -> i + 1 >= p AND i + 1 <= p + 2)))")
      .cast("long")
    val per = corpus.select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .join(hp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("hp1"), emptyPos).as("hp1"),
        coalesce(col("hp2"), emptyPos).as("hp2"))
      .select(col("doc_id"), covered("hp1").as("nr1"), covered("hp2").as("nr2"))
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
    releaseDelta(per)
  }

  /** q142's per-source release delta over per-doc (source, nr1, nr2)
    * removed-token counts under releases v1 and v2.
    */
  private def releaseDelta(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nr1") === 0 && col("nr2") > 0, 1L).otherwise(0L))
          .as("n_newly_contaminated"),
        sum(col("nr2") - col("nr1")).cast("long").as("delta_tokens_removed"),
        sum(col("nr2")).cast("long").as("tokens_removed_v2"))
      .orderBy("source")

  /** q143 — the release rotation SERVED off stores: each benchmark
    * release owns a frozen, content-addressed verdict store
    * (`ScrubStream.buildReleaseScrubStore`; v2's store is built
    * INCREMENTALLY off v1's via `incrementalRescrub`, so the rotation
    * itself already ran at delta cost), and the delta report joins the
    * two stores on doc_id — zero corpus or benchmark scans
    * (PlanSpec-pinned), q142's exact numbers (oracle shared verbatim, so
    * parity PROVES the incrementally-built store carries full-scrub
    * verdicts). This is q133's store-serving discipline applied to
    * decontamination: rotation becomes a pure store operation.
    */
  val q143 = Q("q143_release_delta_served", q142OracleSql) { (s, dir) =>
    val v1Root = graft.streaming.ScrubStream.buildReleaseScrubStore(s, dir, 25L, None)
    val v2Root = graft.streaming.ScrubStream.buildReleaseScrubStore(
      s, dir, 50L, Some((v1Root, 25L)))
    val v1 = s.read.parquet(s"$v1Root/rows")
      .select(col("doc_id"), col("n_removed").as("nr1"))
    val v2 = s.read.parquet(s"$v2Root/rows")
      .select(col("doc_id"), col("source"), col("n_removed").as("nr2"))
    releaseDelta(v1.join(v2, Seq("doc_id")))
  }

  private def q144OracleSql: String = {
    // order-free, engine-reproducible content fingerprint: bit_xor of
    // h60 over each artifact's canonical row key (NOT xxhash — DuckDB
    // lacks it; NOT an integer SUM — DuckDB raises on BIGINT overflow
    // where Spark wraps)
    val scrubRowFp = OracleSql.h60("CAST(doc_id AS VARCHAR) || ':' || " +
      "md5(COALESCE(array_to_string(st, ' '), ''))")
    s"""WITH ${corpusPosCtesSql(ScrubCorpus)},
       |${benchScrubCtesSql("doc_id < 50", "")},
       |${benchScrubCtesSql("doc_id < 25", "v1")},
       |scrub_agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, bit_xor($scrubRowFp) AS fp FROM scrub
       |), v1_agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, bit_xor($scrubRowFp) AS fp FROM v1scrub
       |)
       |SELECT kind, n_rows, content_fp FROM (
       |  SELECT 'bench_hashes' AS kind, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    bit_xor(h) AS content_fp FROM ba
       |  UNION ALL
       |  SELECT 'index_pairs', CAST(COUNT(*) AS BIGINT),
       |    bit_xor(${OracleSql.h60("CAST(h AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")})
       |  FROM (SELECT DISTINCT h, doc_id FROM ce)
       |  UNION ALL SELECT 'release_v1', n, fp FROM v1_agg
       |  UNION ALL SELECT 'release_v2', n, fp FROM scrub_agg
       |  UNION ALL SELECT 'scrub_rows', n, fp FROM scrub_agg
       |)
       |ORDER BY kind""".stripMargin
  }

  /** q144 — the scrub family's ARTIFACT MANIFEST as one oracled row set:
    * every serving artifact (benchmark hash set, verdict store, both
    * release stores, inverted shingle index) reports its row count, and
    * the oracle re-derives what each count MUST be from raw documents —
    * so a green row proves the corresponding artifact is complete (every
    * bench shingle present, one verdict row per corpus doc in the store
    * and in BOTH release stores including the incrementally-built one,
    * the full distinct (h, doc_id) index). This is the "is the whole
    * serving surface current" call the sidecar protocol answers for the
    * vector indexes, promoted to a cross-artifact oracled query; the
    * build calls are marker-amortized, and the manifest itself scans
    * only artifacts (PlanSpec pins zero `documents` scans).
    */
  val q144 = Q("q144_artifact_manifest", q144OracleSql) { (s, dir) =>
    import graft.streaming.ScrubStream
    val benchRoot = ScrubStream.buildBenchArtifact(s, dir)
    val storeRoot = ScrubStream.buildScrubStore(s, dir)
    val idxRoot = ScrubStream.buildShingleIndex(s, dir)
    val v1Root = ScrubStream.buildReleaseScrubStore(s, dir, 25L, None)
    val v2Root = ScrubStream.buildReleaseScrubStore(s, dir, 50L, Some((v1Root, 25L)))
    // canonical row key per artifact kind; fingerprint = bit_xor of its
    // h60 — order-free and identical to the oracle's algebra
    val scrubKey = h60Col(concat(col("doc_id").cast("string"), lit(":"), col("scrubbed_fp")))
    val pairKey = h60Col(concat(col("h").cast("string"), lit(":"), col("doc_id").cast("string")))
    Seq(
      ("bench_hashes", s"$benchRoot/hashes", col("h")),
      ("index_pairs", s"$idxRoot/pairs", pairKey),
      ("release_v1", s"$v1Root/rows", scrubKey),
      ("release_v2", s"$v2Root/rows", scrubKey),
      ("scrub_rows", s"$storeRoot/rows", scrubKey))
      .map { case (kind, path, key) =>
        s.read.parquet(path).select(key.as("__fp"))
          .agg(count(lit(1)).as("n_rows"), expr("bit_xor(__fp)").as("content_fp"))
          .select(lit(kind).as("kind"), col("n_rows"), col("content_fp"))
      }
      .reduce(_.unionByName(_))
      .orderBy("kind")
  }

  /** Oracle CTE chain (recursive) for the UNIFIED repair: lexical ∪
    * semantic pairs → components → majority — `members`/`rep` ready,
    * shared by q146 and the unified packing q140.
    */
  private def unifiedRepairCtesSql: String =
    s"""WITH RECURSIVE $lexStrongCtesSql,
       |${Similarity.semStrongCtesSql},
       |allpairs AS (
       |  -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE
       |  -- DuckDB treats a CTE's top-level UNION as the (non-deduplicating)
       |  -- anchor/step form even when the CTE never self-references
       |  SELECT DISTINCT doc_id, doc_b FROM (
       |    SELECT doc_id, doc_b FROM strong
       |    UNION ALL SELECT doc_id, doc_b FROM semstrong)
       |), ${repairTailCtesSql("allpairs")}""".stripMargin

  private def q146OracleSql: String =
    s"""$unifiedRepairCtesSql,
       |lexdocs AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id FROM strong UNION ALL SELECT doc_b FROM strong)
       |), semdocs AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id FROM semstrong UNION ALL SELECT doc_b FROM semstrong)
       |)
       |SELECT m.doc_id, m.cluster_id, m.split, j.final_split,
       |  (m.split <> j.final_split) AS moved,
       |  (ld.doc_id IS NOT NULL) AS in_lexical,
       |  (sd.doc_id IS NOT NULL) AS in_semantic
       |FROM members m
       |JOIN rep j ON m.cluster_id = j.cluster_id
       |LEFT JOIN lexdocs ld ON m.doc_id = ld.doc_id
       |LEFT JOIN semdocs sd ON m.doc_id = sd.doc_id
       |ORDER BY m.doc_id""".stripMargin

  /** q146 — UNIFIED leak repair: one assignment closing BOTH audits.
    * The lexical (q135) and semantic (q145) pair graphs are unioned and
    * repaired as one component structure — necessary because the graphs
    * CHAIN THROUGH each other (doc A lexically near B, B semantically
    * near C: repairing either graph alone can leave the other leaking
    * through the shared doc), so the repair unit must be the component
    * of the UNION. Same majority rule as q138; each doc also reports
    * which graph(s) pulled it in (`in_lexical`/`in_semantic`) — the
    * docs with only `in_semantic` are exactly the repairs a
    * lexical-only pipeline would have missed. The spec re-audits both
    * pair sets under the final assignment to zero.
    */
  /** The unified-repair kernel: one row per doc in a component of the
    * lexical ∪ semantic pair graph — (doc_id, cluster_id, split,
    * final_split, in_lexical, in_semantic). Shared by q146 and the
    * unified packing q140.
    */
  def unifiedRepair(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // each pair pipeline feeds the union AND its provenance flag —
    // evaluate once
    val lex = jaccardLshPairs(d, 0.5).select("doc_id", "doc_b").localCheckpoint()
    val sem = Similarity.semanticStrongPairs(s, dir).localCheckpoint()
    val pairs = lex.unionByName(sem).distinct()
      .select(col("doc_id").as("src"), col("doc_b").as("dst"))
      .localCheckpoint() // feeds edges, vertices, the CC loop, and both flags
    val splits = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("split"))
    val lexDocs = lex.select(col("doc_id")).union(lex.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("in_lexical", lit(true))
    val semDocs = sem.select(col("doc_id")).union(sem.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("in_semantic", lit(true))
    majorityRepair(pairs, splits)
      .join(lexDocs, Seq("doc_id"), "left")
      .join(semDocs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"), col("split"), col("final_split"),
        coalesce(col("in_lexical"), lit(false)).as("in_lexical"),
        coalesce(col("in_semantic"), lit(false)).as("in_semantic"))
  }

  val q146 = Q("q146_unified_leak_repair", q146OracleSql) { (s, dir) =>
    unifiedRepair(s, dir)
      .select(col("doc_id"), col("cluster_id"), col("split"), col("final_split"),
        (col("split") =!= col("final_split")).as("moved"),
        col("in_lexical"), col("in_semantic"))
      .orderBy("doc_id")
  }

  private def q147OracleSql: String =
    s"""WITH ${scrubCtesSql()}, scrubdocs AS (
       |  SELECT doc_id, COALESCE(array_to_string(st, ' '), '') AS text FROM scrub
       |), ${gateKeepCtes("scrubdocs", "g2")},
       |keep AS (
       |  SELECT s.doc_id, CAST(len(s.st) AS BIGINT) AS n_tokens,
       |    (s.n_tokens > CAST(len(s.st) AS BIGINT)) AS was_scrubbed
       |  FROM scrub s JOIN g2keep g ON s.doc_id = g.doc_id
       |  WHERE g.keep
       |), packed AS (
       |  SELECT doc_id, n_tokens, was_scrubbed,
       |    ${OracleSql.packIdSql} AS pack_id
       |  FROM keep
       |)
       |SELECT pack_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       |  CAST(SUM(CASE WHEN was_scrubbed THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed_docs,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM packed
       |GROUP BY pack_id
       |ORDER BY pack_id""".stripMargin

  /** q147 — the decontaminate → requalify → pack loop closed as one
    * oracled chain: q137 cuts the benchmark spans, q139's gate re-admits
    * the survivors, and the KEEPERS pack into 2048-token training shards
    * on their POST-scrub token counts (packing on pre-scrub counts would
    * misbudget every scrubbed doc) — q56's `exec.PrefixSum` shape, with
    * each shard reporting how many of its docs were surgically scrubbed
    * (the lineage distinguishing "clean by origin" from "clean by
    * scalpel"). Scale shape: the scrub kernel + one per-row gate + the
    * two-pass distributed prefix sum; no single-partition window
    * (PlanSpec-pinned).
    */
  val q147 = Q("q147_scrubbed_packing", q147OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val keep = scrubRequalify(d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
      .filter(col("keep_after"))
      .select(col("doc_id"),
        (col("n_tokens_before") - col("n_removed")).as("n_tokens"),
        (col("n_removed") > 0).as("was_scrubbed"))
    TextOps.packShards(keep.select(col("doc_id"), col("n_tokens"), col("was_scrubbed")),
        sum(when(col("was_scrubbed"), 1L).otherwise(0L)).as("n_scrubbed_docs"))
      .orderBy("pack_id")
  }

  // ── q171: content-defined chunking dedup ──────────────────────────────

  /** Expected chunk length in tokens: a cut lands after token i when the
    * token's h60 is ≡ 0 (mod this), so boundaries move with CONTENT, not
    * position — an insertion shifts at most its own chunk, unlike q48's
    * fixed windows where one inserted token re-keys every window after it.
    */
  val CdcDivisor = 16L

  /** q171's oracle over a `corpus` relation (q210: the survivors). */
  private[ops] def q171OracleSql(corpus: String = "documents"): String =
    s"""WITH tk AS (
       |  SELECT doc_id, source, ${OracleSql.tokens()} AS t FROM $corpus
       |), hs AS (
       |  SELECT doc_id, source, t,
       |    list_transform(t, s -> ${OracleSql.h60("s")}) AS hh
       |  FROM tk WHERE len(t) > 0
       |), cu AS (
       |  SELECT doc_id, source, t,
       |    list_sort(list_distinct(list_concat(
       |      list_filter(range(1, len(t) + 1), i -> hh[i] % $CdcDivisor = 0),
       |      [len(t)]))) AS cuts
       |  FROM hs
       |), ch AS (
       |  SELECT doc_id, source,
       |    unnest(list_transform(range(1, len(cuts) + 1), j -> struct_pack(
       |      fp := ${OracleSql.h60("array_to_string(t[(CASE WHEN j = 1 THEN 1 ELSE cuts[j-1] + 1 END):(cuts[j])], ' ')")},
       |      ln := cuts[j] - (CASE WHEN j = 1 THEN 1 ELSE cuts[j-1] + 1 END) + 1))) AS c
       |  FROM cu
       |), ex AS (
       |  SELECT source, c.fp AS fp, CAST(c.ln AS BIGINT) AS ln FROM ch
       |), cnt AS (
       |  SELECT fp, COUNT(*) AS n_inst FROM ex GROUP BY fp
       |), nd AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM hs GROUP BY source
       |)
       |SELECT e.source, MAX(nd.n_docs) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(e.ln) AS BIGINT) AS sum_chunk_tokens,
       |  CAST(SUM(CASE WHEN c.n_inst >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_instances,
       |  CAST(SUM(CASE WHEN c.n_inst >= 2 THEN e.ln ELSE 0 END) * 10000
       |    // SUM(e.ln) AS BIGINT) AS dup_token_share_bp
       |FROM ex e JOIN cnt c ON e.fp = c.fp JOIN nd ON e.source = nd.source
       |GROUP BY e.source ORDER BY e.source""".stripMargin

  /** q171 — content-defined chunking (CDC) dedup, the FastCDC/rsync idea
    * applied to corpus text: cut each document after every token whose
    * hash is ≡ 0 mod [[CdcDivisor]] (expected chunk ≈ 16 tokens), so the
    * chunking is a COMPLETE partition of the document with
    * content-defined boundaries — an edit reshapes only the chunk it
    * touches, where q48's fixed windows re-key everything downstream of
    * an insertion and q96's winnowing SAMPLES fingerprints rather than
    * partitioning. Each chunk's h60 fingerprint dedups across the whole
    * corpus; the report is per-source duplicated-chunk instances and the
    * duplicated-token share in exact basis points — the sub-document
    * duplication mass that whole-doc fingerprints (q30) cannot see.
    * Scale shape: chunking is in-row HOF work (no shuffle), then one
    * hash aggregate on chunk_fp and one bounded per-source rollup —
    * q48's two-shuffle law with a ~CdcDivisor× smaller fingerprint
    * table than per-token indexes.
    */
  /** The CDC partition of every tokenized document: one row per chunk —
    * (doc_id, source, fp, ln). In-row HOF work only, no shuffle.
    */
  private[graft] def cdcChunks(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("t"),
        ShingleHashes.tokens(col("text")).as("hh"))
      .filter(size(col("t")) > 0)
      .withColumn("cuts", array_union(
        filter(sequence(lit(1), size(col("t"))),
          i => element_at(col("hh"), i) % CdcDivisor === 0),
        array(size(col("t")))))
      .select(col("doc_id"), col("source"), explode(transform(
        sequence(lit(1), size(col("cuts"))), j => {
          val st = when(j === 1, lit(1))
            .otherwise(element_at(col("cuts"), j - 1) + 1)
          val en = element_at(col("cuts"), j)
          struct(
            h60Col(array_join(slice(col("t"), st, en - st + 1), " ")).as("fp"),
            (en - st + 1).cast("long").as("ln"))
        })).as("c"))
      .select(col("doc_id"), col("source"), col("c.fp").as("fp"), col("c.ln").as("ln"))
  }

  /** (fp, source) chunk cells off a chunk frame: instance count (SUM-
    * mergeable across batches) and the chunk's token length (a constant
    * attribute of the fp — MIN is the associative carrier). The streamed
    * store's schema.
    */
  private[graft] def cdcCellsOf(chunks: DataFrame): DataFrame =
    chunks.groupBy("fp", "source")
      .agg(count(lit(1)).cast("long").as("n"), min(col("ln")).cast("long").as("ln"))

  /** The q171 report off (fp, source, n, ln) cells + per-source doc
    * counts — shared by batch q171 and the streamed chunk-cell serving
    * path. Dup verdicts re-derive from the cells (global n_inst = Σ n
    * over sources), so the report is exact off any fold of the cells.
    */
  private[graft] def cdcReportFromCells(cells: DataFrame, nd: DataFrame): DataFrame = {
    val glob = cells.groupBy("fp").agg(sum(col("n")).cast("long").as("n_inst"))
    cells.join(glob, Seq("fp"))
      .groupBy("source")
      .agg(
        sum(col("n")).cast("long").as("n_chunks"),
        sum(col("n") * col("ln")).cast("long").as("sum_chunk_tokens"),
        sum(when(col("n_inst") >= 2, col("n")).otherwise(0L)).cast("long")
          .as("n_dup_instances"),
        sum(when(col("n_inst") >= 2, col("n") * col("ln")).otherwise(0L)).cast("long")
          .as("dup_ln"))
      .join(broadcast(nd), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chunks"), col("sum_chunk_tokens"),
        col("n_dup_instances"),
        expr("(dup_ln * 10000) div sum_chunk_tokens").as("dup_token_share_bp"))
      .orderBy("source")
  }

  val q171 = Q("q171_cdc_chunks", q171OracleSql()) { (s, dir) =>
    val ex = cdcChunks(docs(s, dir)).localCheckpoint()
    val nd = ex.select("source", "doc_id").distinct()
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    cdcReportFromCells(cdcCellsOf(ex), nd)
  }

  // ── q172: dedup-signal agreement matrix ───────────────────────────────

  private def q172OracleSql: String =
    s"""WITH $lexStrongCtesSql, ${simhashBandCtes("documents", "sim")}, simnear AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS doc_b
       |  FROM simbands a JOIN simbands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHammingMax
       |), ${Similarity.semStrongCtesSql}, semnorm AS (
       |  SELECT least(doc_id, doc_b) AS doc_id, greatest(doc_id, doc_b) AS doc_b FROM semstrong
       |), u AS (
       |  SELECT doc_id, doc_b, 1 AS m FROM strong
       |  UNION ALL SELECT doc_id, doc_b, 2 AS m FROM simnear
       |  UNION ALL SELECT doc_id, doc_b, 4 AS m FROM semnorm
       |), masks AS (
       |  SELECT doc_id, doc_b, CAST(SUM(m) AS BIGINT) AS mask FROM u GROUP BY 1, 2
       |)
       |SELECT mask,
       |  concat_ws(',',
       |    CASE WHEN mask & 1 = 1 THEN 'lex' END,
       |    CASE WHEN mask & 2 = 2 THEN 'sim' END,
       |    CASE WHEN mask & 4 = 4 THEN 'sem' END) AS methods,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM masks GROUP BY mask ORDER BY mask""".stripMargin

  /** q172 — dedup-signal agreement matrix: the threshold-tuning question
    * a curation team asks before trusting any one near-dup method —
    * which pairs do MinHash-verified Jaccard (≥ 0.5), SimHash (Hamming ≤
    * 8), and embedding cosine (≥ the SemDeDup threshold) each find, and
    * where do they agree? Every method's verified pair set (each already
    * bucket-blocked, never all-pairs) unions into one (a, b) frame with
    * a method bit; the report is the 7-row mask histogram — mask 7 =
    * found by all three, masks 1/2/4 = the pairs only one signal sees
    * (lexical paraphrases SimHash misses, semantic pairs no lexical
    * method can see, …). Scale shape: three candidate-bounded pair
    * pipelines + one hash aggregate on (a, b) + a 7-row rollup; the
    * output is method-count-bounded, never corpus-sized.
    */
  val q172 = Q("q172_dedup_signal_agreement", q172OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val lex = jaccardLshPairs(d, 0.5)
      .select(col("doc_id"), col("doc_b")).withColumn("m", lit(1L))
    val sim = simhashCandidates(simhash(d))
      .filter(col("hamming") <= SimHammingMax)
      .select(col("doc_id"), col("doc_b")).withColumn("m", lit(2L))
    val sem = Similarity.semanticStrongPairs(s, dir)
      .select(least(col("doc_id"), col("doc_b")).as("doc_id"),
        greatest(col("doc_id"), col("doc_b")).as("doc_b"))
      .withColumn("m", lit(4L))
    lex.unionByName(sim).unionByName(sem)
      .groupBy("doc_id", "doc_b").agg(sum(col("m")).cast("long").as("mask"))
      .groupBy("mask")
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("mask"),
        concat_ws(",",
          when(col("mask").bitwiseAND(1) === 1, "lex"),
          when(col("mask").bitwiseAND(2) === 2, "sim"),
          when(col("mask").bitwiseAND(4) === 4, "sem")).as("methods"),
        col("n_pairs"))
      .orderBy("mask")
  }

  // ── q184: asymmetric containment detection ────────────────────────────

  private def q184OracleSql: String = s"$shingleCtes, ${containmentTailSql("documents")}"

  /** The containment rollup over a (doc_id, doc_b, n_shared, size_a,
    * size_b, jaccard) undirected-pair frame + a doc_id spine: shared by
    * q184 (pairs computed inline) and q185 (pairs off the index store).
    */
  private[graft] def containmentBest(pairs: DataFrame, spine: DataFrame): DataFrame = {
    // symmetrize with the DIRECTION-specific normalizer: c(A→B) = |A∩B|/|A|
    // — a short doc fully embedded in a long one scores 1.0 here while
    // its Jaccard is tiny, which is exactly the pair Jaccard dedup misses
    val sym = pairs.select(explode(array(
        struct(col("doc_id"), col("doc_b"),
          (col("n_shared").cast("double") / col("size_a")).as("c"), col("jaccard")),
        struct(col("doc_b").as("doc_id"), col("doc_id").as("doc_b"),
          (col("n_shared").cast("double") / col("size_b")).as("c"), col("jaccard")))).as("p"))
      .select(col("p.doc_id"), col("p.doc_b"), col("p.c"), col("p.jaccard"))
    val best = sym
      .groupBy("doc_id")
      .agg(max(struct(col("c"), (-col("doc_b")).as("neg_b"), col("jaccard"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_b")).as("contained_in"),
        Det.dround(col("m.c"), 4).as("containment"),
        Det.dround(col("m.jaccard"), 4).as("jaccard_at_best"))
    spine.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("contained_in"),
        coalesce(col("containment"), lit(0.0)).as("containment"),
        coalesce(col("jaccard_at_best"), lit(0.0)).as("jaccard_at_best"),
        (coalesce(col("containment"), lit(0.0)) >= 0.9).as("is_contained"),
        (coalesce(col("containment"), lit(0.0)) >= 0.9 &&
          coalesce(col("jaccard_at_best"), lit(0.0)) < 0.5).as("missed_by_jaccard"))
      .orderBy("doc_id")
  }

  /** q184's per-doc containment rollup over any documents frame. */
  private[graft] def containmentOf(d: DataFrame): DataFrame =
    containmentBest(jaccardPairs(d), d)

  /** q184 — asymmetric CONTAINMENT detection: for every doc, its best
    * containment c(A→B) = |A∩B|/|A| over shingle sets — the metric that
    * catches a short document EMBEDDED in a long one (quotation,
    * excerpt, page-with-boilerplate), where symmetric Jaccard stays
    * tiny and BOTH the q31 MinHash-LSH bands and q33's Jaccard verdicts
    * structurally miss it (banding recall is a function of J, and J → 0
    * as the host grows). `missed_by_jaccard` isolates exactly those
    * pairs. Candidates ride the same shingle inverted index as q33 —
    * the honest path for containment, because no symmetric sketch can
    * block for an asymmetric measure; at 100 TB the df-capped index
    * (q48's discipline) bounds the join. One argmax hash aggregate per
    * direction, tie-broken like q33.
    */
  val q184 = Q("q184_containment_dedup", q184OracleSql) { (s, dir) =>
    containmentOf(docs(s, dir))
  }

  // ── q185: containment served off the shingle-index store ──────────────

  private def q185OracleSql: String = containmentOracleSql("doc_id >= 50")

  /** q185's oracle parameterized by the corpus bound — q198 reuses it at
    * the release boundary, q218 at a retention window over survivors.
    */
  private[ops] def containmentOracleSql(corpusWhere: String): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents WHERE $corpusWhere
       |), tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM corpus
       |), sh AS (
       |  SELECT doc_id, ${OracleSql.shingleSetSql()} AS ss FROM tk WHERE len(t) >= 3
       |), hs AS (
       |  SELECT doc_id, list_transform(ss, s -> ${OracleSql.h60("s")}) AS hh FROM sh
       |), ${containmentTailSql("corpus")}""".stripMargin

  /** Oracle tail of the containment oracles: [[OracleSql.shingleOverlapCtes]] over
    * `hs`, each doc's best directed containment |A∩B|/|A|, and one
    * verdict row per doc of the `spine` relation.
    */
  private def containmentTailSql(spine: String): String =
    s"""${OracleSql.shingleOverlapCtes()}, sym AS (
       |  SELECT doc_id, doc_b, CAST(n_shared AS DOUBLE) / sa AS c, j FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_id AS doc_b, CAST(n_shared AS DOUBLE) / sb AS c, j
       |  FROM pairs
       |), best AS (
       |  SELECT doc_id, doc_b, c, j,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, doc_b) AS rn
       |  FROM sym
       |)
       |SELECT d.doc_id, b.doc_b AS contained_in,
       |  COALESCE(${OracleSql.round4("b.c")}, 0.0) AS containment,
       |  COALESCE(${OracleSql.round4("b.j")}, 0.0) AS jaccard_at_best,
       |  (COALESCE(${OracleSql.round4("b.c")}, 0.0) >= 0.9) AS is_contained,
       |  (COALESCE(${OracleSql.round4("b.c")}, 0.0) >= 0.9
       |    AND COALESCE(${OracleSql.round4("b.j")}, 0.0) < 0.5) AS missed_by_jaccard
       |FROM $spine d
       |LEFT JOIN (SELECT doc_id, doc_b, c, j FROM best WHERE rn = 1) b
       |  ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q185 — q184's containment SERVED off the shingle-index STORE: the
    * (h, doc_id) inverted index `ScrubStream.buildShingleIndex` already
    * maintains for benchmark-release rotation carries everything
    * containment needs — |A| is the per-doc row count, |A∩B| the pair
    * count of the h self-join — so the verdicts come from the artifact
    * alone, with NO corpus text unroll at query time (the documents scan
    * contributes only the doc_id spine). The store's corpus is
    * doc_id ≥ 50 (benchmark rows excluded) with < 3-token docs absent
    * (positional shingles need a full window; they surface as
    * containment 0 on the spine, exactly like docs with no candidates).
    * Same rollup code as q184 ([[containmentBest]]). At 100 TB the index
    * is the already-paid scrub-rotation artifact, so containment
    * monitoring costs one self-join on it — df-capping (q48's
    * discipline) bounds the join on low-entropy corpora.
    */
  val q185 = Q("q185_containment_served", q185OracleSql) { (s, dir) =>
    val root = graft.streaming.ScrubStream.buildShingleIndex(s, dir)
    val idx = s.read.parquet(s"$root/pairs").select("doc_id", "h")
    containmentBest(jaccardPairsFromExploded(idx),
      docs(s, dir).filter(col("doc_id") >= 50))
  }

  // ── q198: containment at a release pin (served off the delta store) ───

  private def q198OracleSql: String = containmentOracleSql(
    "doc_id >= 50 AND doc_id < (SELECT MAX(doc_id) // 2 FROM documents)")

  /** q198 — q185's containment AS OF a RELEASE: the delta-structured
    * shingle-index store (one partition per landing, q183's max/2
    * release convention) served at pin `upto = 0` reproduces the first
    * release's containment table exactly — the LM and diversity stores'
    * release-pin mechanism extended to the dedup surface, so "what did
    * containment look like before this ingest" is a store read, not a
    * recompute against a historical corpus snapshot. Oracle: the q185
    * SQL with the corpus bounded at the release boundary. At 100 TB the
    * pin is partition pruning on batch_id — the serving cost is the
    * pinned slice, not the history.
    */
  val q198 = Q("q198_containment_release", q198OracleSql) { (s, dir) =>
    val (deltaDir, cut) = graft.streaming.ScrubStream.buildShingleDeltaStore(s, dir)
    graft.streaming.ScrubStream.containmentFromDeltas(s, deltaDir,
      docs(s, dir).filter(col("doc_id") >= 50 && col("doc_id") < cut),
      upto = 0L)
  }

  // ── q199: containment-over-time trend off the landing registry ────────

  /** q199's oracle over the corpus docs matching `corpus` (q206 adds the
    * survivor predicate).
    */
  private[ops] def q199OracleSql(corpus: String = "doc_id >= 50"): String = {
    def landing(p: Int, where: String) =
      s"""SELECT $p AS batch_id, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN is_contained THEN 1 ELSE 0 END) AS BIGINT) AS n_contained,
         |  CAST(SUM(CAST(FLOOR(containment * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS mass_fp
         |FROM (${containmentOracleSql(where)})""".stripMargin
    val q = "(SELECT MAX(doc_id) // 4 FROM documents)"
    val wheres = (1 to 3).map(k => s"$corpus AND doc_id < $k * $q") :+ corpus
    s"""WITH per AS (
       |${wheres.zipWithIndex.map { case (w, p) => landing(p, w) }.mkString("\nUNION ALL\n")}
       |)
       |SELECT a.batch_id, a.n_docs, a.n_contained, a.mass_fp,
       |  a.n_docs - COALESCE(b.n_docs, 0) AS new_docs,
       |  a.n_contained - COALESCE(b.n_contained, 0) AS new_contained,
       |  a.mass_fp - COALESCE(b.mass_fp, 0) AS new_mass_fp
       |FROM per a LEFT JOIN per b ON b.batch_id = a.batch_id - 1
       |ORDER BY a.batch_id""".stripMargin
  }

  /** q199 — containment-over-TIME: q198 serves ONE pin; this composes
    * the store's landing registry with per-pin containment into the
    * trend table an operator actually reads after each ingest — per
    * landing, the corpus-as-of size, how many docs are contained, the
    * exact-integer containment mass, and the `new_*` deltas against the
    * previous landing (new containment mass per landing). Four quartile
    * landings ([[graft.streaming.ScrubStream.buildShingleTrendStore]]);
    * every evaluation is store-served at its pin (partition-pruned,
    * zero text scans — PlanSpec-pinned), and the deltas come from a
    * |landings|-row self-join, never a single-partition window. Oracle:
    * the q185 containment SQL evaluated at each boundary, aggregated
    * and lag-joined identically.
    */
  val q199 = Q("q199_containment_trend", q199OracleSql()) { (s, dir) =>
    val (deltaDir, bounds) =
      graft.streaming.ScrubStream.buildShingleTrendStore(s, dir)
    graft.streaming.ScrubStream.containmentTrend(s, deltaDir, docs(s, dir), bounds)
  }

  // ── q190: contamination blast radius over the near-dup graph ──────────

  private def q190OracleSql: String =
    s"""$shingleCtes, $benchSharedCtes, scored AS (
       |  SELECT s.doc_id, MAX(CAST(s.n_shared AS DOUBLE) / len(b.hh)) AS containment
       |  FROM shared s JOIN bench b ON s.bench_id = b.bench_id
       |  GROUP BY s.doc_id
       |), hits0 AS (
       |  SELECT doc_id FROM scored
       |  WHERE ${OracleSql.round4("containment")} >= 0.3
       |), csz AS (
       |  SELECT doc_id, len(hh) AS sz FROM corpus
       |), cshared AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM ce a JOIN ce b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), dup AS (
       |  SELECT s.doc_id, s.doc_b
       |  FROM cshared s
       |  JOIN csz sa ON s.doc_id = sa.doc_id
       |  JOIN csz sb ON s.doc_b = sb.doc_id
       |  WHERE 5 * s.n_shared >= 4 * (sa.sz + sb.sz - s.n_shared)
       |), sym AS (
       |  SELECT doc_id AS src, doc_b AS dst FROM dup
       |  UNION ALL SELECT doc_b AS src, doc_id AS dst FROM dup
       |), hop1 AS (
       |  SELECT DISTINCT s.dst AS doc_id FROM sym s JOIN hits0 h ON s.src = h.doc_id
       |  WHERE s.dst NOT IN (SELECT doc_id FROM hits0)
       |), hop2 AS (
       |  SELECT DISTINCT s.dst AS doc_id FROM sym s JOIN hop1 h ON s.src = h.doc_id
       |  WHERE s.dst NOT IN (SELECT doc_id FROM hits0)
       |    AND s.dst NOT IN (SELECT doc_id FROM hop1)
       |)
       |SELECT d.source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN h0.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit0,
       |  CAST(SUM(CASE WHEN h1.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
       |  CAST(SUM(CASE WHEN h2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
       |  CAST(SUM(CASE WHEN h0.doc_id IS NOT NULL OR h1.doc_id IS NOT NULL
       |    OR h2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_at_risk,
       |  (CAST(SUM(CASE WHEN h0.doc_id IS NOT NULL OR h1.doc_id IS NOT NULL
       |    OR h2.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000)
       |    // COUNT(*) AS risk_bp
       |FROM documents d
       |LEFT JOIN hits0 h0 ON d.doc_id = h0.doc_id
       |LEFT JOIN hop1 h1 ON d.doc_id = h1.doc_id
       |LEFT JOIN hop2 h2 ON d.doc_id = h2.doc_id
       |WHERE d.doc_id >= 50
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** q190 — contamination BLAST RADIUS: q39 flags the corpus docs that
    * directly overlap the benchmark slice (containment ≥ 0.3); this
    * walks the J ≥ 0.8 near-dup graph TWO hops out from those hits,
    * because a near-duplicate of a contaminated document is itself a
    * contamination vector (a paraphrased copy of a leaked benchmark item
    * scores low against the benchmark but high against the leaked copy).
    * Hop sets are disjoint by construction (each excludes the earlier
    * ones); per source: docs, hop-0/1/2 counts, the union, and the
    * at-risk rate in exact basis points. Two bounded join rounds — no
    * recursion, no closure — because decontamination hardening wants a
    * fixed, auditable radius, not the full component (q187's CC gives
    * that when wanted). At 100 TB: hop frames are contamination-sized
    * (tiny), so both hop joins broadcast against the symmetric edge set.
    */
  val q190 = Q("q190_contamination_radius", q190OracleSql) { (s, dir) =>
    contaminationBlastRadius(docs(s, dir))
  }

  /** q190 over any (doc_id, source, text) frame — spec entry. */
  private[graft] def contaminationBlastRadius(d: DataFrame): DataFrame = {
    val corpus = d.filter(col("doc_id") >= 50)
    val bench = d.filter(col("doc_id") < 50)
    val hits0 = contaminationPairs(
        corpus.select(col("doc_id"), col("text")),
        bench.select(col("doc_id"), col("text")))
      .groupBy("doc_id").agg(max(col("containment")).as("c"))
      .filter(Det.dround(col("c"), 4) >= 0.3)
      .select("doc_id").localCheckpoint()
    val dup = jaccardPairs(corpus.select(col("doc_id"), col("text")))
      .filter(lit(5) * col("n_shared") >=
        lit(4) * (col("size_a") + col("size_b") - col("n_shared")))
    val sym = dup.select(col("doc_id").as("src"), col("doc_b").as("dst"))
      .unionByName(dup.select(col("doc_b").as("src"), col("doc_id").as("dst")))
      .localCheckpoint()
    val hop1 = sym.join(hits0.withColumnRenamed("doc_id", "src"), Seq("src"))
      .select(col("dst").as("doc_id")).distinct()
      .join(hits0, Seq("doc_id"), "left_anti").localCheckpoint()
    val hop2 = sym.join(hop1.withColumnRenamed("doc_id", "src"), Seq("src"))
      .select(col("dst").as("doc_id")).distinct()
      .join(hits0, Seq("doc_id"), "left_anti")
      .join(hop1, Seq("doc_id"), "left_anti")
    corpus.select(col("doc_id"), col("source"))
      .join(hits0.withColumn("h0", lit(true)), Seq("doc_id"), "left")
      .join(hop1.withColumn("h1", lit(true)), Seq("doc_id"), "left")
      .join(hop2.withColumn("h2", lit(true)), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Det.countIf(col("h0").isNotNull).as("n_hit0"),
        Det.countIf(col("h1").isNotNull).as("n_hit1"),
        Det.countIf(col("h2").isNotNull).as("n_hit2"),
        Det.countIf(col("h0").isNotNull || col("h1").isNotNull ||
          col("h2").isNotNull).as("n_at_risk"))
      .withColumn("risk_bp", expr("(n_at_risk * 10000) div n_docs"))
      .orderBy("source")
  }

  // ── q194: LSH index health — recall/precision vs the exact pair set ──

  private def q194OracleSql: String =
    s"""$shingleCtes, ${OracleSql.shingleOverlapCtes()}, truep AS (
       |  SELECT doc_id, doc_b FROM pairs WHERE ${OracleSql.nearDupPairSql}
       |), ${lshCandCtes("a.doc_id < b.doc_id")}, caught AS (
       |  SELECT t.doc_id, t.doc_b FROM truep t
       |  JOIN cand c ON t.doc_id = c.doc_id AND t.doc_b = c.doc_b
       |), byt AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_true
       |  FROM truep t JOIN documents d ON t.doc_id = d.doc_id GROUP BY d.source
       |), byg AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_caught
       |  FROM caught t JOIN documents d ON t.doc_id = d.doc_id GROUP BY d.source
       |), byc AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_candidates
       |  FROM cand t JOIN documents d ON t.doc_id = d.doc_id GROUP BY d.source
       |)
       |SELECT s.source,
       |  COALESCE(t.n_true, 0) AS n_true,
       |  COALESCE(g.n_caught, 0) AS n_caught,
       |  CASE WHEN COALESCE(t.n_true, 0) = 0 THEN 0
       |    ELSE (COALESCE(g.n_caught, 0) * 10000) // t.n_true END AS recall_bp,
       |  COALESCE(c.n_candidates, 0) AS n_candidates,
       |  CASE WHEN COALESCE(c.n_candidates, 0) = 0 THEN 0
       |    ELSE (COALESCE(g.n_caught, 0) * 10000) // c.n_candidates END AS precision_bp
       |FROM (SELECT DISTINCT source FROM documents) s
       |LEFT JOIN byt t ON s.source = t.source
       |LEFT JOIN byg g ON s.source = g.source
       |LEFT JOIN byc c ON s.source = c.source
       |ORDER BY s.source""".stripMargin

  /** q194 — LSH INDEX HEALTH monitor: per source, the banded minhash
    * index's recall and precision against the EXACT J ≥ 0.8 pair set
    * (integer-tested ground truth off the shingle inverted index), pairs
    * attributed to their first doc's source. Recall below the banding
    * curve's promise (1−(1−J^r)^b) means the signature family degraded
    * on this corpus (shingle distribution shift, hash skew); precision
    * says how much the verify stage pays per true pair. This is the
    * metric an operator watches before trusting q31/q124's verdicts at a
    * new corpus mix — the dedup twin of q88/q179's ANN recall probes.
    * Exact integers end to end. At 100 TB the ground-truth side is the
    * deliberately-exact twin: run it on a SAMPLED slice (the monitor's
    * own blocking is df-capped like q48); the candidate side is the
    * production band join.
    */
  val q194 = Q("q194_lsh_recall_monitor", q194OracleSql) { (s, dir) =>
    val d = docs(s, dir)
    val truePairs = jaccardPairs(d)
      .filter(lit(5) * col("n_shared") >=
        lit(4) * (col("size_a") + col("size_b") - col("n_shared")))
      .select(col("doc_id"), col("doc_b")).localCheckpoint()
    val bands = lshBands(minhashSignatures(d))
    val other = bands.select(col("doc_id").as("doc_b"),
      col("band_idx").as("bi"), col("band_hash").as("bh"))
    val cand = bands
      .join(other, col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
        col("doc_id") < col("doc_b"))
      .select("doc_id", "doc_b").distinct().localCheckpoint()
    val caught = truePairs.join(cand, Seq("doc_id", "doc_b"), "left_semi")
    val src = d.select(col("doc_id"), col("source"))
    def bySrc(pairs: DataFrame, name: String) =
      pairs.join(src, Seq("doc_id")).groupBy("source")
        .agg(count(lit(1)).as(name))
    d.select("source").distinct()
      .join(bySrc(truePairs, "n_true"), Seq("source"), "left")
      .join(bySrc(caught, "n_caught"), Seq("source"), "left")
      .join(bySrc(cand, "n_candidates"), Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .withColumn("recall_bp",
        expr("CASE WHEN n_true = 0 THEN 0 ELSE (n_caught * 10000) div n_true END"))
      .withColumn("precision_bp",
        expr("CASE WHEN n_candidates = 0 THEN 0 " +
          "ELSE (n_caught * 10000) div n_candidates END"))
      .select(col("source"), col("n_true"), col("n_caught"), col("recall_bp"),
        col("n_candidates"), col("precision_bp"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(q30, q31, q32, q33, q39, q124, q127, q133, q134,
    q135, q136, q137, q138, q139, q140, q141, q142, q143, q144, q146, q147, q171,
    q172, q184, q185, q190, q194, q198, q199)
}
