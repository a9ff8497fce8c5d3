package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Q

/** HyperLogLog distinct sketches — the fixed-memory, mergeable
  * count-distinct structure a 100 TB pipeline keeps when COUNT(DISTINCT)'s
  * expand + full-key shuffle is too wide (the register build shuffles at
  * most |groups| × m register rows regardless of corpus size, and partials
  * combine map-side via max). Complements the exact operators: q15's
  * bitmap TypedImperativeAggregate (exact, memory ∝ key range) and q90's
  * cumulative distinct (exact, expand-based).
  *
  * m = 2^p registers is the memory/accuracy knob (σ ≈ 1.04/√m): q108 runs
  * p = 8 (256 registers, σ ≈ 6.5%) over ~1.6k-cardinality groups; q109
  * runs p = 6 because its user-level cardinality (~150 at verify scale)
  * sits NEAR the raw estimator's ≈ 2.5·m small-range boundary at m = 64
  * (just below it, so some small-range bias remains — the observed
  * estimate is 151.6 vs 150 exact) and far below it at m = 256, where
  * the bias would dominate.
  *
  * Everything before the final division is integer arithmetic on h60
  * hashes (md5-prefix, graft.functions.TextHash scheme), so the estimates
  * themselves are DuckDB-oracled bit-for-bit: Σ 2^−r is carried as the
  * BIGINT Σ 2^(maxRho−r) (scale 2^−maxRho; max 2^p · 2^(61−p) = 2^61 at
  * any p), and only the closing α·m² / Σ division runs in doubles — the
  * same IEEE operations in the same order in both engines, with α inlined
  * into the oracle SQL from the Scala double (shortest-roundtrip printing
  * parses back to the identical double). The ORACLED columns carry the raw
  * Flajolet–Fusy–Gandouet–Meunier estimator only (the linear-counting
  * small-range term m·ln(m/V) is transcendental and libm vs JVM differ in
  * the last ulp, which would break oracle parity — q108 stays well above
  * that regime, q109 sits at its edge by design, see above). The
  * PRODUCTION estimator is `hllEstimateCorrected`: it adds the standard
  * linear-counting branch below ≈2.5·m, correctness spec-pinned against
  * exact counts over a 1 → 50·m cardinality sweep (SketchSpec) instead of
  * oracled.
  */
object Sketches {

  /** Standard bias constant α_m. */
  def alphaFor(p: Int): Double = (1 << p) match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case m  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** rho of an all-zero (60−p)-bit h60 suffix. */
  def maxRho(p: Int): Int = 60 - p + 1

  private def ev(s: SparkSession, dir: String) = graft.Catalog.table(s, dir, "events")

  /** First p register-index bits of an h60 hash. */
  def hllBucket(h60: Column, p: Int): Column = h60 % (1L << p)

  /** rho: 1-based position of the highest set bit in the remaining
    * (60−p)-bit suffix, maxRho when the suffix is zero. bin() emits the
    * same no-leading-zeros binary string in Spark and DuckDB, so
    * maxRho − length(bin(w)) needs no transcendental log2.
    */
  def hllRho(h60: Column, p: Int): Column = {
    val w = shiftright(h60, p)
    when(w === 0L, lit(maxRho(p))).otherwise(lit(maxRho(p)) - length(bin(w)))
  }

  /** Per-group HLL registers (groupCols…, bucket, r): ONE partial+final
    * hash aggregate over at most |groups| × m cells — no expand, no
    * per-key shuffle. `key` must be a string column expression.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], key: Column, p: Int): DataFrame = {
    val h = Dedup.h60Col(key)
    df.groupBy(groupCols.map(col) :+ hllBucket(h, p).as("bucket"): _*)
      .agg(max(hllRho(h, p)).as("r"))
  }

  /** Fold registers (shape: groupCols…, bucket, r) to the raw estimate:
    * (groupCols…, n_buckets, reg_denom, hll_estimate). reg_denom is the
    * exact BIGINT Σ 2^(maxRho−r) with absent buckets contributing r = 0.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1L << p
    registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${maxRho(p)} - r)")).as("denom_present"))
      .withColumn("reg_denom",
        (col("denom_present") + (lit(m) - col("n_buckets")) * lit(1L << maxRho(p)))
          .cast("long"))
      .withColumn("hll_estimate",
        lit(alphaFor(p)) * lit((m * m).toDouble) * lit(math.pow(2.0, maxRho(p)))
          / col("reg_denom").cast("double"))
      .drop("denom_present")
  }

  /** PRODUCTION estimator: `hllEstimate`'s raw FFGM value with the
    * standard linear-counting small-range correction (Flajolet et al.
    * 2007, §4): when the raw estimate falls at or below 2.5·m and at
    * least one register is still empty, return m·ln(m/V) (V = empty
    * registers) — the regime where the raw estimator's collision bias
    * dominates and linear counting is near-exact. ln is transcendental,
    * so `hll_corrected` is deliberately NOT carried in the DuckDB-oracled
    * q108/q109 columns (libm vs JVM differ in the last ulp; the raw
    * column keeps bit parity); its correctness is spec-pinned instead —
    * SketchSpec sweeps cardinalities 1 → 50·m and holds the corrected
    * estimate inside the published error envelope where the raw one
    * drifts far outside below ~2.5·m. Adds `n_empty` and
    * `hll_corrected` beside the raw columns; same one-aggregate scale
    * shape.
    */
  def hllEstimateCorrected(registers: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1L << p
    hllEstimate(registers, groupCols, p)
      .withColumn("n_empty", (lit(m) - col("n_buckets")).cast("long"))
      .withColumn("hll_corrected",
        when(col("hll_estimate") <= lit(2.5 * m) && col("n_empty") > 0L,
          lit(m.toDouble) * log(lit(m.toDouble) / col("n_empty").cast("double")))
          .otherwise(col("hll_estimate")))
  }

  /** Oracle fragments mirroring the three helpers above, parameterized the
    * same way. Kept adjacent to the Scala so the two register pipelines
    * stay textually in sync.
    */
  private def regSql(keyExpr: String, groupBy: String, p: Int, events: String = "events"): String = {
    val h = OracleSql.h60(keyExpr)
    s"""SELECT $groupBy, $h % ${1L << p} AS bucket,
       |    MAX(CASE WHEN $h // ${1L << p} = 0 THEN ${maxRho(p)}
       |             ELSE ${maxRho(p)} - length(bin($h // ${1L << p})) END) AS r
       |  FROM $events GROUP BY ALL""".stripMargin
  }

  private def foldDenom(p: Int): String =
    s"CAST(CAST(SUM(CAST(1 AS BIGINT) << (${maxRho(p)} - r)) AS BIGINT)" +
      s" + (${1L << p} - COUNT(*)) * (CAST(1 AS BIGINT) << ${maxRho(p)}) AS BIGINT)"

  private def estimateSql(p: Int): String = {
    val m = 1L << p
    s"((CAST(${alphaFor(p)} AS DOUBLE) * CAST(${m * m} AS DOUBLE))" +
      s" * CAST(${1L << maxRho(p)} AS DOUBLE)) / CAST(reg_denom AS DOUBLE)"
  }

  /** Key for q108/q110 and the streaming sinks: one token per active
    * (user, day) pair. The Column and SQL forms are parity-load-bearing
    * twins — every consumer (batch queries, SketchStream, scale probes)
    * must reference THESE definitions, never a private copy.
    */
  val userDayKeySql = "CAST(user_id AS VARCHAR) || '@' || CAST(CAST(ts AS DATE) AS VARCHAR)"
  def userDayKeyCol: Column =
    concat(col("user_id").cast("string"), lit("@"), col("ts").cast("date").cast("string"))

  /** q108 — groupwise HLL distinct: active user-days per event type at
    * p = 8, the sketch estimate beside the exact count (like q64's
    * CMS-vs-exact). The sketch path is two hash aggregates totalling
    * |types| × 256 register rows; the exact COUNT(DISTINCT) twin it
    * replaces at scale shuffles every distinct key.
    */
  /** q108's oracle over an `events` relation (q224: a retention
    * window).
    */
  private def q108OracleSql(events: String = "events"): String =
    s"""WITH reg AS (
       |  ${regSql(userDayKeySql, "event_type", 8, events)}
       |), fold AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |    ${foldDenom(8)} AS reg_denom
       |  FROM reg GROUP BY event_type
       |), ex AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT $userDayKeySql) AS BIGINT) AS n_exact
       |  FROM $events GROUP BY event_type
       |)
       |SELECT f.event_type, x.n_exact, f.n_buckets, f.reg_denom,
       |  ${estimateSql(8)} AS hll_estimate
       |FROM fold f JOIN ex x USING (event_type)
       |ORDER BY event_type""".stripMargin

  val q108 = Q("q108_hll_distinct", q108OracleSql()) { (s, dir) =>
    val e = ev(s, dir)
    val key = userDayKeyCol
    val est = hllEstimate(hllRegisters(e, Seq("event_type"), key, 8), Seq("event_type"), 8)
    val exact = e.groupBy("event_type").agg(countDistinct(key).as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_buckets"),
        col("reg_denom"), col("hll_estimate"))
      .orderBy("event_type")
  }

  /** q109 — sketch-merge algebra: per-day user sketches (what a pipeline
    * would persist per ingest partition) merged across the month by
    * register-wise MAX, beside the sketch computed directly over the whole
    * table. The two estimates are bit-equal (max is associative), which
    * `merge_exact_match` pins in-query: monthly uniques come from 30 tiny
    * artifacts with NO rescan of history — the incremental twin of q90's
    * exact cumulative distinct.
    */
  val q109 = Q("q109_hll_merge",
    s"""WITH daily AS (
       |  ${regSql("CAST(user_id AS VARCHAR)", "event_type, CAST(ts AS DATE) AS day", 6)}
       |), merged_reg AS (
       |  SELECT event_type, bucket, MAX(r) AS r FROM daily GROUP BY event_type, bucket
       |), merged AS (
       |  SELECT event_type, reg_denom, ${estimateSql(6)} AS merged_estimate FROM (
       |    SELECT event_type, ${foldDenom(6)} AS reg_denom
       |    FROM merged_reg GROUP BY event_type)
       |), direct_reg AS (
       |  ${regSql("CAST(user_id AS VARCHAR)", "event_type", 6)}
       |), direct AS (
       |  SELECT event_type, reg_denom, ${estimateSql(6)} AS direct_estimate FROM (
       |    SELECT event_type, ${foldDenom(6)} AS reg_denom
       |    FROM direct_reg GROUP BY event_type)
       |), days AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY event_type
       |)
       |SELECT m.event_type, d2.n_days, d2.n_exact,
       |  m.merged_estimate, d.direct_estimate,
       |  m.reg_denom = d.reg_denom AS merge_exact_match
       |FROM merged m
       |JOIN direct d USING (event_type)
       |JOIN days d2 USING (event_type)
       |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = ev(s, dir).withColumn("day", col("ts").cast("date"))
    val key = col("user_id").cast("string")
    val daily = hllRegisters(e, Seq("event_type", "day"), key, 6)
    val merged = hllEstimate(
      daily.groupBy("event_type", "bucket").agg(max("r").as("r")), Seq("event_type"), 6)
      .select(col("event_type"), col("reg_denom").as("m_denom"),
        col("hll_estimate").as("merged_estimate"))
    val direct = hllEstimate(hllRegisters(e, Seq("event_type"), key, 6), Seq("event_type"), 6)
      .select(col("event_type"), col("reg_denom").as("d_denom"),
        col("hll_estimate").as("direct_estimate"))
    val days = e.groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_days"), countDistinct(key).as("n_exact"))
    merged.join(direct, "event_type").join(days, "event_type")
      .select(col("event_type"), col("n_days"), col("n_exact"),
        col("merged_estimate"), col("direct_estimate"),
        (col("m_denom") === col("d_denom")).as("merge_exact_match"))
      .orderBy("event_type")
  }

  /** KMV sketch size for q110. */
  val KmvK = 256

  /** q110 — KMV (k-minimum-values) audience overlap: the set-algebra
    * complement of HLL. A KMV sketch (k smallest distinct h60 values,
    * built by `functions.KmvMin` as one map-side-bounded aggregate with
    * no pre-DISTINCT shuffle) supports what registers cannot: union AND
    * intersection/Jaccard estimates between groups. For every event-type
    * pair, the (user, day) active-set overlap is estimated from two
    * 256-value sketches — (k−1)·2^60 / kth-min for the union, the matching
    * fraction of the union's k minima for Jaccard — beside the exact
    * intersection/union from a distinct-key self-join. Sketches smaller
    * than k ARE the exact set (the estimator's |S| < k branch, exercised
    * at sf0.001). Everything is order statistics of h60 — deterministic,
    * so estimates carry the oracle bit-for-bit.
    */
  val q110 = Q("q110_kmv_overlap",
    s"""WITH dk AS (
       |  SELECT DISTINCT event_type, ${OracleSql.h60(userDayKeySql)} AS h FROM events
       |), sk AS (
       |  SELECT event_type, list_slice(list_sort(list(h)), 1, $KmvK) AS mins,
       |    CAST(COUNT(*) AS BIGINT) AS nd
       |  FROM dk GROUP BY event_type
       |), ux AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    a.mins AS am, b.mins AS bm, a.nd AS na, b.nd AS nb,
       |    list_slice(list_sort(list_distinct(list_concat(a.mins, b.mins))), 1, $KmvK) AS u
       |  FROM sk a JOIN sk b ON a.event_type < b.event_type
       |), est AS (
       |  SELECT type_a, type_b, na, nb,
       |    CAST(len(u) AS BIGINT) AS n_u,
       |    CAST(len(list_filter(u, x -> list_contains(am, x) AND list_contains(bm, x))) AS BIGINT) AS c,
       |    CASE WHEN len(u) < $KmvK THEN CAST(len(u) AS DOUBLE)
       |         ELSE (CAST(${KmvK - 1} AS DOUBLE) * CAST(${1L << 60} AS DOUBLE))
       |              / CAST(u[$KmvK] AS DOUBLE) END AS kmv_union_est
       |  FROM ux
       |), inter AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_exact_inter
       |  FROM dk a JOIN dk b ON a.h = b.h AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT e.type_a, e.type_b,
       |  COALESCE(i.n_exact_inter, 0) AS n_exact_inter,
       |  CAST(e.na + e.nb - COALESCE(i.n_exact_inter, 0) AS BIGINT) AS n_exact_union,
       |  e.kmv_union_est,
       |  CAST(e.c AS DOUBLE) / CAST(e.n_u AS DOUBLE) AS kmv_jaccard,
       |  (CAST(e.c AS DOUBLE) / CAST(e.n_u AS DOUBLE)) * e.kmv_union_est AS kmv_inter_est
       |FROM est e LEFT JOIN inter i ON e.type_a = i.type_a AND e.type_b = i.type_b
       |ORDER BY e.type_a, e.type_b""".stripMargin) { (s, dir) =>
    val e = ev(s, dir)
    val key = concat(col("user_id").cast("string"), lit("@"),
      col("ts").cast("date").cast("string"))
    // one scan + distinct feeds three consumers (sketch build, both sides
    // of the exact-intersection self-join) — the q101 checkpoint pattern
    val dk = e.select(col("event_type"), Dedup.h60Col(key).as("h")).distinct()
      .localCheckpoint()
    val sk = dk.groupBy("event_type")
      .agg(graft.functions.KmvMin.kmvMin(KmvK)(col("h")).as("mins"),
        count(lit(1)).as("nd"))
    val est = kmvPairEstimates(sk.select(col("event_type"), col("mins")), KmvK)
    val cnt = sk.select(col("event_type"), col("nd"))
    val inter = dk.as("x").join(dk.as("y"),
        col("x.h") === col("y.h") && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_exact_inter"))
    est
      .join(cnt.select(col("event_type").as("type_a"), col("nd").as("na")), Seq("type_a"))
      .join(cnt.select(col("event_type").as("type_b"), col("nd").as("nb")), Seq("type_b"))
      .join(inter, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        (col("na") + col("nb") - coalesce(col("n_exact_inter"), lit(0L)))
          .cast("long").as("n_exact_union"),
        col("kmv_union_est"),
        col("kmv_jaccard"),
        col("kmv_inter_est"))
      .orderBy("type_a", "type_b")
  }

  /** Pairwise overlap estimates from per-group KMV sketches ALONE —
    * (type_a, type_b, n_u, c, kmv_union_est, kmv_jaccard, kmv_inter_est)
    * for every group pair, as pure functions of the (event_type, mins)
    * sketch frame. The shared kernel of q110's in-query estimates and the
    * streaming artifact serving (SketchStream.overlapFromArtifact): both
    * paths build this identical expression tree, so served estimates are
    * bit-equal to in-query ones (StreamingSpec-pinned).
    */
  def kmvPairEstimates(sk: DataFrame, k: Int): DataFrame = {
    val a = sk.select(col("event_type").as("type_a"), col("mins").as("am"))
    val b = sk.select(col("event_type").as("type_b"), col("mins").as("bm"))
    val ux = a.join(b, col("type_a") < col("type_b"))
      .withColumn("u", slice(array_sort(array_union(col("am"), col("bm"))), 1, k))
    ux.select(
      col("type_a"), col("type_b"),
      size(col("u")).cast("long").as("n_u"),
      size(filter(col("u"),
        x => array_contains(col("am"), x) && array_contains(col("bm"), x)))
        .cast("long").as("c"),
      // CaseWhen short-circuit is LOAD-BEARING: under ANSI mode
      // element_at(u, k) throws when size(u) < k, and only the lazy
      // when/otherwise evaluation guards it. Do not hoist the
      // otherwise-expression into a separate column (see verify skill).
      when(size(col("u")) < k, size(col("u")).cast("double"))
        .otherwise((lit((k - 1).toDouble) * lit(math.pow(2.0, 60)))
          / element_at(col("u"), k).cast("double")).as("kmv_union_est"))
      .withColumn("kmv_jaccard",
        col("c").cast("double") / col("n_u").cast("double"))
      .withColumn("kmv_inter_est", col("kmv_jaccard") * col("kmv_union_est"))
  }

  // ── q224: the HLL dashboard under RETENTION ───────────────────────────

  /** Four arrival-ordered HLL register landings (event_id quartiles,
    * p = 8 — q108's configuration), then the two oldest EXPIRED
    * ([[graft.streaming.StoreCompaction.expireBefore]]). Registers
    * max-merge but never subtract, so a since-the-beginning merged
    * artifact cannot honor retention (and per-key erasure on a sketch is
    * rebuild-only — a register keeps no per-key content); the retention
    * layout keeps one tiny register delta PER LANDING and expiry is pure
    * directory drops. Idempotent. Returns (deltaDir, the window's
    * event_id floor).
    */
  def buildHllTtlStore(s: SparkSession, dir: String): (String, Long) = {
    val e = ev(s, dir)
    val q = e.agg(max(col("event_id"))).head().getLong(0) / 4
    val root = graft.exec.DerivedStore.cached("hll_ttl", dir, "events") { root =>
      val deltas = s"$root/deltas"
      val bounds = Seq(
        Long.MinValue -> q, q -> 2 * q, 2 * q -> 3 * q, 3 * q -> Long.MaxValue)
      bounds.zipWithIndex.foreach { case ((lo, hi), k) =>
        graft.streaming.SketchStream.writeRegisterDelta(
          e.filter(col("event_id") >= lo && col("event_id") < hi),
          deltas, k.toLong, p = 8)
      }
      graft.streaming.StoreCompaction.expireBefore(deltas, 2L)
    }
    (s"$root/deltas", 2 * q)
  }

  /** q224 — HLL DISTINCT over a retention window: the sketch family's
    * retention story, where the usual negative-delta erasure algebra is
    * structurally unavailable (registers max-merge, never subtract).
    * Per-landing register deltas make expiry a directory drop and the
    * windowed serve a register MAX over exactly the retained landings —
    * associativity makes the estimate BIT-EQUAL to a sketch built from
    * scratch on the retained events, which is what the oracle computes
    * (exact distinct count over the window beside it, q108's shape).
    * At 100 TB each landing's delta is ≤ groups × 256 rows — the
    * retention layout costs nothing over the merged artifact and is the
    * only one that can age.
    */
  val q224 = Q("q224_hll_window",
    q108OracleSql("(SELECT * FROM events WHERE event_id >= " +
      "(SELECT (MAX(event_id) // 4) * 2 FROM events))")) { (s, dir) =>
    val (deltas, cut2) = buildHllTtlStore(s, dir)
    val est = graft.streaming.SketchStream.estimatesWindowed(
      s, deltas, lo = 2L, p = 8)
    val exact = ev(s, dir).filter(col("event_id") >= cut2)
      .groupBy("event_type").agg(countDistinct(userDayKeyCol).as("n_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("n_buckets"),
        col("reg_denom"), col("hll_estimate"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(q108, q109, q110, q224)
}
