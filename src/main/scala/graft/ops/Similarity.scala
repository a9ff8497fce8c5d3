package graft.ops

import graft.Catalog
import graft.exec.DerivedStore
import graft.queries.{Det, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float], 64-dim).
  *
  * Cosine arithmetic is a sequential double fold (`aggregate` over
  * `zip_with`) — element order is fixed, so results are bit-identical to
  * DuckDB's list_sum/list_transform fold, which makes the brute-force
  * queries oracle-checkable. The LSH variant is the scale path: candidate
  * generation via bucket equi-join instead of the all-pairs product.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String) = Catalog.table(s, dir, "embeddings")

  /** Cast float vector to double once. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product (IEEE-identical across engines), computed
    * by the codegen'd VecDot Expression — same bits as the built-in
    * `aggregate(zip_with(...))` tree but one fused loop per pair instead
    * of interpreted per-element lambdas.
    * SQL mirror: `list_sum(list_transform(list_zip(a, b),
    * x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))`.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  private val dotSql =
    "list_sum(list_transform(list_zip(%s, %s), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def normSql(v: String) = s"SQRT(${dotSql.format(v, v)})"

  /** q35 — brute-force cosine top-k against a fixed query vector
    * (vec_id = 0): the exactness baseline every ANN variant is judged
    * against. Broadcast of the single query row; one pass over the table.
    */
  val q35 = Q("q35_ann_bruteforce_topk",
    s"""SELECT b.vec_id, b.label,
       |  ${dotSql.format("a.embedding", "b.embedding")}
       |    / (${normSql("a.embedding")} * ${normSql("b.embedding")}) AS cosine_sim
       |FROM embeddings a, embeddings b
       |WHERE a.vec_id = 0 AND b.vec_id <> 0
       |ORDER BY cosine_sim DESC, b.vec_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v")))).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** q34 — embedding near-duplicate stats: for every vector, its best
    * cosine partner and the count above 0.5, from label-blocked pairs
    * (same-label blocking = the IVF idea: compare within a coarse
    * partition, shuffle on the partition key — linear in bucket sizes,
    * not quadratic in corpus size).
    */
  val q34 = Q("q34_embedding_neardup",
    s"""WITH pairs AS (
       |  SELECT a.vec_id AS a_id, a.label AS a_label, b.vec_id AS b_id,
       |    ${dotSql.format("a.embedding", "b.embedding")}
       |      / (${normSql("a.embedding")} * ${normSql("b.embedding")}) AS sim
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT a_id, a_label, b_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn,
       |    COUNT(CASE WHEN sim > 0.5 THEN 1 END) OVER (PARTITION BY a_id) AS n_above_05
       |  FROM pairs
       |)
       |SELECT a_id AS vec_id, a_label AS label, b_id AS best_match_id,
       |  sim AS best_sim, n_above_05
       |FROM ranked WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    // per-vector norm computed ONCE per side, not per pair — the reused
    // double is bit-identical to recomputation, so the oracle (which
    // inlines the norm per pair) still hash-matches
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nn", norm(col("v")))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("v").as("bv"), col("nn").as("bn"))
    val pairs = e.join(b, col("label") === col("b_label") && col("vec_id") =!= col("b_id"))
      .select(col("vec_id"), col("label"), col("b_id"),
        (dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"))
    // argmax + conditional count in ONE hash aggregate (same tie-break as
    // the oracle's ROW_NUMBER ORDER BY sim DESC, b_id via the negated id)
    pairs
      .groupBy("vec_id", "label")
      .agg(
        max(struct(col("sim"), (-col("b_id")).as("neg_b"))).as("m"),
        Det.countIf(col("sim") > 0.5).as("n_above_05"))
      .select(col("vec_id"), col("label"),
        (-col("m.neg_b")).as("best_match_id"),
        col("m.sim").as("best_sim"),
        col("n_above_05"))
      .orderBy("vec_id")
  }

  // ── LSH-bucketed ANN (the 100 TB path) ────────────────────────────────

  val NumPlanes = 6
  /** Seeded random hyperplanes (deterministic across runs/engines). The
    * bit count scales with corpus size (buckets ~ n / target-bucket-size);
    * 6 bits / 64 buckets fits the test corpora, a 100 TB corpus would use
    * ~log2(n/4096) bits with the same code.
    */
  val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(NumPlanes)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Multiprobe masks: the query bucket plus every 1- and 2-bit flip. */
  val probeMasks: Seq[Int] =
    Seq(0) ++
      (0 until NumPlanes).map(1 << _) ++
      (for { i <- 0 until NumPlanes; j <- i + 1 until NumPlanes } yield (1 << i) | (1 << j))

  /** Sign-bit bucket id from the hyperplane projections. */
  def lshBucket(v: Column): Column =
    (0 until NumPlanes).map { i =>
      val plane = array(planes(i).map(lit(_)): _*)
      when(dot(v, plane) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  private def q36OracleSql: String = {
    val bucketSum = (0 until NumPlanes).map { i =>
      val planeLit = planes(i).map(_.toString).mkString("[", ", ", "]")
      s"    (CASE WHEN ${dotSql.format("v", planeLit)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" +\n")
    val probeList = probeMasks.map(m => s"xor(q.qb, $m)").mkString(", ")
    s"""WITH $embCte, bk AS (
       |  SELECT vec_id, label, v,
       |$bucketSum AS bucket
       |  FROM e
       |), q AS (
       |  SELECT v AS qv, bucket AS qb FROM bk WHERE vec_id = 0
       |)
       |SELECT b.vec_id, b.label, b.bucket,
       |  ${dotSql.format("q.qv", "b.v")} / (${normSql("q.qv")} * ${normSql("b.v")}) AS cosine_sim
       |FROM bk b, q
       |WHERE b.vec_id <> 0 AND b.bucket IN ($probeList)
       |ORDER BY cosine_sim DESC, b.vec_id
       |LIMIT 10""".stripMargin
  }

  /** q36 — LSH ANN: bucket every vector once (6 signed projections), probe
    * the query's bucket plus all 1- and 2-bit-flip neighbors (multiprobe),
    * rank candidates by true cosine. At scale the bucket column is a
    * partition/cluster key: a query touches 22 buckets, not the corpus.
    * Oracle: the seeded hyperplanes inlined as DuckDB list literals (the
    * shortest-round-trip double rendering parses back to identical bits),
    * so bucketing, multiprobe, and ranking are all hash-checked.
    */
  val q36 = Q("q36_ann_lsh", q36OracleSql) { (s, dir) =>
    val e = emb(s, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v")))
    val qRow = e.filter(col("vec_id") === 0).select(col("v").as("qv"), col("bucket").as("qb"))
    val probes = e.crossJoin(broadcast(qRow))
      .withColumn("probe_buckets", array(probeMasks.map(lit(_)): _*))
      .filter(col("vec_id") =!= 0 &&
        exists(col("probe_buckets"), m => col("bucket") === col("qb").bitwiseXOR(m)))
    probes
      .select(col("vec_id"), col("label"), col("bucket"),
        (dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v")))).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(10)
  }

  // ── IVF ANN (coarse-quantizer variant of the 100 TB path) ─────────────

  val NProbe = 2

  private def q38OracleSql: String = {
    s"""WITH $embCte, $labelCentroidCtes, q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = 0
       |), $probesCte
       |SELECT b.vec_id, b.label,
       |  ${dotSql.format("q.qv", "b.v")} / (${normSql("q.qv")} * ${normSql("b.v")}) AS cosine_sim
       |FROM e b, q
       |WHERE b.vec_id <> 0 AND b.label IN (SELECT probe_label FROM probes)
       |ORDER BY cosine_sim DESC, b.vec_id
       |LIMIT 10""".stripMargin
  }

  /** (label, pos) INTEGER centroid sums — the associative representation
    * behind the IVF artifact. Because each element is floor-scaled to a
    * long before summing, merging two corpora's sums then decoding equals
    * building from the union bit-for-bit — which is what makes the index
    * APPENDABLE (see appendIvfIndex) instead of rebuild-only.
    */
  def ivfCentroidSums(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("s_fp"),
        count(lit(1)).as("n"))

  /** Sums → artifact rows: decoded centroid (the exact Det.davg(…, 6)
    * arithmetic: s_fp → double, ÷1e6, ÷n) plus the raw sums and count the
    * append path needs.
    */
  private def sumsToArtifact(sums: DataFrame): DataFrame =
    sums.groupBy("label").agg(
      expr("transform(array_sort(collect_list(struct(pos, s_fp, n))), " +
        "r -> CAST(r.s_fp AS DOUBLE) / 1000000.0 / r.n)").as("centroid"),
      expr("transform(array_sort(collect_list(struct(pos, s_fp))), r -> r.s_fp)").as("s_fp"),
      max(col("n")).as("n"))

  /** Write the quantizer artifact for a vector frame (vec_id, label, v).
    * Also writes the build-metadata sidecar (`buildMetaPath` — training
    * row count + content fingerprint), so `pqIndexAge` /
    * `pqRebuildDecision` work on IVF artifacts too: the sidecar protocol
    * is artifact-generic. Meta commits first, artifact last.
    */
  def writeIvfIndex(e: DataFrame, path: String): Unit = {
    writeBuildMeta(e, path)
    sumsToArtifact(ivfCentroidSums(e)).write.mode("overwrite").parquet(path)
  }

  /** Incrementally fold NEW vectors into an existing quantizer artifact —
    * the 100 TB maintenance path: an append-heavy corpus updates k×dim
    * integer sums (broadcast-sized state) instead of re-scanning the full
    * history. Exactness falls out of the integer representation: merged
    * sums decode to the SAME doubles a from-scratch rebuild over the union
    * produces (spec-pinned), so readers can never tell which path built
    * the index.
    */
  def appendIvfIndex(spark: SparkSession, path: String, delta: DataFrame): Unit = {
    mergeIvfIndex(spark, path, delta); ()
  }

  /** One IVF append's drift verdict — the `PqAppendDrift` twin for the
    * coarse quantizer, whose failure mode is different: appended sums
    * shift the CENTROIDS (silently re-routing future probes) rather
    * than quantizing worse against frozen codewords. `maxDispPct` is
    * the largest centroid displacement as an integer percentage of the
    * smallest inter-centroid gap BEFORE the append (the scale on which
    * routing decisions live); `rebuild` fires when a centroid moved
    * at least the threshold share of that gap (default 100 — it crossed
    * a full minimum gap, an unambiguous routing change; an
    * in-distribution refit of this corpus re-centers by ~75) or the
    * append created a cell the index had never seen.
    */
  final case class IvfAppendDrift(
      nAppended: Long,
      nNewCells: Long,
      maxDispPct: Long,
      rebuild: Boolean)

  /** The MEASURED IVF append — the artifact is written by the SAME merge
    * path as `appendIvfIndex` (bit-equal), and the drift statistic costs
    * zero extra Spark jobs: the artifact is k×dim driver state on both
    * sides of the merge, so displacement and the inter-centroid gap are
    * driver arithmetic over the rows the merge already collected.
    */
  def appendIvfIndexMeasured(spark: SparkSession, path: String,
      delta: DataFrame, thresholdPct: Long = 100L): IvfAppendDrift = {
    val before = spark.read.parquet(path)
      .select(col("label"), col("centroid")).collect()
      .map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray).toMap
    val (after, nAppended) = mergeIvfIndex(spark, path, delta)
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val gapSq = {
      val cs = before.toSeq.sortBy(_._1).map(_._2)
      val pairs = for { i <- cs.indices; j <- cs.indices if j > i }
        yield sq(cs(i), cs(j))
      if (pairs.isEmpty) 0.0 else pairs.min
    }
    val nNew = after.keySet.diff(before.keySet).size.toLong
    val maxDispSq = before.collect {
      case (label, c) if after.contains(label) => sq(c, after(label))
    }.foldLeft(0.0)(math.max)
    val maxDispPct =
      if (gapSq > 0.0) math.floor(100.0 * math.sqrt(maxDispSq / gapSq)).toLong
      else if (maxDispSq > 0.0) Long.MaxValue else 0L
    val verdict = IvfAppendDrift(nAppended, nNew, maxDispPct,
      rebuild = nNew > 0L || maxDispPct >= thresholdPct)
    // audit ledger beside the artifact — same column contract as the PQ
    // drift audit (n_appended, rebuild), so pqIndexAge/pqRebuildDecision
    // read IVF artifacts unchanged
    spark.createDataFrame(Seq(
        (verdict.nAppended, verdict.nNewCells, verdict.maxDispPct, verdict.rebuild)))
      .toDF("n_appended", "n_new_cells", "max_disp_pct", "rebuild")
      .write.mode("append").parquet(driftAuditPath(path))
    verdict
  }

  /** Shared merge kernel of the plain and measured appends: fold the
    * delta's integer sums into the artifact and overwrite it. Returns
    * the post-merge (label → centroid) table and the delta row count.
    */
  private def mergeIvfIndex(spark: SparkSession, path: String,
      delta: DataFrame): (Map[Int, Array[Double]], Long) = {
    val cur = spark.read.parquet(path)
      .select(col("label"), posexplode(col("s_fp")).as(Seq("pos", "s_fp")), col("n"))
    val add = ivfCentroidSums(delta)
      .select(col("label").as("dl"), col("pos").as("dp"),
        col("s_fp").as("ds"), col("n").as("dn"))
    val merged = cur.join(add,
        col("label") === col("dl") && col("pos") === col("dp"), "full_outer")
      .select(
        coalesce(col("label"), col("dl")).as("label"),
        coalesce(col("pos"), col("dp")).as("pos"),
        (coalesce(col("s_fp"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s_fp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
    // The artifact is k×dim integer sums — broadcast-sized BY DESIGN — so
    // materialize it on the driver before overwriting the path the plan
    // reads from. (A checkpoint is not enough: a non-reliable checkpoint
    // recomputes lost partitions from the source parquet, which overwrite
    // deletes — on executor loss that would corrupt the only copy.)
    val out = sumsToArtifact(merged)
    val rows = out.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
      .write.mode("overwrite").parquet(path)
    val nAppended = delta.count()
    val afterMap = rows.map { r =>
      r.getAs[Int]("label") ->
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray
    }.toMap
    (afterMap, nAppended)
  }

  /** Build step: materialize the centroid table once per corpus — this is
    * how an IVF index actually works at 100 TB (the quantizer is a written
    * artifact that queries reuse, not something recomputed from the full
    * corpus per query). Cached per corpus by [[DerivedStore]], with the
    * build-metadata sidecar inside the same root. Returns the artifact
    * path.
    */
  def buildIvfIndex(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("ivf_centroids", dir, "embeddings") { root =>
      val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      writeIvfIndex(e, s"$root/centroids")
    }
    s"$root/centroids"
  }

  /** q38 — IVF ANN: the coarse quantizer is the materialized centroid
    * artifact (`buildIvfIndex` — built once, reused across queries); the
    * query probes its NProbe nearest centroids and runs exact cosine only
    * inside those partitions. At scale the label/centroid id is the
    * table's partition key: a query reads nProbe partitions, not the
    * corpus, and the centroid table (k rows) broadcasts everywhere.
    */
  val q38 = Q("q38_ann_ivf", q38OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val cents = s.read.parquet(buildIvfIndex(s, dir))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(qv))
      .select(col("label").as("probe_label"),
        (dot(col("qv"), col("centroid")) / (norm(col("qv")) * norm(col("centroid")))).as("c_sim"))
      .orderBy(col("c_sim").desc, col("probe_label"))
      .limit(NProbe)
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(probes.select("probe_label")),
        col("label") === col("probe_label"), "left_semi")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        (dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v")))).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** q70 — per-label centroid quality report: the embedding-space health
    * check a training pipeline runs over its clustered corpus (how tight
    * is each label's cluster, are there outliers). Centroids are exact
    * fixed-point: each element is floor-scaled to a long BEFORE summing,
    * so the per-dimension sums are associative integers (partial + final
    * aggregate, any partition order) and the derived centroid doubles are
    * bit-identical across engines — the same Det discipline as every
    * float aggregate here. Cosines against the centroid then fold
    * sequentially per row (VecDot), and the per-label average is again a
    * floor-scaled integer sum. Shapes: one (label, dim) hash aggregate
    * (64 × labels cells), one broadcast-sized centroid table joined back,
    * one per-label rollup — nothing quadratic, nothing single-task.
    */
  val q70 = Q("q70_label_centroid_quality",
    s"""WITH ed AS (
       |  SELECT vec_id, label, $embDoubleSql AS v
       |  FROM embeddings
       |), pe AS (
       |  SELECT label, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ed
       |), sums AS (
       |  SELECT label, pos, SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS s_fp, COUNT(*) AS n
       |  FROM pe GROUP BY 1, 2
       |), cent AS (
       |  SELECT label, list(CAST(s_fp AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS c
       |  FROM sums GROUP BY label
       |), cn AS (
       |  SELECT label, c,
       |    CAST(FLOOR(${normSql("c")} * 1000000.0) AS BIGINT) AS centroid_norm_fp
       |  FROM cent
       |), j AS (
       |  SELECT e.label, cn.centroid_norm_fp,
       |    ${dotSql.format("e.v", "cn.c")} / (${normSql("e.v")} * ${normSql("cn.c")}) AS cos
       |  FROM ed e JOIN cn ON e.label = cn.label
       |)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  MAX(centroid_norm_fp) AS centroid_norm_fp,
       |  CAST(SUM(CAST(FLOOR(cos * 1000000.0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_cos_fp,
       |  MIN(CAST(FLOOR(cos * 1000000.0) AS BIGINT)) AS min_cos_fp
       |FROM j GROUP BY label
       |ORDER BY label""".stripMargin) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val pe = e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
    val sums = pe.groupBy("label", "pos")
      .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("s_fp"), count(lit(1)).as("n"))
    val cent = sums.groupBy("label").agg(
      expr("transform(array_sort(collect_list(struct(pos, s_fp, n))), " +
        "r -> CAST(r.s_fp AS DOUBLE) / (r.n * 1000000.0))").as("c"))
    val cn = cent.select(col("label"), col("c"),
      floor(norm(col("c")) * lit(1000000.0)).as("centroid_norm_fp"))
    val j = e.join(broadcast(cn), "label")
      .select(col("label"), col("centroid_norm_fp"),
        (dot(col("v"), col("c")) / (norm(col("v")) * norm(col("c")))).as("cos"))
    j.groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        max(col("centroid_norm_fp")).as("centroid_norm_fp"),
        (sum(floor(col("cos") * lit(1000000.0))).cast("double") /
          (count(lit(1)) * lit(1000000.0))).as("avg_cos_fp"),
        min(floor(col("cos") * lit(1000000.0))).as("min_cos_fp"))
      .orderBy("label")
  }

  /** q88 — ANN recall report: the LSH index's quality MEASURED AS A
    * QUERY — |brute-force top-10 ∩ LSH top-10| and the recall in exact
    * basis points. Every serious ANN deployment runs this continuously
    * (recall drifts as the corpus grows); here it composes the two
    * existing oracled pipelines and intersects their id sets, so the
    * oracle is their oracles composed. Exact integer output — no float
    * recall ratio.
    */
  val q88 = Q("q88_ann_recall",
    s"""WITH bf AS (
       |${q35.oracle.get.linesIterator.map("  " + _).mkString("\n")}
       |), lsh AS (
       |${q36.oracle.get.linesIterator.map("  " + _).mkString("\n")}
       |), overlap AS (
       |  SELECT COUNT(*) AS n FROM (
       |    SELECT vec_id FROM bf INTERSECT SELECT vec_id FROM lsh)
       |)
       |SELECT CAST(n AS BIGINT) AS n_overlap,
       |  CAST(n * 1000 AS BIGINT) AS recall_bp
       |FROM overlap""".stripMargin) { (s, dir) =>
    val bf = q35.fn(s, dir).select("vec_id")
    val lsh = q36.fn(s, dir).select("vec_id")
    bf.intersect(lsh)
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"), (col("n_overlap") * 1000).as("recall_bp"))
  }

  private def q94OracleSql: String =
    s"""WITH $embCte, pe AS (
       |  SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e
       |), sums AS (
       |  SELECT label, pos, SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS s_fp, COUNT(*) AS n
       |  FROM pe GROUP BY 1, 2
       |), c0 AS (
       |  SELECT label AS cluster, list(CAST(s_fp AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS c
       |  FROM sums GROUP BY label
       |), sims AS (
       |  SELECT e.vec_id, e.label, c0.cluster,
       |    ${dotSql.format("e.v", "c0.c")} / (${normSql("e.v")} * ${normSql("c0.c")}) AS sim
       |  FROM e, c0
       |), asg AS (
       |  SELECT vec_id, label, cluster, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
       |  FROM sims
       |), a AS (
       |  SELECT vec_id, label, cluster, sim FROM asg WHERE rn = 1
       |), pe1 AS (
       |  SELECT a.cluster, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS pos
       |  FROM a JOIN e ON a.vec_id = e.vec_id
       |), sums1 AS (
       |  SELECT cluster, pos, SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS s_fp, COUNT(*) AS n
       |  FROM pe1 GROUP BY 1, 2
       |), c1 AS (
       |  SELECT cluster, list(CAST(s_fp AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS c
       |  FROM sums1 GROUP BY cluster
       |), rep AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    CAST(SUM(CASE WHEN cluster <> label THEN 1 ELSE 0 END) AS BIGINT) AS n_reassigned,
       |    CAST(SUM(CAST(FLOOR(sim * 1000000.0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1000000.0) AS avg_sim_fp
       |  FROM a GROUP BY cluster
       |)
       |SELECT c0.cluster,
       |  CAST(COALESCE(rep.n_members, 0) AS BIGINT) AS n_members,
       |  CAST(COALESCE(rep.n_reassigned, 0) AS BIGINT) AS n_reassigned,
       |  rep.avg_sim_fp,
       |  ${dotSql.format("c0.c", "c1.c")} / (${normSql("c0.c")} * ${normSql("c1.c")}) AS drift_cos
       |FROM c0
       |LEFT JOIN rep ON c0.cluster = rep.cluster
       |LEFT JOIN c1 ON c0.cluster = c1.cluster
       |ORDER BY c0.cluster""".stripMargin

  /** q94 — one k-means Lloyd step over the embeddings, the clustering
    * iteration behind SemDeDup-style semantic dedup and IVF index
    * training: assign every vector to its nearest current centroid
    * (cosine, broadcast k-row centroid table — a projection over the
    * corpus), then recompute centroids as exact fixed-point means (one
    * (cluster, dim) hash aggregate) and report per-cluster size, how many
    * vectors left their seed label, mean member similarity, and the
    * old→new centroid drift. State is O(k·dim); the corpus is scanned
    * twice and never shuffled except the (cluster, dim) aggregate —
    * Lloyd's exact distributed shape at any scale.
    */
  /** Exact fixed-point centroids per `key`: each element floor-scaled to a
    * long BEFORE summing (associative integer partials, any partition
    * order), decoded to doubles once — the bit-stable mean every k-means
    * round and the q94 oracle share.
    */
  def fixedPointCentroids(members: DataFrame, key: String): DataFrame =
    members.select(col(key), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(key, "pos")
      // explicit bigint cast (Spark's floor already yields LongType; the
      // cast pins the integer-sum invariant against any future type drift,
      // matching ivfCentroidSums) — exact past 2^53 rows × 1e6 scale
      .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("s_fp"), count(lit(1)).as("n"))
      .groupBy(key)
      .agg(expr("transform(array_sort(collect_list(struct(pos, s_fp, n))), " +
        "r -> CAST(r.s_fp AS DOUBLE) / (r.n * 1000000.0))").as("c"))

  val q94 = Q("q94_kmeans_step", q94OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    def centroids(members: DataFrame, key: String): DataFrame =
      fixedPointCentroids(members, key)
    // same fusion as the kmeans loop: centroids collect to the driver
    // and the reassignment is the argmaxLit projection (identical sim
    // tree and struct ordering as the old broadcast-join + struct-max),
    // carrying v so the second centroid pass needs no vec_id join
    val c0 = centroids(e, "label").select(col("label").as("cluster"), col("c"))
      .withColumn("cn0", norm(col("c")))
      .localCheckpoint()
    val c0rows = c0.collect().map(r => (r.getInt(0),
      r.getAs[scala.collection.Seq[Double]]("c").toSeq, r.getDouble(2)))
      .toSeq.sortBy(_._1)
    val mx = argmaxLit(col("v"), norm(col("v")), c0rows)
    val asg = e.select(col("vec_id"), col("label"), col("v"),
        (-mx.getField("nc")).as("cluster"), mx.getField("sim").as("sim"))
      .localCheckpoint()
    val c1 = centroids(asg.select(col("cluster"), col("v")), "cluster")
      .select(col("cluster").as("c1k"), col("c").as("cn"))
    val rep = asg.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        Det.countIf(col("cluster") =!= col("label")).as("n_reassigned"),
        (sum(floor(col("sim") * lit(1000000.0))).cast("double") /
          (count(lit(1)) * lit(1000000.0))).as("avg_sim_fp"))
    c0.join(rep, Seq("cluster"), "left")
      .join(c1, col("cluster") === col("c1k"), "left")
      .select(col("cluster"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("n_reassigned"), lit(0L)).as("n_reassigned"),
        col("avg_sim_fp"),
        (dot(col("c"), col("cn")) / (norm(col("c")) * norm(col("cn")))).as("drift_cos"))
      .orderBy("cluster")
  }

  // ── Product quantization (the compression half of billion-scale ANN) ──

  val PqM = 8       // subspaces
  val PqSubDim = 8  // dims per subspace (8 × 8 = 64)
  val PqK = 16      // codewords per subspace → 4 bits per code

  /** Squared-L2 as the same sequential fold in both engines: zip, per-
    * element (a-b)², then an in-order sum — bit-identical like dotSql.
    */
  private def sqDistSql =
    "list_sum(list_transform(list_zip(%s, %s), x -> (x[1] - x[2]) * (x[1] - x[2])))"

  // ── Oracle fragments shared by the embedding oracles ────────────────

  /** The embeddings as DOUBLE lists: the DuckDB mirror of `asDouble`. */
  private def embDoubleSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Oracle CTE `e` (vec_id, label, v): every embedding. */
  private def embCte: String =
    s"""e AS (
       |  SELECT vec_id, label, $embDoubleSql AS v FROM embeddings
       |)""".stripMargin

  /** [[embCte]] plus each vector's 16-dim prefix `v16`. */
  private def embV16Cte: String =
    s"""e AS (
       |  SELECT vec_id, label, $embDoubleSql AS v,
       |    list_slice($embDoubleSql, 1, 16) AS v16
       |  FROM embeddings
       |)""".stripMargin

  /** Oracle CTEs `un` → `mu` → `cents` (label, centroid): each label's
    * exact fixed-point mean vector over `e`, the IVF coarse quantizer.
    */
  private def labelCentroidCtes: String = {
    val davg6 = "SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) / 1000000.0 / COUNT(x)"
    s"""un AS (
       |  SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e
       |), mu AS (
       |  SELECT label, i, $davg6 AS mu FROM un GROUP BY label, i
       |), cents AS (
       |  SELECT label, list(mu ORDER BY i) AS centroid FROM mu GROUP BY label
       |)""".stripMargin
  }

  /** Oracle CTE `probes`: the [[NProbe]] centroids of `cents` nearest to
    * the query vector `q.qv` by cosine.
    */
  private def probesCte: String =
    s"""probes AS (
       |  SELECT c.label AS probe_label
       |  FROM cents c, q
       |  ORDER BY ${dotSql.format("q.qv", "c.centroid")}
       |    / (${normSql("q.qv")} * ${normSql("c.centroid")}) DESC, c.label
       |  LIMIT $NProbe
       |)""".stripMargin

  /** Oracle CTE `ms`: the PQ subspace ids. */
  private def msCte: String = s"ms AS (\n  SELECT unnest(range($PqM)) AS m\n)"

  /** Oracle CTEs over `ms` and a `src` relation with list column `v`:
    * `cb$sfx` (the seed codebook, the first [[PqK]] rows' subvectors),
    * `sub$sfx` (every row's subvectors) and `dist` (each subvector's
    * squared distance to every codeword of its subspace).
    */
  private def pqCodebookCtes(src: String, v: String, sfx: String, dist: String): String = {
    val slice = s"list_slice($v, CAST(m * $PqSubDim + 1 AS INTEGER), CAST(m * $PqSubDim + $PqSubDim AS INTEGER))"
    s"""cb$sfx AS (
       |  SELECT m, vec_id AS k,
       |    $slice AS cw
       |  FROM $src, ms WHERE vec_id < $PqK
       |), sub$sfx AS (
       |  SELECT vec_id, m,
       |    $slice AS sv
       |  FROM $src, ms
       |), $dist AS (
       |  SELECT s.vec_id, s.m, c.k, ${sqDistSql.format("s.sv", "c.cw")} AS dist
       |  FROM sub$sfx s JOIN cb$sfx c ON s.m = c.m
       |)""".stripMargin
  }

  /** Oracle CTEs over [[embV16Cte]]: `p`, the probe vectors whose ids the
    * relation `probeIdsSql` yields as `probe_id`, and `sims`, each probe's
    * full and 16-dim-prefix cosine to every other vector.
    */
  private def probeSimsCtes(probeIdsSql: String): String =
    s"""p AS (
       |  SELECT e.vec_id AS probe_id, e.v AS pv, e.v16 AS pv16
       |  FROM e JOIN ($probeIdsSql) pid ON e.vec_id = pid.probe_id
       |), sims AS (
       |  SELECT p.probe_id, e.vec_id, e.label,
       |    ${dotSql.format("p.pv", "e.v")} / (${normSql("p.pv")} * ${normSql("e.v")}) AS sim_full,
       |    ${dotSql.format("p.pv16", "e.v16")} / (${normSql("p.pv16")} * ${normSql("e.v16")}) AS sim_t16
       |  FROM p JOIN e ON e.vec_id <> p.probe_id
       |)""".stripMargin

  /** Oracle CTE `er`: each vector's residual `r` from its label's
    * centroid in `cents`.
    */
  private def residualCte: String =
    """er AS (
      |  SELECT e.vec_id, e.label,
      |    list_transform(list_zip(e.v, c.centroid), x -> x[1] - x[2]) AS r
      |  FROM e JOIN cents c ON e.label = c.label
      |)""".stripMargin

  /** Oracle CTEs of one PQ Lloyd step over the seed assignment `a0`:
    * each (subspace, codeword) cell's exact fixed-point member mean
    * (`mem` → `sums` → `ref`), the refined codebook `cb1` (an empty cell
    * keeps its `cb` seed) and the distances `d1` of every `sub` subvector
    * to it.
    */
  private def pqRefineCtes(sub: String, cb: String): String =
    s"""mem AS (
       |  SELECT a.m, a.k, unnest(s.sv) AS x, generate_subscripts(s.sv, 1) AS pos
       |  FROM a0 a JOIN $sub s ON a.vec_id = s.vec_id AND a.m = s.m
       |), sums AS (
       |  SELECT m, k, pos, SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS s_fp, COUNT(*) AS n
       |  FROM mem GROUP BY 1, 2, 3
       |), ref AS (
       |  SELECT m, k, list(CAST(s_fp AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cw
       |  FROM sums GROUP BY m, k
       |), cb1 AS (
       |  SELECT c.m, c.k, COALESCE(r.cw, c.cw) AS cw
       |  FROM $cb c LEFT JOIN ref r ON c.m = r.m AND c.k = r.k
       |), d1 AS (
       |  SELECT s.vec_id, s.m, c.k, ${sqDistSql.format("s.sv", "c.cw")} AS dist
       |  FROM $sub s JOIN cb1 c ON s.m = c.m
       |)""".stripMargin

  /** Codegen'd (VecSqDist) — bit-identical to the
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)` HOF
    * fold it replaced; the interpreted HOF was the measured bottleneck
    * of the M·K-per-vector encode rounds.
    */
  private[ops] def sqDist(a: Column, b: Column): Column =
    graft.functions.VecSqDist(a, b)

  private def q97OracleSql: String =
    s"""WITH $embCte, $msCte, ${pqCodebookCtes("e", "v", "", "d")}, best AS (
       |  SELECT vec_id, m, k, dist,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |  FROM d
       |), codes AS (
       |  SELECT vec_id, array_to_string(list(k ORDER BY m), ',') AS codes,
       |    CAST(SUM(k * (CAST(1 AS BIGINT) << CAST(4 * m AS INTEGER))) AS BIGINT) AS packed_code,
       |    CAST(SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS quant_err
       |  FROM best WHERE rn = 1 GROUP BY vec_id
       |)
       |SELECT e.vec_id, e.label, c.codes, c.packed_code, c.quant_err
       |FROM e JOIN codes c ON e.vec_id = c.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** q97 — product-quantization encode: split each 64-dim vector into 8
    * subvectors, assign each to its nearest of 16 per-subspace codewords
    * (squared L2, tie on codeword id), and emit the code array, the
    * 32-bit packed code, and the fixed-point total quantization error.
    * This is the compression half of IVF-PQ (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): 64 floats → 4 bytes, the
    * representation that lets a billion-vector index live in RAM. Shapes:
    * the codebook (M×K rows, here the first K vectors' subvectors as a
    * deterministic seed — q94's Lloyd step is the training iteration that
    * would refine it) BROADCASTS; the corpus is scanned once, exploded
    * M-way, and reduced by two bounded hash aggregates — no shuffle ever
    * carries more than (rows × M) fixed-width tuples, nothing quadratic.
    * `codes` is emitted as a comma-joined STRING (not array<bigint>) so
    * every output column stays scalar — sortable/hashable by any harness;
    * the array form is derivable from packed_code (4 bits per subspace).
    */
  val q97 = Q("q97_pq_encode", q97OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val subArr = array((0 until PqM).map(m =>
      struct(lit(m).as("m"), slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)
    val sub = e.select(col("vec_id"), explode(subArr).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
    val cb = sub.filter(col("vec_id") < PqK)
      .select(col("m").as("cm"), col("vec_id").as("k"), col("sv").as("cw"))
    val d = sub.join(broadcast(cb), col("m") === col("cm"))
      .select(col("vec_id"), col("m"), col("k"), sqDist(col("sv"), col("cw")).as("dist"))
    // argmin per (vector, subspace) in one hash aggregate — min(struct)
    // gives the oracle's ORDER BY dist, k tie-break directly
    val best = d.groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("k"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.k").as("k"), col("b.dist").as("dist"))
    val codes = best.groupBy("vec_id").agg(
      expr("array_join(transform(array_sort(collect_list(struct(m, k))), r -> CAST(r.k AS STRING)), ',')")
        .as("codes"),
      expr("CAST(sum(k * shiftleft(CAST(1 AS BIGINT), 4 * m)) AS BIGINT)").as("packed_code"),
      (sum(floor(col("dist") * lit(1000000.0)).cast("long")).cast("double") /
        lit(1000000.0)).as("quant_err"))
    e.select(col("vec_id"), col("label")).join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("codes"), col("packed_code"), col("quant_err"))
      .orderBy("vec_id")
  }

  private def q107OracleSql: String =
    s"""WITH $embCte, $msCte, ${pqCodebookCtes("e", "v", "", "d")}, a0 AS (
       |  SELECT vec_id, m, k, dist FROM (
       |    SELECT vec_id, m, k, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM d) WHERE rn = 1
       |), err0 AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS quant_err_seed
       |  FROM a0 GROUP BY vec_id
       |), ${pqRefineCtes("sub", "cb")}, best1 AS (
       |  SELECT vec_id, m, k, dist,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |  FROM d1
       |), codes1 AS (
       |  SELECT vec_id, array_to_string(list(k ORDER BY m), ',') AS codes,
       |    CAST(SUM(k * (CAST(1 AS BIGINT) << CAST(4 * m AS INTEGER))) AS BIGINT) AS packed_code,
       |    CAST(SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS quant_err_trained
       |  FROM best1 WHERE rn = 1 GROUP BY vec_id
       |)
       |SELECT e.vec_id, e.label, c.codes, c.packed_code,
       |  e0.quant_err_seed, c.quant_err_trained
       |FROM e JOIN codes1 c ON e.vec_id = c.vec_id
       |JOIN err0 e0 ON e.vec_id = e0.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** q107 — one PQ TRAINING round (the per-subspace Lloyd step the q97
    * docstring promised): assign every subvector to its nearest seed
    * codeword, recompute each (subspace, codeword) cell as the exact
    * fixed-point mean of its members (empty cells — possible when seed
    * subvectors collide — keep their seed), re-encode the corpus against
    * the REFINED codebook, and report per-vector codes plus both
    * quantization errors. Lloyd monotonicity makes the total trained
    * error ≤ the seed error (spec-measured); this is how the q97/q99/q106
    * codebooks would actually be trained at scale — each round is two
    * broadcast-join encodes and one (M×K×subdim)-cell hash aggregate,
    * corpus-linear, state O(M·K·subdim). The oracle unrolls the round as
    * CTEs exactly like q103 does for vector-space k-means.
    */
  /** Per-row PQ encode against a DRIVER-SIDE codebook, as one projection:
    * array over m of struct(m, k, dist), argmin by (dist, k) within each
    * subspace — the identical lexicographic ordering `min(struct(dist,
    * k))` applies, with the identical sqDist fold, so the codes and
    * distances are bit-equal to the broadcast-join + groupBy form while
    * costing ZERO exchanges (M·K state rides the plan like a broadcast).
    */
  private def encodeLit(v: Column,
      cb: Map[Int, Seq[(Long, Seq[Double])]]): Column =
    graft.functions.PqEncode(v, cb)

  /** The pre-kernel literal-struct tree form of [[encodeLit]] — M·K
    * VecSqDist probes + array_min per subspace. Kept as the spec anchor
    * the fused [[graft.functions.PqEncode]] kernel is pinned bit-equal
    * to (OpsSpec), and as the measured negative baseline: `dimprobe`
    * timed this tree at 219 s / 500k vectors at dim 768 (M=96) vs the
    * kernel's single fused loop nest.
    */
  private[graft] def encodeLitTree(v: Column,
      cb: Map[Int, Seq[(Long, Seq[Double])]], mCount: Int = PqM,
      subDim: Int = PqSubDim): Column =
    array((0 until mCount).map { m =>
      val sv = slice(v, m * subDim + 1, subDim)
      val best = array_min(array(cb(m).map { case (k, cw) =>
        struct(sqDist(sv, typedlit(cw)).as("dist"), lit(k).as("k"))
      }: _*))
      struct(lit(m).as("m"), best.getField("k").as("k"),
        best.getField("dist").as("dist"))
    }: _*)

  /** In-row µ-unit quantization error of an encodeLit array — integer
    * addition, so the m-ascending fold equals any aggregation order.
    */
  private def codesErrFp(codes: Column): Column =
    aggregate(transform(codes, r => floor(r.getField("dist") * lit(1000000.0))),
      lit(0L), (a, x) => a + x)

  val q107 = Q("q107_pq_train_round", q107OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    // seed codebook: the first PqK vectors' subvectors, collected once
    // (M·K·subdim doubles of driver state — a broadcast in all but name)
    val seedRows = e.filter(col("vec_id") < PqK).select("vec_id", "v")
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("v").toSeq).sortBy(_._1)
    val cb0 = (0 until PqM).map(m => m -> seedRows.toSeq.map { case (k, v) =>
      k -> v.slice(m * PqSubDim, m * PqSubDim + PqSubDim) }).toMap
    // pass 1: per-row seed encode — a pure projection, no join/shuffle
    val a = e.select(col("vec_id"), col("label"), col("v"),
      encodeLit(col("v"), cb0).as("codes0")).localCheckpoint()
    // the one corpus-sized exchange of the round: (m, k, pos) integer
    // centroid sums over the assigned subvectors, map-side combined down
    // to M·K·subdim cells per task; decode stays in Spark so the
    // refined-codeword arithmetic tree is unchanged
    val mem = a.select(explode(col("codes0")).as("c"), col("v"))
      .select(col("c.m").as("m"), col("c.k").as("k"),
        posexplode(slice(col("v"), col("c.m") * lit(PqSubDim) + lit(1),
          lit(PqSubDim))).as(Seq("pos", "x")))
    val ref = mem.groupBy("m", "k", "pos")
      .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("s_fp"),
        count(lit(1)).as("n"))
      .groupBy("m", "k")
      .agg(expr("transform(array_sort(collect_list(struct(pos, s_fp, n))), " +
        "r -> CAST(r.s_fp AS DOUBLE) / (r.n * 1000000.0))").as("rcw"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        r.getAs[scala.collection.Seq[Double]]("rcw").toSeq).toMap
    // Lloyd update: refined codeword where the cell had members, seed
    // codeword otherwise — merged on the driver
    val cb1 = cb0.map { case (m, ks) =>
      m -> ks.map { case (k, cw) => k -> ref.getOrElse((m, k), cw) } }
    // pass 2: per-row re-encode + ALL outputs in-row — codes string and
    // packed code fold the m-ascending array (the sort the old
    // collect_list needed is free), errors are integer sums
    a.select(col("vec_id"), col("label"),
        col("codes0"), encodeLit(col("v"), cb1).as("codes1"))
      .select(col("vec_id"), col("label"),
        expr("array_join(transform(codes1, r -> CAST(r.k AS STRING)), ',')").as("codes"),
        expr("aggregate(codes1, CAST(0 AS BIGINT), " +
          "(a, r) -> a + r.k * shiftleft(CAST(1 AS BIGINT), 4 * r.m))").as("packed_code"),
        (codesErrFp(col("codes0")).cast("double") / lit(1000000.0)).as("quant_err_seed"),
        (codesErrFp(col("codes1")).cast("double") / lit(1000000.0)).as("quant_err_trained"))
      .orderBy("vec_id")
  }

  /** The frozen (m, k, cw) codebook parquet that travels with a PQ code
    * artifact — what new vectors encode against when APPENDING.
    */
  def cbPath(codesPath: String): String = codesPath + "_cb"

  /** Per-subspace explode of a vector frame: (vec_id, m, sv). */
  private def subspaces(e: DataFrame, vcol: String): DataFrame = {
    val subArr = array((0 until PqM).map(m =>
      struct(lit(m).as("m"), slice(col(vcol), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)
    e.select(col("vec_id"), explode(subArr).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
  }

  /** Encode every vector of `sub` against codebook `cb`, keeping the
    * winning subspace distance — the shared argmin kernel of the build
    * and append paths (one broadcast join, one hash aggregate; tie on
    * codeword id like the q97 oracle).
    */
  private def encodeAgainstWithDist(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), col("m") === col("cm"))
      .select(col("vec_id"), col("m"), col("k"), sqDist(col("sv"), col("cw")).as("dist"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("k"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.k").as("k"), col("b.dist").as("dist"))

  private def encodeAgainst(sub: DataFrame, cb: DataFrame): DataFrame =
    encodeAgainstWithDist(sub, cb).select("vec_id", "m", "k")

  /** Per-vector fixed-point quantization error (µ-units, the sidecar
    * convention) from an encode-with-dist frame.
    */
  private def vecErrFp(coded: DataFrame): DataFrame =
    coded.groupBy("vec_id")
      .agg(sum(floor(col("dist") * lit(1000000.0)).cast("long")).as("err_fp"))

  /** Build step: materialize (vec_id, m, k) PQ code assignments once per
    * corpus (cached like the IVF build; at scale the codes are a written
    * index artifact of 4 bytes/vector, not per-query work), plus the
    * frozen codebook beside them.
    */
  def buildPqIndex(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("pq_codes", dir, "embeddings") { root =>
      val e = emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))
      writePqIndex(e, s"$root/codes")
    }
    s"$root/codes"
  }

  /** Write codes + codebook for a (vec_id, v) frame. The codebook seed is
    * the first PqK vectors' subvectors (deterministic; q94's Lloyd loop is
    * the trainer that would refine it). Also writes the per-vector
    * quantization-error sidecar (`errPath`, µ-unit BIGINTs) — the
    * TRAINING-ERROR BASELINE the append path's drift trigger compares
    * against; codes commit last so `_SUCCESS` implies the sidecar exists.
    */
  def writePqIndex(e: DataFrame, path: String): Unit = {
    val sub = subspaces(e, "v")
    val cb = sub.filter(col("vec_id") < PqK)
      .select(col("m").as("cm"), col("vec_id").as("k"), col("sv").as("cw"))
    cb.write.mode("overwrite").parquet(cbPath(path))
    val coded = encodeAgainstWithDist(sub, cb).localCheckpoint()
    vecErrFp(coded).write.mode("overwrite").parquet(errPath(path))
    writeBuildMeta(e, path)
    coded.select("vec_id", "m", "k").write.mode("overwrite").parquet(path)
  }

  /** Incrementally encode NEW vectors against the artifact's FROZEN
    * codebook and append their codes — the 100 TB maintenance path (the
    * IVF-sums twin: `appendIvfIndex`). Exactness is structural: a code is
    * a per-vector function of (v, codebook), so frozen-codebook append
    * equals a from-scratch rebuild over the union bit-for-bit
    * (spec-pinned). Codebook DRIFT — when enough appended mass would move
    * the trained codewords — is the rebuild trigger, exactly as in Faiss:
    * the index serves stale-but-valid codes until retraining;
    * `appendPqIndexMeasured` below is this append WITH that trigger.
    */
  def appendPqIndex(s: SparkSession, path: String, delta: DataFrame): Unit = {
    val cb = s.read.parquet(cbPath(path))
    encodeAgainst(subspaces(delta, "v"), cb).write.mode("append").parquet(path)
  }

  /** One append's drift verdict: how much worse the frozen codebook
    * quantizes the appended vectors than the corpus it was built/trained
    * on. All µ-unit fixed point — `driftPct` is the append's mean
    * per-vector error as an integer percentage of the training mean, and
    * `rebuild` fires at the threshold (Faiss's operating rule made a
    * measured decision instead of folklore: serve stale-but-valid codes
    * until the appended mass demonstrably quantizes worse).
    */
  final case class PqAppendDrift(
      nAppended: Long,
      meanAppendErrFp: Long,
      baselineMeanErrFp: Long,
      driftPct: Long,
      rebuild: Boolean)

  /** Where the per-append drift audit rows live, beside the codes. */
  def driftAuditPath(codesPath: String): String = codesPath + "_drift"

  /** The MEASURED append — codes written exactly as `appendPqIndex`
    * (spec-pinned bit-equal), plus the codebook-drift statistic the
    * round-trip was already paying for: the encode computes every
    * winning subspace distance, so the appended vectors' quantization
    * error is one extra aggregate, not a second pass. Baseline = the
    * artifact's error sidecar mean (`err_trained_fp` when the artifact
    * is trained, `err_fp` otherwise — both written at build time).
    * Returns the verdict and appends it to a drift audit table so the
    * rebuild decision has a history; thresholdPct = 150 means "rebuild
    * when appended vectors quantize ≥1.5× worse than training". Scale
    * shape: identical to the plain append (broadcast codebook, one
    * hash aggregate over the DELTA only) — the corpus is never rescanned.
    */
  def appendPqIndexMeasured(s: SparkSession, path: String, delta: DataFrame,
      thresholdPct: Long = 150L): PqAppendDrift = {
    val cb = s.read.parquet(cbPath(path))
    val coded = encodeAgainstWithDist(subspaces(delta, "v"), cb).localCheckpoint()
    coded.select("vec_id", "m", "k").write.mode("append").parquet(path)
    val errs = s.read.parquet(errPath(path))
    val baseCol = if (errs.columns.contains("err_trained_fp")) "err_trained_fp" else "err_fp"
    val base = errs.agg(sum(col(baseCol)).cast("long").as("s"),
      count(lit(1)).as("n")).head()
    val baselineMean = base.getLong(0) / math.max(base.getLong(1), 1L)
    val app = vecErrFp(coded).agg(sum(col("err_fp")).cast("long").as("s"),
      count(lit(1)).as("n")).head()
    val n = app.getLong(1)
    val appendMean = if (n > 0) app.getLong(0) / n else 0L
    val driftPct = if (baselineMean > 0) appendMean * 100L / baselineMean
      else if (appendMean > 0) Long.MaxValue else 100L
    val verdict = PqAppendDrift(n, appendMean, baselineMean, driftPct,
      rebuild = driftPct >= thresholdPct)
    s.createDataFrame(Seq(
        (verdict.nAppended, verdict.meanAppendErrFp, verdict.baselineMeanErrFp,
          verdict.driftPct, verdict.rebuild)))
      .toDF("n_appended", "mean_append_err_fp", "baseline_mean_err_fp",
        "drift_pct", "rebuild")
      .write.mode("append").parquet(driftAuditPath(path))
    verdict
  }

  /** The ADC search tail over an `adc` (vec_id, label, adc_fp)
    * relation: the 10 nearest by ADC distance, each with its exact cosine
    * to `q.qv` and, with `candidates`, the number of vectors scored.
    * Closes the WITH chain.
    */
  private def adcTopSql(candidates: Boolean = false): String = {
    val nCand =
      if (candidates) "\n  (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM adc) AS n_candidates," else ""
    s"""shortlist AS (
       |  SELECT vec_id, label, CAST(adc_fp AS DOUBLE) / 1000000.0 AS adc_dist
       |  FROM adc ORDER BY adc_fp, vec_id LIMIT 10
       |)
       |SELECT s.vec_id, s.label, s.adc_dist,$nCand
       |  ${dotSql.format("q.qv", "b.v")} / (${normSql("q.qv")} * ${normSql("b.v")}) AS cosine_sim
       |FROM shortlist s
       |JOIN e b ON s.vec_id = b.vec_id
       |CROSS JOIN q
       |ORDER BY s.adc_dist, s.vec_id""".stripMargin
  }

  /** q99's oracle; `codesWhere` restricts the code store (q216: to the
    * survivors of a forget), and `candidates` adds the scored-vector count.
    */
  private[ops] def q99OracleSql(codesWhere: String = "", candidates: Boolean = false): String = {
    s"""WITH $embCte, $msCte, ${pqCodebookCtes("e", "v", "", "dd")}, bestc AS (
       |  SELECT vec_id, m, k,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |  FROM dd
       |), codes AS (
       |  SELECT vec_id, m, k FROM bestc WHERE rn = 1$codesWhere
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = 0
       |), lut AS (
       |  SELECT s.m, c.k, ${sqDistSql.format("s.sv", "c.cw")} AS ld
       |  FROM (SELECT m, sv FROM sub WHERE vec_id = 0) s JOIN cb c ON s.m = c.m
       |), $labelCentroidCtes, $probesCte, adc AS (
       |  SELECT e.vec_id, e.label,
       |    CAST(SUM(CAST(FLOOR(l.ld * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_fp
       |  FROM e
       |  JOIN codes c ON e.vec_id = c.vec_id
       |  JOIN lut l ON c.m = l.m AND c.k = l.k
       |  WHERE e.vec_id <> 0 AND e.label IN (SELECT probe_label FROM probes)
       |  GROUP BY 1, 2
       |), ${adcTopSql(candidates)}""".stripMargin
  }

  /** q99 — IVF-PQ ANN search, the billion-scale query path (Jégou et al.
    * 2011; the Faiss IVFPQ architecture): probe the NProbe nearest coarse
    * centroids (the q38 IVF artifact), score every vector in the probed
    * partitions by ASYMMETRIC DISTANCE — the query builds an M×K lookup
    * table of subspace distances once (128 cells, broadcast), and each
    * candidate costs M table lookups against its stored 4-bit codes (the
    * q97 artifact) instead of a 64-dim float scan — then exact-rerank only
    * the top-10 shortlist. At 100 TB the engine reads 4-byte codes for the
    * probed partitions (RAM-resident at billions of vectors), touches full
    * float vectors for 10 rows, and every join here is a broadcast of
    * O(M×K) or O(k) state — the corpus-sized side never shuffles.
    */
  val q99 = Q("q99_ivf_pq_search", q99OracleSql()) { (s, dir) =>
    pqSearch(s, dir, buildPqIndex(s, dir))
  }

  /** q99's search for vector 0 over the PQ code store at `codesPath`.
    * With `candidates`, every row also carries the number of vectors the
    * ADC scan scored (q216 runs it over an erased copy of the codes).
    */
  private[ops] def pqSearch(s: SparkSession, dir: String, codesPath: String,
      candidates: Boolean = false): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val codes = s.read.parquet(codesPath)
    val cents = s.read.parquet(buildIvfIndex(s, dir))
    val qrow = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val qsub = qrow.select(explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("qv"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("p"))
      .select(col("p.m").as("qm"), col("p.sv").as("qs"))
    val cb = e.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("k"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("v"), m * PqSubDim + 1, PqSubDim).as("cw"))): _*)).as("p"))
      .select(col("k"), col("p.m").as("cm"), col("p.cw").as("cw"))
    val lut = qsub.join(cb, col("qm") === col("cm"))
      .select(col("cm").as("lm"), col("k").as("lk"), sqDist(col("qs"), col("cw")).as("ld"))
    adcRerank(e, qrow, probedCodes(e, probeCells(cents, qrow), codes)
      .join(broadcast(lut), col("m") === col("lm") && col("k") === col("lk")),
      candidates)
  }

  /** The NProbe coarse cells nearest the query row `qrow` (qv). */
  private def probeCells(cents: DataFrame, qrow: DataFrame): DataFrame =
    cents.crossJoin(broadcast(qrow))
      .select(col("label").as("probe_label"),
        (dot(col("qv"), col("centroid")) / (norm(col("qv")) * norm(col("centroid")))).as("c_sim"))
      .orderBy(col("c_sim").desc, col("probe_label"))
      .limit(NProbe)

  /** Every vector but the query in a probed cell, joined to its code rows. */
  private def probedCodes(e: DataFrame, probes: DataFrame, codes: DataFrame): DataFrame =
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(probes.select("probe_label")),
        col("label") === col("probe_label"), "left_semi")
      .select("vec_id", "label")
      .join(codes, Seq("vec_id"))

  /** The ADC tail of q99/q106/q216: each candidate's fixed-point sum of
    * its LUT distances `ld`, the top-10 shortlist, and its exact cosine
    * rerank; `candidates` adds the number of vectors scored.
    */
  private def adcRerank(e: DataFrame, qrow: DataFrame, lutRows: DataFrame,
      candidates: Boolean): DataFrame = {
    val adc = lutRows.groupBy("vec_id", "label")
      .agg(sum(floor(col("ld") * lit(1000000.0)).cast("long")).as("adc_fp"))
    val scored = if (candidates) adc.localCheckpoint() else adc
    val shortlist = scored.orderBy("adc_fp", "vec_id").limit(10)
      .select(col("vec_id"), col("label"),
        (col("adc_fp").cast("double") / lit(1000000.0)).as("adc_dist"))
    val reranked = shortlist
      .join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .crossJoin(broadcast(qrow))
    val withCount =
      if (candidates)
        reranked.crossJoin(broadcast(
          scored.agg(count(lit(1)).cast("long").as("n_candidates"))))
      else reranked
    withCount
      .select(Seq(col("vec_id"), col("label"), col("adc_dist")) ++
        (if (candidates) Seq(col("n_candidates")) else Nil) :+
        (dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v")))).as("cosine_sim"): _*)
      .orderBy("adc_dist", "vec_id")
  }

  /** Build the RESIDUAL PQ code artifact (IVFADC's compressed payload —
    * codes of v − centroid(cell(v)), not of v): subtract each vector's
    * cell centroid (the IVF artifact), then encode the residuals with `writePqIndex`
    * (seed codebook = the first PqK RESIDUALS' subvectors). Residuals are
    * what IVFADC compresses because they are smaller and center on zero —
    * the same code budget quantizes a tighter distribution, which is why
    * residual recall ≥ raw recall (spec-measured).
    */
  def buildResPqIndex(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("respq_codes", dir, "embeddings") { root =>
      val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val cents = s.read.parquet(buildIvfIndex(s, dir))
        .select(col("label").as("cl"), col("centroid"))
      val er = e.join(broadcast(cents), col("label") === col("cl"))
        .select(col("vec_id"), zip_with(col("v"), col("centroid"), _ - _).as("v"))
      writePqIndex(er, s"$root/codes")
    }
    s"$root/codes"
  }

  /** Per-vector fixed-point quantization-error sidecar that travels with
    * the trained code artifact (seed vs trained codebook, BIGINT µ-units)
    * — what serving-chain reports read instead of re-encoding anything.
    */
  def errPath(codesPath: String): String = codesPath + "_err"

  /** Build-metadata sidecar beside a PQ code artifact: one row with the
    * TRAINING corpus's row count and a deterministic content fingerprint
    * (bit_xor of per-row xxhash64 — order-free, engine-reproducible, no
    * wall clock anywhere). This is what lets a rebuild decision reason
    * about codebook AGE: appends are logged in the drift audit, so
    * appended-rows / trained-rows is a pure function of the sidecars.
    */
  def buildMetaPath(codesPath: String): String = codesPath + "_meta"

  private def writeBuildMeta(e: DataFrame, codesPath: String): Unit =
    e.agg(count(lit(1)).as("n_train_rows"),
        expr("bit_xor(xxhash64(vec_id))").as("train_fp"))
      .write.mode("overwrite").parquet(buildMetaPath(codesPath))

  /** Codebook age of a PQ artifact, from sidecars only: rows appended
    * since training (the drift audit's ledger) over rows trained on.
    */
  final case class IndexAge(trainedRows: Long, appendedRows: Long, agePct: Long)

  def pqIndexAge(s: SparkSession, path: String): IndexAge = {
    val meta = s.read.parquet(buildMetaPath(path)).head()
    val trained = meta.getLong(0)
    val audit = new java.io.File(driftAuditPath(path))
    val appended =
      if (audit.exists())
        s.read.parquet(driftAuditPath(path))
          .agg(sum(col("n_appended")).cast("long")).head().getLong(0)
      else 0L
    IndexAge(trained, appended,
      if (trained > 0) appended * 100L / trained
      else if (appended > 0) Long.MaxValue else 0L)
  }

  /** The consolidated PQ rebuild decision — the q132 pattern applied to
    * the artifact's own sidecars instead of corpus drift: rebuild when
    * any logged append tripped the quantization-drift trigger OR the
    * appended mass has outgrown the training corpus (age threshold).
    * Reads only sidecar rows; never touches codes or vectors.
    */
  def pqRebuildDecision(s: SparkSession, path: String,
      ageThresholdPct: Long = 50L): (IndexAge, Boolean, Boolean) = {
    val age = pqIndexAge(s, path)
    val audit = new java.io.File(driftAuditPath(path))
    val driftTripped = audit.exists() &&
      s.read.parquet(driftAuditPath(path))
        .filter(col("rebuild")).limit(1).count() > 0
    (age, driftTripped, driftTripped || age.agePct >= ageThresholdPct)
  }

  /** Build the TRAINED residual-PQ artifact: q106's residuals
    * (v − centroid(cell), the IVF artifact), seed codebook = first PqK
    * residual subvectors, then ONE q107 Lloyd round (assign → exact
    * fixed-point cell means; empty cells keep their seed) refines the
    * codebook, and the whole corpus re-encodes against the REFINED book.
    * Writes three tables: codes (vec_id, m, k), the frozen trained
    * codebook (`cbPath` — what appends and query LUTs read), and the
    * per-vector seed/trained error sidecar (`errPath`; Lloyd
    * monotonicity makes Σtrained ≤ Σseed, spec-pinned), all inside one
    * [[DerivedStore]] root. Same scale shape as the untrained build: two
    * broadcast-codebook encodes plus one (M·K·subdim)-cell hash
    * aggregate, corpus-linear.
    */
  def buildTrainedResPqIndex(s: SparkSession, dir: String): String = {
    val root = DerivedStore.cached("trespq_codes", dir, "embeddings") { root =>
      val path = s"$root/codes"
      val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val cents = s.read.parquet(buildIvfIndex(s, dir))
        .select(col("label").as("cl"), col("centroid"))
      val er = e.join(broadcast(cents), col("label") === col("cl"))
        .select(col("vec_id"), zip_with(col("v"), col("centroid"), _ - _).as("v"))
      val sub = subspaces(er, "v").localCheckpoint()
      val cb0 = sub.filter(col("vec_id") < PqK)
        .select(col("m").as("cm"), col("vec_id").as("k"), col("sv").as("cw"))
      val a0 = sub.join(broadcast(cb0), col("m") === col("cm"))
        .select(col("vec_id"), col("m"), col("k"), sqDist(col("sv"), col("cw")).as("dist"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("dist"), col("k"))).as("b"))
        .select(col("vec_id"), col("m"), col("b.k").as("k"), col("b.dist").as("dist"))
        .localCheckpoint()
      val mem = a0.select(col("vec_id"), col("m"), col("k"))
        .join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("k"), posexplode(col("sv")).as(Seq("pos", "x")))
      val ref = mem.groupBy("m", "k", "pos")
        .agg(sum(floor(col("x") * lit(1000000.0)).cast("long")).as("s_fp"),
          count(lit(1)).as("n"))
        .groupBy("m", "k")
        .agg(expr("transform(array_sort(collect_list(struct(pos, s_fp, n))), " +
          "r -> CAST(r.s_fp AS DOUBLE) / (r.n * 1000000.0))").as("rcw"))
        .select(col("m").as("rm"), col("k").as("rk"), col("rcw"))
      val cb1 = cb0.join(ref, col("cm") === col("rm") && col("k") === col("rk"), "left")
        .select(col("cm"), col("k"), coalesce(col("rcw"), col("cw")).as("cw"))
      cb1.write.mode("overwrite").parquet(cbPath(path))
      val cb1r = s.read.parquet(cbPath(path))
      val best1 = sub.join(broadcast(cb1r), col("m") === col("cm"))
        .select(col("vec_id"), col("m"), col("k"), sqDist(col("sv"), col("cw")).as("dist"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("dist"), col("k"))).as("b"))
        .select(col("vec_id"), col("m"), col("b.k").as("k"), col("b.dist").as("dist"))
        .localCheckpoint()
      val err0 = a0.groupBy("vec_id")
        .agg(sum(floor(col("dist") * lit(1000000.0)).cast("long")).as("err_seed_fp"))
      val err1 = best1.groupBy("vec_id")
        .agg(sum(floor(col("dist") * lit(1000000.0)).cast("long")).as("err_trained_fp"))
      err0.join(err1, Seq("vec_id")).write.mode("overwrite").parquet(errPath(path))
      writeBuildMeta(er, path)
      best1.select(col("vec_id"), col("m"), col("k")).write.mode("overwrite").parquet(path)
    }
    s"$root/codes"
  }

  private def q106OracleSql: String = {
    s"""WITH $embCte, $msCte, $labelCentroidCtes, $residualCte, ${pqCodebookCtes("er", "r", "r", "ddr")}, bestc AS (
       |  SELECT vec_id, m, k,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |  FROM ddr
       |), codes AS (
       |  SELECT vec_id, m, k FROM bestc WHERE rn = 1
       |), q AS (
       |  SELECT v AS qv FROM e WHERE vec_id = 0
       |), $probesCte, rq AS (
       |  SELECT p.probe_label AS cell,
       |    list_transform(list_zip(q.qv, c.centroid), x -> x[1] - x[2]) AS rqv
       |  FROM probes p JOIN cents c ON p.probe_label = c.label CROSS JOIN q
       |), lut AS (
       |  SELECT r.cell, ms.m, c.k,
       |    ${sqDistSql.format(
             s"list_slice(r.rqv, CAST(ms.m * $PqSubDim + 1 AS INTEGER), CAST(ms.m * $PqSubDim + $PqSubDim AS INTEGER))",
             "c.cw")} AS ld
       |  FROM rq r, ms JOIN cbr c ON ms.m = c.m
       |), adc AS (
       |  SELECT e.vec_id, e.label,
       |    CAST(SUM(CAST(FLOOR(l.ld * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_fp
       |  FROM e
       |  JOIN codes c ON e.vec_id = c.vec_id
       |  JOIN lut l ON e.label = l.cell AND c.m = l.m AND c.k = l.k
       |  WHERE e.vec_id <> 0
       |  GROUP BY 1, 2
       |), ${adcTopSql()}""".stripMargin
  }

  /** q106 — TRUE IVFADC (Jégou et al. 2011, §IV): like q99 but the PQ
    * codes compress RESIDUALS r = v − centroid(cell(v)) (the materialized
    * `buildResPqIndex` artifact), and the query builds one M×K lookup
    * table PER PROBED CELL from its cell-residualized query vector —
    * distances are then M lookups against the candidate's residual codes.
    * Residuals center on zero with smaller spread, so the same 4-bit code
    * budget yields tighter quantization (the spec measures residual
    * recall ≥ raw-PQ recall). Scale shape is q99's: candidates restricted
    * to probed cells via the semi-join, codes scanned not vectors,
    * broadcast state grows only to NProbe×M×K LUT cells; the
    * membership-implicit cell id (label) means no per-vector cell lookup
    * table is ever joined. Note the LUT join key includes the CELL — a
    * candidate's ADC distance uses its own cell's residualized query, the
    * detail that distinguishes IVFADC from single-LUT PQ scan.
    */
  val q106 = Q("q106_ivfadc_residual", q106OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val codes = s.read.parquet(buildResPqIndex(s, dir))
    val cents = s.read.parquet(buildIvfIndex(s, dir))
    val centSel = cents.select(col("label").as("cl"), col("centroid"))
    val cb = s.read.parquet(cbPath(buildResPqIndex(s, dir)))
    val qrow = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val probes = probeCells(cents, qrow)
    val rq = probes.join(broadcast(centSel), col("probe_label") === col("cl"))
      .crossJoin(broadcast(qrow))
      .select(col("probe_label").as("cell"),
        zip_with(col("qv"), col("centroid"), _ - _).as("rqv"))
    val rqsub = rq.select(col("cell"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"), slice(col("rqv"), m * PqSubDim + 1, PqSubDim).as("qs"))): _*)).as("p"))
      .select(col("cell"), col("p.m").as("qm"), col("p.qs").as("qs"))
    val lut = rqsub.join(cb, col("qm") === col("cm"))
      .select(col("cell").as("lc"), col("cm").as("lm"), col("k").as("lk"),
        sqDist(col("qs"), col("cw")).as("ld"))
    adcRerank(e, qrow, probedCodes(e, probes, codes)
      .join(broadcast(lut),
        col("label") === col("lc") && col("m") === col("lm") && col("k") === col("lk")),
      candidates = false)
  }

  private def bucketSumSql: String =
    (0 until NumPlanes).map { i =>
      val planeLit = planes(i).map(_.toString).mkString("[", ", ", "]")
      s"    (CASE WHEN ${dotSql.format("v", planeLit)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" +\n")

  private def q98OracleSql: String =
    s"""WITH $embCte, bk AS (
       |  SELECT vec_id, label, v,
       |$bucketSumSql AS bucket
       |  FROM e
       |), pairs AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS neg_id, b.label AS neg_label,
       |    ${dotSql.format("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}) AS sim
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.label <> b.label
       |), ranked AS (
       |  SELECT vec_id, label, neg_id, neg_label, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, neg_id) AS neg_rank
       |  FROM pairs
       |)
       |SELECT vec_id, label, CAST(neg_rank AS INTEGER) AS neg_rank, neg_id, neg_label, sim
       |FROM ranked WHERE neg_rank <= 2
       |ORDER BY vec_id, neg_rank""".stripMargin

  /** q98 — hard-negative mining for contrastive training: each vector's
    * top-2 most-cosine-similar neighbors with a DIFFERENT label, from
    * LSH-bucket candidates (same signed-projection bucket, different
    * label). The near-but-wrong-label pairs are exactly what a
    * contrastive/embedding trainer wants in its batches. The all-pairs
    * different-label product is ~n² — the bucket equi-join bounds
    * candidates per vector by bucket occupancy (a tunable: more planes →
    * smaller buckets), so the join, the per-vector rank (window partitions
    * are bucket-bounded, never corpus-sized), and the shuffle all scale
    * with Σ bucket², not n².
    */
  val q98 = Q("q98_hard_negatives", q98OracleSql) { (s, dir) =>
    val e = emb(s, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", lshBucket(col("v")))
      .withColumn("nn", norm(col("v")))
    val b2 = e.select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
      col("v").as("nv"), col("bucket").as("nb"), col("nn").as("bn"))
    val pairs = e.join(b2, col("bucket") === col("nb") && col("label") =!= col("neg_label"))
      .select(col("vec_id"), col("label"), col("neg_id"), col("neg_label"),
        (dot(col("v"), col("nv")) / (col("nn") * col("bn"))).as("sim"))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("neg_id"))
    pairs.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 2)
      .select(col("vec_id"), col("label"), col("neg_rank"), col("neg_id"),
        col("neg_label"), col("sim"))
      .orderBy("vec_id", "neg_rank")
  }

  /** Lloyd's algorithm to convergence — the trainer behind the IVF coarse
    * quantizer (q38), the PQ codebooks (q97), and SemDeDup's clusters
    * (q100); q94 is one step of this loop, oracled. Input: (vec_id, v)
    * plus an initial integer assignment column. Each round recomputes
    * exact fixed-point centroids (one (cluster, dim) hash aggregate),
    * broadcasts the k×dim table, reassigns by cosine argmax (tie: lowest
    * cluster id), and stops when no vector moves or `maxIters` is hit.
    * Scale shape per round: two corpus scans, O(k·dim) driver/broadcast
    * state, `localCheckpoint` on the assignment so the plan never
    * re-derives prior rounds (the PageRank rank-vector lesson). Returns
    * (final assignment, rounds run, vectors moved in the last round —
    * or −1 when the iteration cap cut the loop before that count, since
    * the count's only job is deciding whether to run another round and
    * skipping it saves a job for fixed-round callers like q103/q104).
    */
  /** Literal-centroid cosine argmax: one Lloyd reassignment as a PURE
    * PROJECTION against a driver-collected (cluster, centroid, norm)
    * table — the k×dim state rides the plan (a broadcast in all but
    * mechanism), so the round pays zero joins and zero shuffles to
    * reassign. Bit-equal to the broadcast-join + struct-max form it
    * replaced: the sim tree is the identical dot/(vn·cn) (cn collected
    * verbatim from the same executor-computed norm), and `array_max`
    * applies the same struct ordering (sim desc, then lowest cluster id
    * via the negated id) as the `max(struct(...))` aggregate.
    */
  private def argmaxLit(v: Column, vn: Column,
      cents: Seq[(Int, Seq[Double], Double)]): Column =
    array_max(array(cents.map { case (id, c, cn) =>
      struct((dot(v, typedlit(c)) / (vn * lit(cn))).as("sim"),
        lit(-id).as("nc"))
    }: _*))

  def kmeans(e: DataFrame, initCol: String, maxIters: Int = 10): (DataFrame, Int, Long) = {
    val s = e.sparkSession
    // Iterative state carries the vector WITH its assignment —
    // (vec_id, v, vn, cluster), localCheckpointed — so a round never
    // re-joins the corpus on vec_id. Per round: ONE map-side-combined
    // (cluster, pos) aggregate (the centroid sums, k·dim rows per task
    // after combine), a k×dim driver collect, and the argmaxLit
    // projection; the moved count scans the fresh checkpoint. The
    // previous form paid three corpus-sized exchanges per round (the
    // vec_id join feeding the centroids, the argmax groupBy, and the
    // moved-count join).
    var state = e.select(col("vec_id"), col("v"), norm(col("v")).as("vn"),
      col(initCol).cast("int").as("cluster")).localCheckpoint()
    var rounds = 0
    var moved = -1L
    while (rounds < maxIters && moved != 0L) {
      val cents = fixedPointCentroids(
          state.select(col("cluster"), col("v")), "cluster")
        .withColumn("cn", norm(col("c")))
        .collect()
        .map(r => (r.getInt(0),
          r.getAs[scala.collection.Seq[Double]]("c").toSeq, r.getDouble(2)))
        .toSeq.sortBy(_._1)
      val next = state.select(col("vec_id"), col("v"), col("vn"),
        (-argmaxLit(col("v"), col("vn"), cents).getField("nc")).cast("int")
          .as("cluster"),
        col("cluster").as("prev")).localCheckpoint()
      rounds += 1
      moved =
        if (rounds < maxIters)
          next.filter(col("cluster") =!= col("prev")).count()
        else -1L
      state = next.drop("prev")
    }
    (state.select("vec_id", "cluster"), rounds, moved)
  }

  /** Oracle CTE builders for an unrolled Lloyd round (shared by q103 and
    * q104): exact fixed-point centroids of `member`'s clusters, and the
    * cosine-argmax reassignment against centroid table `cents`.
    */
  private def centroidCtes(member: String, tag: String) = {
    val davg = "SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS s_fp, COUNT(*) AS n"
    s"""pe$tag AS (
       |  SELECT a.cluster, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS pos
       |  FROM $member a JOIN e ON a.vec_id = e.vec_id
       |), sums$tag AS (
       |  SELECT cluster, pos, $davg FROM pe$tag GROUP BY 1, 2
       |), c$tag AS (
       |  SELECT cluster, list(CAST(s_fp AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS c
       |  FROM sums$tag GROUP BY cluster
       |)""".stripMargin
  }

  private def assignCtes(cents: String, tag: String) =
    s"""sims$tag AS (
       |  SELECT e.vec_id, $cents.cluster,
       |    ${dotSql.format("e.v", s"$cents.c")} / (${normSql("e.v")} * ${normSql(s"$cents.c")}) AS sim
       |  FROM e, $cents
       |), asg$tag AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
       |    FROM sims$tag) WHERE rn = 1
       |)""".stripMargin

  private def q103OracleSql: String = {
    s"""WITH $embCte, a0 AS (
       |  SELECT vec_id, label AS cluster FROM e
       |), ${centroidCtes("a0", "0")},
       |${assignCtes("c0", "1")},
       |${centroidCtes("asg1", "1")},
       |${assignCtes("c1", "2")},
       |${centroidCtes("asg2", "2")},
       |rep AS (
       |  SELECT a.cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    CAST(SUM(CAST(FLOOR((${dotSql.format("e.v", "c2.c")}
       |      / (${normSql("e.v")} * ${normSql("c2.c")})) * 1000000.0) AS BIGINT)) AS DOUBLE)
       |      / (COUNT(*) * 1000000.0) AS avg_sim_fp
       |  FROM asg2 a JOIN e ON a.vec_id = e.vec_id JOIN c2 ON a.cluster = c2.cluster
       |  GROUP BY a.cluster
       |)
       |SELECT cluster, n_members, avg_sim_fp FROM rep ORDER BY cluster""".stripMargin
  }

  /** q103 — two Lloyd rounds to a (near-)fixpoint, oracled: the kmeans
    * LOOP's chaining semantics (centroids from assignment N feed
    * assignment N+1, fixed-point means at every round) verified
    * bit-for-bit against a fully unrolled DuckDB CTE chain — the same
    * loop-parity technique as q71's unrolled PageRank. The Spark side IS
    * the production `kmeans` driver (maxIters = 2); early convergence is
    * safe because a converged round reproduces its own assignment, which
    * is exactly what the unrolled oracle computes.
    */
  val q103 = Q("q103_kmeans_converge", q103OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val (asg, _, _) = kmeans(e.select(col("vec_id"), col("v"), col("label").as("init")),
      "init", maxIters = 2)
    val c2 = fixedPointCentroids(
        e.select(col("vec_id"), col("v")).join(asg, "vec_id").select(col("cluster"), col("v")),
        "cluster")
      .withColumn("cn", norm(col("c")))
    e.select(col("vec_id"), col("v")).withColumn("vn", norm(col("v")))
      .join(asg, "vec_id")
      .join(broadcast(c2), Seq("cluster"))
      .select(col("cluster"),
        (dot(col("v"), col("c")) / (col("vn") * col("cn"))).as("sim"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        (sum(floor(col("sim") * lit(1000000.0))).cast("double") /
          (count(lit(1)) * lit(1000000.0))).as("avg_sim_fp"))
      .orderBy("cluster")
  }

  // ── Semantic dedup (SemDeDup) ─────────────────────────────────────────

  val SemDupThreshold = 0.35

  private def q100OracleSql: String =
    s"""WITH $embCte, p AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS b_id,
       |    ${dotSql.format("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}) AS sim
       |  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
       |), best AS (
       |  SELECT vec_id, b_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, b_id) AS rn
       |  FROM p
       |)
       |SELECT e.vec_id, e.label,
       |  COALESCE(b.sim, 0.0) AS max_prior_sim,
       |  b.b_id AS dup_of,
       |  (COALESCE(b.sim, 0.0) >= $SemDupThreshold) AS is_semantic_dup
       |FROM e LEFT JOIN (SELECT vec_id, b_id, sim FROM best WHERE rn = 1) b
       |  ON e.vec_id = b.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** q100 — semantic dedup (Abbas et al. 2023, "SemDeDup"): within each
    * cluster, a vector whose cosine to some LOWER-id cluster member
    * exceeds the threshold is a semantic duplicate of that member (keep
    * the earliest, drop the rest — the id order makes the keep-set
    * deterministic). The cluster key (here the label; at 100 TB the q94
    * k-means assignment with k sized so clusters stay bounded) is the
    * whole trick: pairwise cosine runs inside clusters only, so the join
    * is an equi-join on the cluster key and the work is Σ cluster², never
    * corpus². One hash-aggregate argmax per vector — no window over
    * pair-space.
    */
  val q100 = Q("q100_semantic_dedup", q100OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nn", norm(col("v")))
    val b2 = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("v").as("bv"), col("nn").as("bn"))
    val best = e.join(b2, col("label") === col("b_label") && col("b_id") < col("vec_id"))
      .select(col("vec_id"),
        (dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"),
        col("b_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("b_id")).as("neg_b"))).as("m"))
      .select(col("vec_id"), col("m.sim").as("sim"), (-col("m.neg_b")).as("b_id"))
    e.select(col("vec_id"), col("label")).join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("sim"), lit(0.0)).as("max_prior_sim"),
        col("b_id").as("dup_of"),
        (coalesce(col("sim"), lit(0.0)) >= SemDupThreshold).as("is_semantic_dup"))
      .orderBy("vec_id")
  }

  /** The full SemDeDup scale path q100 documents: cluster with the Lloyd
    * loop (init = deterministic hash buckets, so no labels are needed),
    * then keep-earliest within each LEARNED cluster by cosine threshold.
    * `k` controls the Σ cluster² pair bound — scale it with the corpus
    * (the measured cost law in the 10× probe). Returns per-vector
    * (vec_id, cluster, max_prior_sim, dup_of, is_semantic_dup).
    */
  def semanticDedup(e: DataFrame, k: Int, threshold: Double = SemDupThreshold,
      maxIters: Int = 10): DataFrame = {
    // hash-bucket init: h60 of the id — deterministic, engine-portable
    // (the q104 oracle mirrors it), and independent of id distribution
    val init = e.select(col("vec_id"), col("v"),
      pmod(Dedup.h60Col(concat(lit("sem:"), col("vec_id").cast("string"))), lit(k.toLong))
        .cast("int").as("init"))
    val (asg, _, _) = kmeans(init, "init", maxIters)
    val m = e.join(asg, "vec_id").withColumn("nn", norm(col("v")))
    val b2 = m.select(col("vec_id").as("b_id"), col("cluster").as("bc"),
      col("v").as("bv"), col("nn").as("bn"))
    val best = m.join(b2, col("cluster") === col("bc") && col("b_id") < col("vec_id"))
      .select(col("vec_id"),
        (dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"), col("b_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("b_id")).as("nb"))).as("mx"))
      .select(col("vec_id"), col("mx.sim").as("sim"), (-col("mx.nb")).as("b_id"))
    m.select(col("vec_id"), col("cluster")).join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("sim"), lit(0.0)).as("max_prior_sim"),
        col("b_id").as("dup_of"),
        (coalesce(col("sim"), lit(0.0)) >= threshold).as("is_semantic_dup"))
  }

  /** Learned-cluster count for the oracled SemDeDup run (q104). */
  val SemK = 8

  /** q104's oracle; `memberWhere` filters the vectors deduplicated
    * (q208: the survivors of a forget).
    */
  private[ops] def q104OracleSql(memberWhere: String = ""): String =
    s"""WITH $frozenAsgChainSql,
       |m AS (
       |  SELECT a.vec_id, a.cluster, e.v FROM asg2 a JOIN e ON a.vec_id = e.vec_id$memberWhere
       |), p AS (
       |  SELECT a.vec_id, b.vec_id AS b_id,
       |    ${dotSql.format("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}) AS sim
       |  FROM m a JOIN m b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
       |), best AS (
       |  SELECT vec_id, b_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, b_id) AS rn
       |  FROM p
       |)
       |SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster,
       |  COALESCE(b.sim, 0.0) AS max_prior_sim,
       |  b.b_id AS dup_of,
       |  (COALESCE(b.sim, 0.0) >= $SemDupThreshold) AS is_semantic_dup
       |FROM m LEFT JOIN (SELECT vec_id, b_id, sim FROM best WHERE rn = 1) b
       |  ON m.vec_id = b.vec_id
       |ORDER BY m.vec_id""".stripMargin

  /** q104 — SemDeDup end-to-end on LEARNED clusters: the full production
    * path (`semanticDedup`: h60 hash-bucket init → 2 Lloyd rounds of the
    * `kmeans` driver → keep-earliest cosine dedup inside each learned
    * cluster), verified bit-for-bit against a fully UNROLLED DuckDB CTE
    * chain — init hash, both rounds' fixed-point centroids and argmax
    * reassignments, and the final within-cluster pair argmax. q100 keeps
    * the label-cluster form; this is the one a 100 TB corpus runs, where
    * no labels exist and k scales so Σ cluster² stays linear. Early
    * convergence is safe: a converged round reproduces its assignment,
    * which is exactly what the unrolled chain computes.
    */
  val q104 = Q("q104_semdedup_learned", q104OracleSql()) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    semanticDedup(e, k = SemK, maxIters = 2)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("max_prior_sim"), col("dup_of"), col("is_semantic_dup"))
      .orderBy("vec_id")
  }

  /** Ascending sort key ≡ `sim` DESCENDING, bijective and
    * order-preserving over doubles (±0.0 collapsed): negate, take raw
    * IEEE bits, and flip the non-sign bits of negatives so SIGNED long
    * order equals double order. Lets similarity top-k run as a k-bounded
    * TopKMin aggregate (map-side partials) instead of a window sort,
    * while selecting exactly the `ORDER BY sim DESC, id` set an oracle
    * window ranks.
    */
  def simDescKey(sim: Column): Column = {
    val z = when(sim === 0.0, lit(0.0)).otherwise(sim)
    val r = graft.functions.DoubleBits(-z)
    when(r >= 0, r).otherwise(r.bitwiseXOR(lit(Long.MaxValue)))
  }

  /** q112 — Matryoshka truncation recall: rank neighbors by cosine over
    * the FIRST 16 of 64 dims (the matryoshka-embedding serving trick —
    * 4× less compute and memory per candidate) and measure top-10
    * agreement against full-dimension ranking per probe. Selection runs
    * as two TopKMin aggregates on `simDescKey` (k-bounded map-side
    * partials — no window sort of the |probes|×|corpus| pair stream);
    * the oracle ranks the same pairs with windows, and the two
    * mechanisms must pick the identical sets. Scale shape: probes
    * broadcast, one linear candidate scan, O(dim) per pair, state ≤
    * probes × k; the 100 TB serving path would put the truncated scan in
    * front of q99/q106's ADC rerank. (On this corpus recall@10 reads
    * 0-30%: the synthetic embeddings are isotropic random, so a 16-dim
    * prefix carries ~1/4 of the variance and truncated ranking is near
    * the random baseline — the query MEASURES that tradeoff; matryoshka-
    * trained embeddings front-load variance and would score high.)
    */
  val q112 = Q("q112_matryoshka_recall",
    s"""WITH $embV16Cte, ${probeSimsCtes("SELECT vec_id AS probe_id FROM e WHERE vec_id < 10")}, rf AS (
       |  SELECT probe_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_full DESC, vec_id) AS rn
       |  FROM sims
       |), rt AS (
       |  SELECT probe_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_t16 DESC, vec_id) AS rn
       |  FROM sims
       |), ff AS (SELECT probe_id, vec_id, rn FROM rf WHERE rn <= 10
       |), tt AS (SELECT probe_id, vec_id, rn FROM rt WHERE rn <= 10
       |), ov AS (
       |  SELECT ff.probe_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM ff JOIN tt ON ff.probe_id = tt.probe_id AND ff.vec_id = tt.vec_id
       |  GROUP BY ff.probe_id
       |), t1 AS (
       |  SELECT f.probe_id, f.vec_id AS top1_full, t.vec_id AS top1_t16
       |  FROM (SELECT probe_id, vec_id FROM ff WHERE rn = 1) f
       |  JOIN (SELECT probe_id, vec_id FROM tt WHERE rn = 1) t ON f.probe_id = t.probe_id
       |)
       |SELECT t1.probe_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  CAST(COALESCE(ov.n_overlap, 0) * 1000 AS BIGINT) AS recall_bp,
       |  t1.top1_full, t1.top1_t16,
       |  t1.top1_full = t1.top1_t16 AS top1_match
       |FROM t1 LEFT JOIN ov ON t1.probe_id = ov.probe_id
       |ORDER BY t1.probe_id""".stripMargin) { (s, dir) =>
    val pairs = probePrefixSims(s, dir)
    val tk = pairs.groupBy("probe_id").agg(
      graft.functions.TopKMin.topKMin(10)(simDescKey(col("sim_full")), col("vec_id")).as("tf"),
      graft.functions.TopKMin.topKMin(10)(simDescKey(col("sim_t16")), col("vec_id")).as("tt"))
    val ids = tk.select(col("probe_id"),
      transform(col("tf"), x => x.getField("_2")).as("idsf"),
      transform(col("tt"), x => x.getField("_2")).as("idst"))
    ids.select(col("probe_id"),
        size(array_intersect(col("idsf"), col("idst"))).cast("long").as("n_overlap"),
        (size(array_intersect(col("idsf"), col("idst"))) * 1000).cast("long").as("recall_bp"),
        element_at(col("idsf"), 1).as("top1_full"),
        element_at(col("idst"), 1).as("top1_t16"),
        (element_at(col("idsf"), 1) === element_at(col("idst"), 1)).as("top1_match"))
      .orderBy("probe_id")
  }

  /** Probes 0-9 against every other vector: (probe_id, vec_id, sim_full,
    * sim_t16), the full-dimension and 16-dim-prefix cosines.
    */
  private def probePrefixSims(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("v16", slice(col("v"), 1, 16))
    val p = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("v16").as("pv16"))
    e.crossJoin(broadcast(p)).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (dot(col("pv"), col("v")) / (norm(col("pv")) * norm(col("v")))).as("sim_full"),
        (dot(col("pv16"), col("v16")) / (norm(col("pv16")) * norm(col("v16")))).as("sim_t16"))
  }

  /** q114 — two-stage retrieval: q112's cheap truncated scan promoted to
    * a SERVING CHAIN — stage 1 shortlists the top-50 by 16-dim prefix
    * cosine (4× less compute/memory per candidate), stage 2 reranks only
    * the shortlist with full-dimension cosine and keeps the top-10. The
    * output measures recall against the exact full-dim top-10: reranking
    * a 50-candidate shortlist recovers most of what raw truncation
    * (q112, 0-30% here) loses, at ~1/4 the scan cost plus 50 exact
    * distances per probe — the standard filter-then-rerank tradeoff.
    * Both stages select via TopKMin on `simDescKey` (map-side-bounded, no
    * window over the pair stream); the checkpointed pair frame feeds
    * stage 1, the rerank join, and the exact baseline.
    */
  val q114 = Q("q114_two_stage_retrieval",
    s"""WITH $embV16Cte, ${probeSimsCtes("SELECT vec_id AS probe_id FROM e WHERE vec_id < 10")}, short AS (
       |  SELECT probe_id, vec_id, sim_full FROM (
       |    SELECT probe_id, vec_id, sim_full,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_t16 DESC, vec_id) AS rn
       |    FROM sims) s WHERE rn <= 50
       |), reranked AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_full DESC, vec_id) AS rn
       |    FROM short) r WHERE rn <= 10
       |), exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_full DESC, vec_id) AS rn
       |    FROM sims) x WHERE rn <= 10
       |), ov AS (
       |  SELECT r.probe_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM reranked r JOIN exact x ON r.probe_id = x.probe_id AND r.vec_id = x.vec_id
       |  GROUP BY r.probe_id
       |)
       |SELECT p.probe_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  CAST(COALESCE(ov.n_overlap, 0) * 1000 AS BIGINT) AS recall_bp
       |FROM p LEFT JOIN ov ON p.probe_id = ov.probe_id
       |ORDER BY p.probe_id""".stripMargin) { (s, dir) =>
    val pairs = probePrefixSims(s, dir).localCheckpoint()
    val short = pairs.groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(50)(simDescKey(col("sim_t16")), col("vec_id")).as("tk"))
      .select(col("probe_id"), explode(col("tk")).as("s"))
      .select(col("probe_id"), col("s._2").as("vec_id"))
    val reranked = short.join(pairs, Seq("probe_id", "vec_id"))
      .groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(10)(simDescKey(col("sim_full")), col("vec_id")).as("tk"))
      .select(col("probe_id"), transform(col("tk"), x => x.getField("_2")).as("ids2"))
    val exact = pairs.groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(10)(simDescKey(col("sim_full")), col("vec_id")).as("tk"))
      .select(col("probe_id"), transform(col("tk"), x => x.getField("_2")).as("idsx"))
    reranked.join(exact, "probe_id")
      .select(col("probe_id"),
        size(array_intersect(col("ids2"), col("idsx"))).cast("long").as("n_overlap"),
        (size(array_intersect(col("ids2"), col("idsx"))) * 1000).cast("long").as("recall_bp"))
      .orderBy("probe_id")
  }

  /** Oracle generator for the trained-retrieval serving chain,
    * PARAMETERIZED by the probe-id set (a SQL relation producing a
    * `probe_id` column over `e`): the chain SQL is identical for every
    * probe binding — only the `p` CTE's id source changes, mirroring
    * `retrievalChain`'s probe-table argument exactly.
    */
  private def chainOracleSql(probeIdsSql: String): String = {
    s"""WITH $embV16Cte, $msCte, $labelCentroidCtes, $residualCte, ${pqCodebookCtes("er", "r", "r", "ddr")}, a0 AS (
       |  SELECT vec_id, m, k, dist FROM (
       |    SELECT vec_id, m, k, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM ddr) WHERE rn = 1
       |), err0 AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS BIGINT) AS err_seed_fp
       |  FROM a0 GROUP BY vec_id
       |), ${pqRefineCtes("subr", "cbr")}, best1 AS (
       |  SELECT vec_id, m, k, dist FROM (
       |    SELECT vec_id, m, k, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM d1) WHERE rn = 1
       |), err1 AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(FLOOR(dist * 1000000.0) AS BIGINT)) AS BIGINT) AS err_trained_fp
       |  FROM best1 GROUP BY vec_id
       |), ${probeSimsCtes(probeIdsSql)}, short AS (
       |  SELECT probe_id, vec_id, label FROM (
       |    SELECT probe_id, vec_id, label,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_t16 DESC, vec_id) AS rn
       |    FROM sims) s WHERE rn <= 50
       |), cellsp AS (
       |  SELECT DISTINCT probe_id, label AS cell FROM short
       |), rq AS (
       |  SELECT cp.probe_id, cp.cell,
       |    list_transform(list_zip(p.pv, c.centroid), x -> x[1] - x[2]) AS rqv
       |  FROM cellsp cp JOIN cents c ON cp.cell = c.label JOIN p ON cp.probe_id = p.probe_id
       |), lut AS (
       |  SELECT r.probe_id, r.cell, ms.m, c.k,
       |    ${sqDistSql.format(
             s"list_slice(r.rqv, CAST(ms.m * $PqSubDim + 1 AS INTEGER), CAST(ms.m * $PqSubDim + $PqSubDim AS INTEGER))",
             "c.cw")} AS ld
       |  FROM rq r, ms JOIN cb1 c ON ms.m = c.m
       |), adc AS (
       |  SELECT s.probe_id, s.vec_id,
       |    CAST(SUM(CAST(FLOOR(l.ld * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_fp
       |  FROM short s
       |  JOIN best1 b ON s.vec_id = b.vec_id
       |  JOIN lut l ON s.probe_id = l.probe_id AND s.label = l.cell
       |    AND b.m = l.m AND b.k = l.k
       |  GROUP BY 1, 2
       |), adc20 AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_fp, vec_id) AS rn
       |    FROM adc) WHERE rn <= 20
       |), reranked AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT s.probe_id, s.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY s.probe_id ORDER BY s.sim_full DESC, s.vec_id) AS rn
       |    FROM sims s JOIN adc20 a ON s.probe_id = a.probe_id AND s.vec_id = a.vec_id
       |  ) WHERE rn <= 10
       |), exact AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim_full DESC, vec_id) AS rn
       |    FROM sims) WHERE rn <= 10
       |), ov AS (
       |  SELECT r.probe_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
       |  FROM reranked r JOIN exact x ON r.probe_id = x.probe_id AND r.vec_id = x.vec_id
       |  GROUP BY r.probe_id
       |), qe AS (
       |  SELECT s.probe_id,
       |    CAST(SUM(e0.err_seed_fp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS quant_err_seed,
       |    CAST(SUM(e1.err_trained_fp) AS DOUBLE) / (COUNT(*) * 1000000.0) AS quant_err_trained
       |  FROM short s
       |  JOIN err0 e0 ON s.vec_id = e0.vec_id
       |  JOIN err1 e1 ON s.vec_id = e1.vec_id
       |  GROUP BY s.probe_id
       |)
       |SELECT p.probe_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |  CAST(COALESCE(ov.n_overlap, 0) * 1000 AS BIGINT) AS recall_bp,
       |  qe.quant_err_seed, qe.quant_err_trained
       |FROM p
       |LEFT JOIN ov ON p.probe_id = ov.probe_id
       |JOIN qe ON p.probe_id = qe.probe_id
       |ORDER BY p.probe_id""".stripMargin
  }

  /** The COMPOSED trained-retrieval serving chain, PARAMETERIZED by its
    * probe set — `probeIds` is any table with a `probe_id` column naming
    * corpus vectors to serve (an argument table, not a hard-wired
    * predicate): q114's cheap 16-dim truncated scan shortlists the top-50
    * per probe, the shortlist is ADC-scored against the TRAINED residual
    * codes (q106's cell-keyed LUT machinery over `buildTrainedResPqIndex`
    * — the artifact whose codebook a q107 Lloyd round refined), ADC keeps
    * 20, and an exact full-dimension cosine rerank of those 20 emits the
    * final top-10. Each row reports the chain's recall against the exact
    * full-scan top-10 plus the shortlist's mean seed/trained quantization
    * errors read from the artifact's error sidecar — the monotone
    * improvement the training round bought, in-row. The chain READS the
    * code/codebook/error artifacts and never re-encodes (PlanSpec-pinned:
    * only artifact tables are scanned; probes and the pair frame are
    * checkpointed). Scale shape: one linear truncated scan (the only
    * corpus-sized pass, at 1/4 dim cost), then everything downstream is
    * shortlist-sized — codes join 50 rows/probe, LUT ≤ probes×cells×M×K
    * broadcast, rerank 20 exact distances/probe; the probe table itself
    * broadcasts, so serving cost is probes × corpus at stage one and
    * probes × shortlist after. The oracle unrolls centroid build +
    * residuals + one Lloyd round + the three stages as CTEs
    * (q103/q106/q107's techniques composed), with the probe binding as
    * the only varying CTE (`chainOracleSql`).
    */
  def retrievalChain(s: SparkSession, dir: String, probeIds: DataFrame): DataFrame = {
    val codesPath = buildTrainedResPqIndex(s, dir)
    val codes = s.read.parquet(codesPath)
    val cb = s.read.parquet(cbPath(codesPath))
    val errs = s.read.parquet(errPath(codesPath))
    val cents = s.read.parquet(buildIvfIndex(s, dir))
      .select(col("label").as("cl"), col("centroid"))
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("v16", slice(col("v"), 1, 16))
    val p = e.join(broadcast(probeIds.select(col("probe_id"))),
        e("vec_id") === col("probe_id"))
      .select(col("probe_id"), col("v").as("pv"), col("v16").as("pv16"))
      .localCheckpoint()
    val pairs = e.crossJoin(broadcast(p)).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        (dot(col("pv"), col("v")) / (norm(col("pv")) * norm(col("v")))).as("sim_full"),
        (dot(col("pv16"), col("v16")) / (norm(col("pv16")) * norm(col("v16")))).as("sim_t16"))
      .localCheckpoint()
    val short = pairs.groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(50)(simDescKey(col("sim_t16")), col("vec_id")).as("tk"))
      .select(col("probe_id"), explode(col("tk")).as("t"))
      .select(col("probe_id"), col("t._2").as("vec_id"))
      .join(pairs.select("probe_id", "vec_id", "label"), Seq("probe_id", "vec_id"))
    val cellsp = short.select(col("probe_id"), col("label").as("cell")).distinct()
    val rq = cellsp.join(broadcast(cents), col("cell") === col("cl"))
      .join(broadcast(p.select(col("probe_id"), col("pv"))), Seq("probe_id"))
      .select(col("probe_id"), col("cell"),
        zip_with(col("pv"), col("centroid"), _ - _).as("rqv"))
    val rqsub = rq.select(col("probe_id"), col("cell"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"), slice(col("rqv"), m * PqSubDim + 1, PqSubDim).as("qs"))): _*)).as("x"))
      .select(col("probe_id"), col("cell"), col("x.m").as("qm"), col("x.qs").as("qs"))
    val lut = rqsub.join(cb, col("qm") === col("cm"))
      .select(col("probe_id").as("lp"), col("cell").as("lc"), col("cm").as("lm"),
        col("k").as("lk"), sqDist(col("qs"), col("cw")).as("ld"))
    val adc = short.join(codes, Seq("vec_id"))
      .join(broadcast(lut),
        col("probe_id") === col("lp") && col("label") === col("lc") &&
          col("m") === col("lm") && col("k") === col("lk"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(floor(col("ld") * lit(1000000.0)).cast("long")).as("adc_fp"))
    val adc20 = adc.groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(20)(col("adc_fp"), col("vec_id")).as("tk"))
      .select(col("probe_id"), explode(col("tk")).as("t"))
      .select(col("probe_id"), col("t._2").as("vec_id"))
    val reranked = adc20
      .join(pairs.select("probe_id", "vec_id", "sim_full"), Seq("probe_id", "vec_id"))
      .groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(10)(simDescKey(col("sim_full")), col("vec_id")).as("tk"))
      .select(col("probe_id"), transform(col("tk"), x => x.getField("_2")).as("ids2"))
    val exact = pairs.groupBy("probe_id")
      .agg(graft.functions.TopKMin.topKMin(10)(simDescKey(col("sim_full")), col("vec_id")).as("tk"))
      .select(col("probe_id"), transform(col("tk"), x => x.getField("_2")).as("idsx"))
    val qe = short.join(errs, Seq("vec_id"))
      .groupBy("probe_id")
      .agg(sum(col("err_seed_fp")).as("s0"), sum(col("err_trained_fp")).as("s1"),
        count(lit(1)).as("n"))
      .select(col("probe_id"),
        (col("s0").cast("double") / (col("n") * lit(1000000.0))).as("quant_err_seed"),
        (col("s1").cast("double") / (col("n") * lit(1000000.0))).as("quant_err_trained"))
    reranked.join(exact, Seq("probe_id"))
      .select(col("probe_id"),
        size(array_intersect(col("ids2"), col("idsx"))).cast("long").as("n_overlap"),
        (size(array_intersect(col("ids2"), col("idsx"))) * 1000).cast("long").as("recall_bp"))
      .join(qe, Seq("probe_id"))
      .orderBy("probe_id")
  }

  /** q117 — the serving chain bound to the fixed vec_id < 10 probe set
    * (the original end-to-end capstone; see `retrievalChain`).
    */
  val q117 = Q("q117_trained_retrieval_chain",
    chainOracleSql("SELECT vec_id AS probe_id FROM e WHERE vec_id < 10")) { (s, dir) =>
    val ids = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"))
    retrievalChain(s, dir, ids)
  }

  /** q122 — the SAME chain bound to a different argument table, proving
    * the parameterization: one probe per cluster (the lowest vec_id in
    * each label), so the serving stack is exercised across every IVF
    * cell rather than the id-prefix q117 happens to hit. Any (probe_id)
    * relation slots in — the chain code and its oracle generator are
    * shared verbatim; only the probe CTE differs.
    */
  val q122 = Q("q122_retrieval_chain_stratified",
    chainOracleSql("SELECT MIN(vec_id) AS probe_id FROM e GROUP BY label")) { (s, dir) =>
    val ids = emb(s, dir).groupBy("label")
      .agg(min(col("vec_id")).as("probe_id"))
      .select(col("probe_id"))
    retrievalChain(s, dir, ids)
  }

  /** The frozen-quantizer assignment chain as DuckDB CTEs — `e` (double-
    * cast embeddings), the h60 hash-bucket init `a0`, and two unrolled
    * Lloyd rounds ending in `asg2` (the q104/q130 assignment). Shared
    * with the occupancy-forget audit (q213), whose store assigns new and
    * forgotten vectors against exactly this frozen quantizer.
    */
  private[ops] def frozenAsgChainSql: String =
    s"""$embCte, a0 AS (
       |  SELECT vec_id,
       |    CAST(${OracleSql.h60("'sem:' || CAST(vec_id AS VARCHAR)")} % $SemK AS BIGINT) AS cluster
       |  FROM e
       |), ${centroidCtes("a0", "0")},
       |${assignCtes("c0", "1")},
       |${centroidCtes("asg1", "1")},
       |${assignCtes("c1", "2")}""".stripMargin

  /** q130's oracle body up to (but excluding) the final ORDER BY —
    * shared with q132, which aggregates the same drift table.
    */
  private def q130OracleBody: String = {
    val parity = s"${OracleSql.h60("'snap:' || CAST(vec_id AS VARCHAR)")} % 2"
    s"""WITH $frozenAsgChainSql,
       |asg AS (
       |  SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM asg2
       |), tagged AS (
       |  SELECT vec_id, cluster, $parity AS par FROM asg
       |), mn AS (
       |  SELECT MIN(cluster) AS mc FROM asg
       |), ca AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS na FROM tagged WHERE par = 0 GROUP BY 1
       |), cb AS (
       |  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS nb
       |  FROM tagged, mn WHERE par = 1 AND cluster <> mn.mc GROUP BY 1
       |), $occupancyChi2TailSql""".stripMargin
  }

  /** The χ² statistic tail over CTEs `ca(cluster, na)` / `cb(cluster,
    * nb)` — the SQL twin of [[occupancyPairChi2]], shared by q130's
    * oracle and the occupancy-forget audit's (q213). Ends with the final
    * (un-ordered) SELECT producing the kernel's exact column set.
    */
  private[ops] def occupancyChi2TailSql: String =
    s"""cells AS (
       |  SELECT COALESCE(a.cluster, b.cluster) AS cluster,
       |    COALESCE(a.na, 0) AS na, COALESCE(b.nb, 0) AS nb
       |  FROM ca a FULL JOIN cb b ON a.cluster = b.cluster
       |), tot AS (
       |  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM cells
       |), g AS (
       |  SELECT c.cluster, c.na, c.nb, t.ta, t.tb,
       |    c.na + c.nb AS cc, t.ta + t.tb AS n
       |  FROM cells c, tot t
       |), t AS (
       |  SELECT cluster, na, nb,
       |    CASE WHEN ta > 0 THEN (na * 10000) // ta ELSE 0 END AS share_a_bp,
       |    CASE WHEN tb > 0 THEN (nb * 10000) // tb ELSE 0 END AS share_b_bp,
       |    CASE WHEN ta > 0 AND tb > 0 THEN
       |      CAST(FLOOR((CAST(na AS DOUBLE)*CAST(n AS DOUBLE) - CAST(ta AS DOUBLE)*CAST(cc AS DOUBLE))
       |        * (CAST(na AS DOUBLE)*CAST(n AS DOUBLE) - CAST(ta AS DOUBLE)*CAST(cc AS DOUBLE))
       |        / (CAST(n AS DOUBLE)*CAST(ta AS DOUBLE)*CAST(cc AS DOUBLE))
       |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |      + CAST(FLOOR((CAST(nb AS DOUBLE)*CAST(n AS DOUBLE) - CAST(tb AS DOUBLE)*CAST(cc AS DOUBLE))
       |        * (CAST(nb AS DOUBLE)*CAST(n AS DOUBLE) - CAST(tb AS DOUBLE)*CAST(cc AS DOUBLE))
       |        / (CAST(n AS DOUBLE)*CAST(tb AS DOUBLE)*CAST(cc AS DOUBLE))
       |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |    ELSE 0 END AS contrib_fp
       |  FROM g
       |), gl AS (
       |  SELECT CAST(SUM(contrib_fp) AS BIGINT) AS chi2_fp,
       |    CAST(COUNT(*) AS BIGINT) - 1 AS df
       |  FROM t
       |)
       |SELECT t.cluster, t.na AS n_a, t.nb AS n_b, t.share_a_bp, t.share_b_bp,
       |  t.contrib_fp, gl.chi2_fp, gl.df,
       |  gl.chi2_fp > 2000000 * gl.df AS shifted
       |FROM t, gl""".stripMargin

  private def q130OracleSql: String = s"$q130OracleBody ORDER BY cluster"

  /** q130 — EMBEDDING-space occupancy drift between two corpus
    * snapshots: the vector twin of q128/q129. Text drift watches token
    * histograms; a retrieval/dedup pipeline also needs to know when the
    * EMBEDDING distribution moved (new topic, encoder change), and the
    * deployable statistic is cluster-occupancy shift — assign every
    * vector to the q104-learned k-means cells (SAME `sem:` h60 init and
    * 2-round Lloyd chain, so the unrolled oracle is shared machinery),
    * split into snapshots by independent `snap:` h60 parity, and test
    * the 2×k snapshot × cluster contingency with per-cluster
    * contributions. The fixture drops the min-id cluster from snapshot
    * B entirely — a region of embedding space vanishing is exactly the
    * shift shape SemDeDup/IVF serving must re-train for. All counts are
    * exact BIGINTs and every χ² term is the same guarded full-DOUBLE
    * fixed-point tree as q128/q129, so the statistic oracles exactly.
    * Scale shape: one assignment pass (the kmeans cost, shared with
    * q104's artifact in production), then clusters-sized broadcast
    * arithmetic — the occupancy cells are add-mergeable partials, so a
    * streaming fold could maintain them per snapshot exactly like
    * DriftStream's text cells.
    */
  /** The occupancy-drift χ² kernel over two per-cluster count tables —
    * `ca` with (cluster, na), `cb` with (cluster, nb): snapshot × cluster
    * contingency with per-cluster contributions and the global statistic
    * on every row. Shared by q130 and EmbeddingStream's artifact-served
    * drift so streamed and batch statistics can never diverge. Same
    * guarded full-DOUBLE fixed-point discipline as Corpus.chi2Pair.
    */
  def occupancyPairChi2(ca: DataFrame, cb: DataFrame): DataFrame = {
    val cells = ca.join(cb, Seq("cluster"), "full_outer")
      .select(col("cluster"),
        coalesce(col("na"), lit(0L)).as("na"), coalesce(col("nb"), lit(0L)).as("nb"))
      .localCheckpoint()
    val tot = cells.agg(sum(col("na")).cast("long").as("ta"), sum(col("nb")).cast("long").as("tb"))
    val g = cells.crossJoin(broadcast(tot))
      .withColumn("cc", col("na") + col("nb"))
      .withColumn("n", col("ta") + col("tb"))
    def d(name: String) = col(name).cast("double")
    def half(o: String, r: String) = {
      val diff = d(o) * d("n") - d(r) * d("cc")
      floor(diff * diff / (d("n") * d(r) * d("cc")) * lit(1000000.0)).cast("long")
    }
    val t = g.select(col("cluster"), col("na"), col("nb"),
      when(col("ta") > 0, expr("(na * 10000) div ta")).otherwise(lit(0L)).as("share_a_bp"),
      when(col("tb") > 0, expr("(nb * 10000) div tb")).otherwise(lit(0L)).as("share_b_bp"),
      when(col("ta") > 0 && col("tb") > 0, half("na", "ta") + half("nb", "tb"))
        .otherwise(lit(0L)).as("contrib_fp"))
      .localCheckpoint()
    val gl = t.agg(sum(col("contrib_fp")).cast("long").as("chi2_fp"),
      (count(lit(1)) - 1L).as("df"))
    t.crossJoin(broadcast(gl))
      .select(col("cluster"), col("na").as("n_a"), col("nb").as("n_b"),
        col("share_a_bp"), col("share_b_bp"), col("contrib_fp"),
        col("chi2_fp"), col("df"),
        (col("chi2_fp") > lit(2000000L) * col("df")).as("shifted"))
      .orderBy("cluster")
  }

  val q130 = Q("q130_embedding_occupancy_drift", q130OracleSql) { (s, dir) =>
    val e = emb(s, dir).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val init = e.select(col("vec_id"), col("v"),
      pmod(Dedup.h60Col(concat(lit("sem:"), col("vec_id").cast("string"))),
        lit(SemK.toLong)).cast("int").as("init"))
    val (asgRaw, _, _) = kmeans(init, "init", maxIters = 2)
    val asg = asgRaw.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .localCheckpoint()
    val tagged = asg.withColumn("par",
      Dedup.h60Col(concat(lit("snap:"), col("vec_id").cast("string"))) % 2)
    val mn = asg.agg(min(col("cluster")).as("mc"))
    val ca = tagged.filter(col("par") === 0)
      .groupBy("cluster").agg(count(lit(1)).as("na"))
    val cb = tagged.filter(col("par") === 1)
      .crossJoin(broadcast(mn)).filter(col("cluster") =!= col("mc"))
      .groupBy("cluster").agg(count(lit(1)).as("nb"))
    occupancyPairChi2(ca, cb)
  }

  private def q132OracleSql: String =
    s"""WITH drift AS (
       |$q130OracleBody
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(CASE WHEN n_a = 0 AND n_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_appeared,
       |  CAST(SUM(CASE WHEN n_a > 0 AND n_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vanished,
       |  CAST(MAX(ABS(share_b_bp - share_a_bp)) AS BIGINT) AS max_share_delta_bp,
       |  MAX(chi2_fp) AS chi2_fp, MAX(df) AS df, BOOL_OR(shifted) AS shifted,
       |  (BOOL_OR(shifted) OR SUM(CASE WHEN n_a = 0 AND n_b > 0 THEN 1 ELSE 0 END) > 0
       |    OR SUM(CASE WHEN n_a > 0 AND n_b = 0 THEN 1 ELSE 0 END) > 0
       |    OR MAX(ABS(share_b_bp - share_a_bp)) >= 500) AS rebuild
       |FROM drift""".stripMargin

  /** q132 — the REBUILD decision over q130's drift table: the loop a
    * serving pipeline actually closes — "has embedding space moved
    * enough that the IVF/PQ/SemDeDup artifacts (all trained on the old
    * snapshot's distribution) need retraining?". One row: cluster
    * census (appeared / vanished regions), the maximum per-cluster
    * share delta in basis points, the global χ², and the decision —
    * rebuild when the global test fires OR any region appeared/vanished
    * OR any cluster's corpus share moved ≥ 5 %. The thresholds are the
    * policy surface (demo values); the statistic columns are what a
    * production policy would tune against. Everything is an aggregate
    * of q130's exactly-oracled rows, so the decision oracles exactly;
    * scale cost is q130's assignment pass — the decision itself is
    * clusters-sized arithmetic.
    */
  val q132 = Q("q132_index_rebuild_decision", q132OracleSql) { (s, dir) =>
    val drift = q130.fn(s, dir)
    val appeared = sum(when(col("n_a") === 0 && col("n_b") > 0, 1L).otherwise(0L))
    val vanished = sum(when(col("n_a") > 0 && col("n_b") === 0, 1L).otherwise(0L))
    val maxDelta = max(abs(col("share_b_bp") - col("share_a_bp")))
    drift.agg(
      count(lit(1)).as("n_clusters"),
      appeared.cast("long").as("n_appeared"),
      vanished.cast("long").as("n_vanished"),
      maxDelta.cast("long").as("max_share_delta_bp"),
      max(col("chi2_fp")).as("chi2_fp"),
      max(col("df")).as("df"),
      max(col("shifted")).as("shifted"),
      (max(col("shifted")) || appeared > 0 || vanished > 0 ||
        maxDelta >= 500).as("rebuild"))
  }

  /** (doc_id, doc_b) semantic strong pairs — q145's candidates exported
    * for the unified repair (q146): label-blocked cosine ≥ the SemDeDup
    * threshold, vec_id ↔ doc_id.
    */
  def semanticStrongPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nn", norm(col("v")))
    val b2 = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("v").as("bv"), col("nn").as("bn"))
    e.join(b2, col("label") === col("b_label") && col("b_id") < col("vec_id"))
      .select(col("vec_id"), col("b_id"),
        (dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"))
      .filter(col("sim") >= SemDupThreshold)
      .select(col("vec_id").as("doc_id"), col("b_id").as("doc_b"))
  }

  /** Oracle fragment: the semantic strong-pair chain ending in
    * `semstrong` (doc_id, doc_b) — CTE names chosen to coexist with the
    * lexical chain in one WITH.
    */
  def semStrongCtesSql: String =
    s"""s$embCte, sp AS (
       |  SELECT a.vec_id, b.vec_id AS b_id,
       |    ${dotSql.format("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}) AS sim
       |  FROM se a JOIN se b ON a.label = b.label AND b.vec_id < a.vec_id
       |), semstrong AS (
       |  SELECT vec_id AS doc_id, b_id AS doc_b FROM sp WHERE sim >= $SemDupThreshold
       |)""".stripMargin

  private def q145OracleSql: String =
    s"""WITH $embCte, p AS (
       |  SELECT a.vec_id, b.vec_id AS b_id,
       |    ${dotSql.format("a.v", "b.v")} / (${normSql("a.v")} * ${normSql("b.v")}) AS sim
       |  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
       |), strong AS (
       |  SELECT vec_id, b_id, sim FROM p WHERE sim >= $SemDupThreshold
       |), splits AS (
       |  ${graft.ops.TextOps.splitAssignmentSql}
       |), tagged AS (
       |  SELECT least(s1.split, s2.split) AS split_a, greatest(s1.split, s2.split) AS split_b,
       |    p.vec_id, p.b_id, p.sim
       |  FROM strong p
       |  JOIN splits s1 ON p.vec_id = s1.doc_id
       |  JOIN splits s2 ON p.b_id = s2.doc_id
       |), docsides AS (
       |  SELECT split_a, split_b, vec_id AS d FROM tagged
       |  UNION
       |  SELECT split_a, split_b, b_id AS d FROM tagged
       |), dcount AS (
       |  SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM docsides GROUP BY 1, 2
       |)
       |SELECT t.split_a, t.split_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MAX(dc.n_docs) AS n_docs,
       |  ${OracleSql.round4("MAX(t.sim)")} AS max_sim,
       |  (t.split_a <> t.split_b) AS is_leak
       |FROM tagged t JOIN dcount dc ON t.split_a = dc.split_a AND t.split_b = dc.split_b
       |GROUP BY t.split_a, t.split_b
       |ORDER BY t.split_a, t.split_b""".stripMargin

  /** q145 — SEMANTIC split-leakage audit, the embedding twin of the
    * lexical q135: content-hash splitting cannot see that a val/test
    * document is a paraphrase of a train document, so the residual
    * eval-integrity risk after lexical auditing is exactly the
    * semantically-near cross-split pairs. Pairs are q100's SemDeDup
    * candidates (cluster-blocked cosine, Σ cluster² never corpus²; label
    * clusters here, the learned-kmeans key at 100 TB per q104), kept at
    * the SemDeDup threshold, tagged with both sides' q55 split
    * (vec_id ↔ doc_id) and rolled into the same split×split leak matrix
    * as q135 — so the lexical and semantic audits read identically side
    * by side. Scale shape: q100's pair join + two doc-keyed split joins
    * + a 6-group rollup.
    */
  /** The q145 audit matrix over ANY (vec_id, label, v) frame and a
    * (doc_id, split) frame — the batch query feeds it the embeddings
    * table; `EmbeddingStream.semanticAuditFromHistory` feeds it the
    * sink-written history store (zero embeddings scans).
    */
  def semanticLeakMatrix(e0: DataFrame, splits: DataFrame): DataFrame = {
    val e = e0.select(col("vec_id"), col("label"), col("v"))
      .withColumn("nn", norm(col("v")))
    val b2 = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("v").as("bv"), col("nn").as("bn"))
    val strong = e.join(b2, col("label") === col("b_label") && col("b_id") < col("vec_id"))
      .select(col("vec_id"), col("b_id"),
        (dot(col("v"), col("bv")) / (col("nn") * col("bn"))).as("sim"))
      .filter(col("sim") >= SemDupThreshold)
    val tagged = strong
      .join(splits.select(col("doc_id").as("vec_id"), col("split").as("_sa")), Seq("vec_id"))
      .join(splits.select(col("doc_id").as("b_id"), col("split").as("_sb")), Seq("b_id"))
      .select(
        least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"),
        col("vec_id"), col("b_id"), col("sim"))
    val dcount = tagged
      .select(col("split_a"), col("split_b"),
        explode(array(col("vec_id"), col("b_id"))).as("d"))
      .distinct()
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_docs"))
    tagged.groupBy("split_a", "split_b")
      .agg(
        count(lit(1)).as("n_pairs"),
        graft.queries.Det.dround(max(col("sim")), 4).as("max_sim"))
      .join(dcount, Seq("split_a", "split_b"))
      .select(col("split_a"), col("split_b"), col("n_pairs"), col("n_docs"),
        col("max_sim"), (col("split_a") =!= col("split_b")).as("is_leak"))
  }

  val q145 = Q("q145_semantic_leakage", q145OracleSql) { (s, dir) =>
    val splits = Catalog.table(s, dir, "documents")
      .select(col("doc_id"), graft.ops.TextOps.splitAssignment(col("text")).as("split"))
    semanticLeakMatrix(
      emb(s, dir).select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")),
      splits)
      .orderBy("split_a", "split_b")
  }

  // ── q177: train-free hashed embeddings (the hashing trick) ────────────

  /** Feature-hashing dimensionality. 64 matches the `embeddings` table's
    * width, so hashed vectors ride every downstream op (brute/IVF/PQ)
    * unchanged.
    */
  val HashDim = 64

  /** The hashing trick (Weinberger et al. 2009): token t contributes
    * ±1 to dimension h60(t) mod [[HashDim]], sign from bit 6 of the
    * hash — a train-free signed-count embedding built ENTIRELY in-row
    * (HOFs over the token array, zero shuffles, no vocabulary state),
    * which is what makes it the 100 TB bootstrap embedding: no model,
    * no codebook, no second pass.
    */
  private[graft] def hashedVec(d: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    // the fused FeatureHashVec kernel, not a transform/filter HOF tree:
    // CollapseProject would inline the token-hash array into every one of
    // the 2·dim lambdas and recompute md5 per token ~128× (measured 96 s
    // at sf0.1 vs sub-second fused)
    d.filter(size(TextOps.tokens(col("text"))) > 0)
      .select(col("doc_id") +: keep.map(col) :+
        call_function("feature_hash_vec", col("text"), lit(HashDim)).as("v"): _*)
  }

  /** Shared oracle fragment: the hashed-embedding build (tk → hsx → vec →
    * nz, DOUBLE entries, zero-vectors dropped) — one definition for the
    * q177/q179 CTE chains.
    */
  private def hashedVecCtes: String = {
    val vecExpr =
      """list_transform(generate_series(0, 63), d ->
        |      CAST(len(list_filter(hs, h -> h % 64 = d AND ((h >> 6) & 1) = 1))
        |         - len(list_filter(hs, h -> h % 64 = d AND ((h >> 6) & 1) = 0)) AS DOUBLE))"""
        .stripMargin
    s"""tk AS (
       |  SELECT doc_id, ${OracleSql.tokens()} AS t FROM documents
       |), hsx AS (
       |  SELECT doc_id, list_transform(t, s -> ${OracleSql.h60("s")}) AS hs
       |  FROM tk WHERE len(t) > 0
       |), vec AS (
       |  SELECT doc_id, $vecExpr AS v FROM hsx
       |), nz AS (
       |  SELECT doc_id, v FROM vec WHERE ${dotSql.format("v", "v")} > 0
       |)""".stripMargin
  }

  private def q177OracleSql: String = {
    s"""WITH $hashedVecCtes
       |SELECT b.doc_id,
       |  ${dotSql.format("a.v", "b.v")}
       |    / (${normSql("a.v")} * ${normSql("b.v")}) AS cosine_sim
       |FROM nz a, nz b
       |WHERE a.doc_id = 0 AND b.doc_id <> 0
       |ORDER BY cosine_sim DESC, b.doc_id
       |LIMIT 10""".stripMargin
  }

  /** q177 — hashed-embedding kNN: q35's brute-force cosine top-k run over
    * embeddings DERIVED from text by feature hashing instead of read from
    * the embeddings table — the engine now generates its own vectors.
    * Exactness survives the whole chain: integer signed counts → one IEEE
    * double tree for cosine (VecDot ≡ list_sum fold), so the ranking
    * oracles bit-for-bit. Zero-vectors (token-free or fully sign-cancelled
    * docs) are filtered on dot(v,v) > 0 in both engines. At 100 TB the
    * generation adds NOTHING to the data motion bill — it is a per-row
    * projection fused into the scan; the search side keeps whatever
    * index (brute/LSH/IVF/PQ) the workload already uses, at [[HashDim]] =
    * the table embeddings' width.
    */
  val q177 = Q("q177_hashed_embedding_knn", q177OracleSql) { (s, dir) =>
    val e = hashedVec(Catalog.table(s, dir, "documents"))
      .withColumn("nn", dot(col("v"), col("v")))
      .filter(col("nn") > 0)
      .withColumn("nn", sqrt(col("nn")))
    val q = e.filter(col("doc_id") === 0).select(col("v").as("qv"), col("nn").as("qn"))
    e.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("nn"))).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("doc_id"))
      .limit(10)
  }

  // ── q178: per-source embedding-space diversity (centroid identity) ────

  /** q178's oracle over a `corpus` relation (the survivors for q203). */
  private[ops] def q178OracleSql(corpus: String = "documents"): String = {
    val vecExpr =
      """list_transform(generate_series(0, 63), d ->
        |      CAST(len(list_filter(hs, h -> h % 64 = d AND ((h >> 6) & 1) = 1))
        |         - len(list_filter(hs, h -> h % 64 = d AND ((h >> 6) & 1) = 0)) AS BIGINT))"""
        .stripMargin
    s"""WITH tk AS (
       |  SELECT doc_id, source, ${OracleSql.tokens()} AS t
       |  FROM $corpus
       |), hsx AS (
       |  SELECT doc_id, source, list_transform(t, s -> ${OracleSql.h60("s")}) AS hs
       |  FROM tk WHERE len(t) > 0
       |), vec AS (
       |  SELECT doc_id, source, $vecExpr AS v FROM hsx
       |), norms AS (
       |  SELECT doc_id, source,
       |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS sq
       |  FROM vec
       |), dimsum AS (
       |  SELECT source, g.d AS d, CAST(SUM(v[g.d + 1]) AS BIGINT) AS s_d
       |  FROM vec, generate_series(0, 63) AS g(d)
       |  GROUP BY source, g.d
       |), agg AS (
       |  SELECT n.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n.sq) AS BIGINT) AS sum_sq
       |  FROM norms n GROUP BY n.source
       |), dims AS (
       |  SELECT source, CAST(SUM(s_d * s_d) AS BIGINT) AS cent_sq
       |  FROM dimsum GROUP BY source
       |)
       |SELECT a.source, a.n_docs, a.sum_sq, d.cent_sq,
       |  (10000 * (a.n_docs * a.sum_sq - d.cent_sq)) // (a.n_docs * a.n_docs) AS diversity_fp,
       |  (10000 * d.cent_sq) // (a.n_docs * a.n_docs) AS centroid_sq_fp
       |FROM agg a JOIN dims d ON a.source = d.source
       |ORDER BY a.source""".stripMargin
  }

  /** q178 — embedding-space DIVERSITY per source, the metric a
    * diversity-aware sampler cuts on, computed by the centroid identity:
    * mean squared distance to the centroid = E‖x‖² − ‖μ‖² =
    * (n·Σ‖x‖² − Σ_d S_d²)/n², where S_d is the per-dimension coordinate
    * sum — ONE corpus pass and a 64-row-per-source aggregate instead of
    * the naive O(n²) pairwise sweep (mean pairwise squared distance is
    * exactly 2× this). Runs on q177's hashed embeddings, whose entries
    * are small integers, so every term is exact BIGINT and the whole
    * metric oracles in fixed point — no float anywhere. At 100 TB:
    * posexplode → (source, dim) partial sums is map-side combinable with
    * |sources|·64 rows of state; the norms rollup rides the same scan.
    */
  val q178 = Q("q178_embedding_diversity", q178OracleSql()) { (s, dir) =>
    diversityOf(Catalog.table(s, dir, "documents"))
  }

  /** q178 over any documents frame — shared with CorpusRun's
    * accepted-store stage.
    */
  private[graft] def diversityOf(docs: DataFrame): DataFrame = {
    val w = hashedVec(docs, keep = Seq("source"))
    diversityFromCells(divDimCells(w), divStatCells(w))
  }

  /** Per-(source, dimension) coordinate sums — add-mergeable SUM cells
    * (|sources|·64 rows), the dimension half of the diversity state a
    * streaming sink maintains.
    */
  private[graft] def divDimCells(withSrc: DataFrame): DataFrame =
    withSrc.select(col("source"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("source", "d")
      .agg(sum(col("x").cast("long")).cast("long").as("s_d"))

  /** Per-source (n_docs, Σ‖x‖²) — the scalar half, also SUM cells. */
  private[graft] def divStatCells(withSrc: DataFrame): DataFrame =
    withSrc.select(col("source"),
        aggregate(col("v"), lit(0.0), (a, x) => a + x * x).cast("long").as("sq"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"), sum("sq").cast("long").as("sum_sq"))

  /** The q178 table from (possibly unfolded) cells — the fold is the
    * first aggregation, so batch and store-served paths share this code.
    */
  private[graft] def diversityFromCells(dims: DataFrame, stats: DataFrame): DataFrame = {
    val agg = stats.groupBy("source")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("sum_sq").cast("long").as("sum_sq"))
    val cent = dims.groupBy("source", "d")
      .agg(sum("s_d").cast("long").as("s_d"))
      .groupBy("source").agg(sum(col("s_d") * col("s_d")).cast("long").as("cent_sq"))
    agg.join(cent, Seq("source"))
      .select(col("source"), col("n_docs"), col("sum_sq"), col("cent_sq"),
        expr("(10000 * (n_docs * sum_sq - cent_sq)) div (n_docs * n_docs)")
          .as("diversity_fp"),
        expr("(10000 * cent_sq) div (n_docs * n_docs)").as("centroid_sq_fp"))
      .orderBy("source")
  }

  // ── q179: hashed embeddings through the LSH index, recall measured ────

  /** Inlined-plane LSH bucket sum over a vector SQL expression. */
  private def bucketSumSql(vExpr: String): String =
    (0 until NumPlanes).map { i =>
      val planeLit = planes(i).map(_.toString).mkString("[", ", ", "]")
      s"    (CASE WHEN ${dotSql.format(vExpr, planeLit)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" +\n")

  private def q179OracleSql: String = {
    val bucketSum = bucketSumSql("b.v")
    val probeList = probeMasks.map(m => s"xor(q.qb, $m)").mkString(", ")
    s"""WITH $hashedVecCtes, bk AS (
       |  SELECT b.doc_id, b.v,
       |$bucketSum AS bucket
       |  FROM nz b
       |), q AS (
       |  SELECT v AS qv, bucket AS qb FROM bk WHERE doc_id = 0
       |), bf AS (
       |  SELECT b.doc_id
       |  FROM nz a, nz b WHERE a.doc_id = 0 AND b.doc_id <> 0
       |  ORDER BY ${dotSql.format("a.v", "b.v")}
       |    / (${normSql("a.v")} * ${normSql("b.v")}) DESC, b.doc_id
       |  LIMIT 10
       |), lsh AS (
       |  SELECT b.doc_id
       |  FROM bk b, q WHERE b.doc_id <> 0 AND b.bucket IN ($probeList)
       |  ORDER BY ${dotSql.format("q.qv", "b.v")}
       |    / (${normSql("q.qv")} * ${normSql("b.v")}) DESC, b.doc_id
       |  LIMIT 10
       |), overlap AS (
       |  SELECT COUNT(*) AS n FROM (
       |    SELECT doc_id FROM bf INTERSECT SELECT doc_id FROM lsh)
       |)
       |SELECT CAST(n AS BIGINT) AS n_overlap,
       |  CAST(n * 1000 AS BIGINT) AS recall_bp
       |FROM overlap""".stripMargin
  }

  /** q179 — the composition claim of q177 MEASURED: hashed embeddings
    * flow through the q36 LSH-multiprobe index (same seeded hyperplanes,
    * same 1- and 2-bit-flip probe masks) and the top-10 is compared
    * against q177's brute-force baseline, q88's recall contract — one
    * row, recall in thousandth-points of the 10-NN set. The generated
    * vectors need no special treatment anywhere in the index path:
    * bucket assignment, multiprobe, cosine rerank all run unchanged,
    * which is the point — a corpus can bootstrap its similarity surface
    * before any trained embedding exists. At 100 TB the LSH side scans
    * only the ≤22 probed buckets of the corpus, not all pairs.
    */
  val q179 = Q("q179_hashed_lsh_recall", q179OracleSql) { (s, dir) =>
    val e = hashedVec(Catalog.table(s, dir, "documents"))
      .withColumn("nn", dot(col("v"), col("v")))
      .filter(col("nn") > 0)
      .withColumn("bucket", lshBucket(col("v")))
    val qRow = e.filter(col("doc_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qb"))
    val lsh = e.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(qRow))
      .filter(exists(array(probeMasks.map(lit(_)): _*),
        m => col("bucket") === col("qb").bitwiseXOR(m)))
      .select(col("doc_id"),
        (dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v")))).as("cs"))
      .orderBy(col("cs").desc, col("doc_id"))
      .limit(10)
      .select("doc_id")
    val bf = q177.fn(s, dir).select("doc_id")
    bf.intersect(lsh)
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("n_overlap"), (col("n_overlap") * 1000).as("recall_bp"))
  }

  // ── q180: bootstrap semantic dedup (no model anywhere) ────────────────

  /** Cosine threshold for the bootstrap near-dup verdict — measured on
    * this corpus family: in-bucket pairs p99 ≈ 0.895, so 0.9 keeps the
    * genuinely-near tail (~0.8 % of in-bucket candidates at sf0.01).
    */
  val BootstrapSemTau = 0.9

  /** Per-doc bootstrap semantic-dedup verdicts: hashed embeddings, LSH
    * bucket blocking (pairs only within a bucket — never all pairs),
    * cosine ≥ [[BootstrapSemTau]], keep-first (a doc is the dup iff it
    * has an EARLIER near neighbor). Returns (doc_id, source, is_dup).
    */
  private[graft] def bootstrapVerdicts(docs: DataFrame): DataFrame = {
    val e = hashedVec(docs, keep = Seq("source"))
      .withColumn("nn", dot(col("v"), col("v")))
      .filter(col("nn") > 0)
      .withColumn("nn", sqrt(col("nn")))
      .withColumn("bucket", lshBucket(col("v")))
    val other = e.select(col("doc_id").as("doc_b"), col("v").as("vb"),
      col("nn").as("nb"), col("bucket").as("bb"))
    val dups = e.join(other, col("bucket") === col("bb") && col("doc_id") < col("doc_b"))
      .filter(dot(col("v"), col("vb")) / (col("nn") * col("nb")) >= lit(BootstrapSemTau))
      .select(col("doc_b").as("doc_id"))
      .distinct()
      .withColumn("dup", lit(true))
    e.select(col("doc_id"), col("source"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("dup"), lit(false)).as("is_dup"))
  }

  private def q180OracleSql: String = {
    val bucketSum = bucketSumSql("b.v")
    s"""WITH $hashedVecCtes, bk AS (
       |  SELECT b.doc_id, b.v,
       |$bucketSum AS bucket
       |  FROM nz b
       |), prs AS (
       |  SELECT b2.doc_id AS doc_b
       |  FROM bk b1 JOIN bk b2 ON b1.bucket = b2.bucket AND b1.doc_id < b2.doc_id
       |  WHERE ${dotSql.format("b1.v", "b2.v")}
       |    / (${normSql("b1.v")} * ${normSql("b2.v")}) >= CAST($BootstrapSemTau AS DOUBLE)
       |), dups AS (
       |  SELECT DISTINCT doc_b FROM prs
       |)
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN du.doc_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_dups,
       |  (10000 * CAST(SUM(CASE WHEN du.doc_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(COUNT(*) AS BIGINT) AS dup_bp
       |FROM nz n
       |JOIN documents d ON n.doc_id = d.doc_id
       |LEFT JOIN dups du ON n.doc_id = du.doc_b
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin
  }

  /** q180 — SemDeDup with NO model anywhere: q100's semantics (cosine ≥
    * threshold within a blocking partition, keep-first) over q177's
    * train-free hashed embeddings, blocked by the q36 LSH buckets instead
    * of labels or learned clusters — the semantic dedup a corpus team can
    * run on day one, before any embedding model exists. Per source:
    * nonzero-vector docs, semantic dups, and the dup rate in exact basis
    * points. The bucket join keeps candidate pairs at Σ bucket² (~n²/2^planes
    * with balanced buckets), never corpus²; at 100 TB the plane count
    * grows with log(n) exactly as the q36 comment prescribes.
    */
  val q180 = Q("q180_bootstrap_semdedup", q180OracleSql) { (s, dir) =>
    bootstrapVerdicts(Catalog.table(s, dir, "documents"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        Det.countIf(col("is_dup")).as("n_sem_dups"))
      .select(col("source"), col("n_docs"), col("n_sem_dups"),
        expr("(10000 * n_sem_dups) div n_docs").as("dup_bp"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(q34, q35, q36, q38, q70, q88, q94, q97, q98, q99, q100, q103, q104, q106, q107, q112, q114, q117, q122, q130, q132, q145, q177, q178, q179, q180)
}
