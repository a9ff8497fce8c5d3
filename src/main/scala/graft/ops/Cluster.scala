package graft.ops

import graft.Catalog
import graft.queries.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster assignment: the step AFTER candidate generation.
  * The dedup operators (Dedup.scala) emit near-dup PAIRS; an actual
  * training-data pipeline must turn those pairs into duplicate GROUPS
  * (transitive closure) and pick one canonical document per group —
  * otherwise A~B and B~C keep both B and C. The reference's dbt project
  * has no graph step (its dedup is row_number-per-key, e.g.
  * models/staging/stg_device_readings.sql:15-25); this is the
  * scale-path generalization of that keep-one-per-key idea to a
  * similarity graph.
  *
  * Connected components run as iterative min-label propagation: each
  * vertex's label drops to the min of its neighborhood until fixpoint —
  * O(diameter of the largest component) shuffle rounds, each a plain
  * equi-join + hash aggregate, with `localCheckpoint()` truncating the
  * lineage so the plan does not grow with iterations. Near-dup clusters
  * are shallow (dups of a common source), so the diameter is small in
  * practice; for adversarial long-chain graphs the alternating
  * large-star/small-star variant (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) bounds rounds at O(log² n) — the
  * propagation loop here is the simple form of the same join+min kernel.
  */
object Cluster {

  private def docs(s: SparkSession, dir: String) = Catalog.table(s, dir, "documents")

  /** Edge-count bound under which the whole component graph is solved by
    * union-find inside ONE executor task: 8M (src, dst) long pairs ≈
    * 128 MB — comfortably one task's working set. The same bounded-bucket
    * discipline as RankSelect: a problem that provably fits one task
    * should not pay an iterative shuffle loop's per-round scheduling
    * (measured: the 7-round loop on a 35k-edge graph = 4.8 s of pure
    * round overhead at sf0.1; the single task answers in milliseconds).
    */
  val SmallGraphMaxEdges: Long = 8L << 20

  /** Distributed connected components over an undirected graph.
    * `edges` needs columns (src, dst) — one row per edge, either
    * direction; `vertices` needs column (id) and must cover every vertex
    * (isolated vertices become singleton components). Returns
    * (id, component) where component = min vertex id reachable.
    * Deterministic: min-label is order-independent.
    *
    * Scale-adaptive: an edge set within `smallGraphMaxEdges` is solved by
    * union-find in one executor task (near-dup graphs are a sliver of the
    * corpus — candidate generation, not the closure, is the 100 TB-sized
    * stage); beyond the bound the min-label + path-halving shuffle loop
    * engages, whose per-round cost scales with executors.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    val sym0 = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // edges are re-joined every round: cut their lineage once
    // size the loop's parallelism from the data, not the cluster: each
    // round is a join + agg over the edge set, and a fixed 32-partition
    // shuffle on a 35k-edge graph spends the whole round on task
    // scheduling. One partition per ~500k edges, capped at the session's
    // parallelism — at 100 TB this saturates the cluster, at test scale
    // it collapses each round to a couple of tasks.
    val nEdges = sym0.count()
    val spark = edges.sparkSession
    if (nEdges <= smallGraphMaxEdges) {
      import spark.implicits._
      // one task, union-by-min with path compression: attaching the larger
      // root under the smaller makes the final root the component's min id
      // directly — no relabeling pass, order-independent result
      val labels = sym0.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent(r) != r) r = parent(r)
            var c = x
            while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (s, d) =>
            parent.getOrElseUpdate(s, s)
            parent.getOrElseUpdate(d, d)
            val rs = find(s)
            val rd = find(d)
            if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
          }
          parent.keysIterator.toArray.iterator.map(id => (id, find(id)))
        }
        .toDF("id", "component")
        .localCheckpoint()
      val isolated = vertices.join(labels.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component"))
      return labels.unionByName(isolated)
    }
    val np = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 500000L + 1L)).toInt
    val sym = sym0.repartition(np, col("dst")).localCheckpoint()
    // the loop runs over edge-touched vertices ONLY — isolated vertices
    // are singleton components by definition and would otherwise be
    // dead weight shuffled every round (at 100 TB the near-dup subgraph
    // is a sliver of the corpus)
    val touched = sym.select(col("src").as("id")).distinct()
    var labels = touched.select(col("id"), col("id").as("component"))
      .repartition(np, col("id")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val neighborMin = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("nid")).agg(min(col("component")).as("ncomp"))
      val stepped = labels.join(neighborMin, col("id") === col("nid"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("ncomp"), col("component"))).as("component"),
          col("component").as("prev"))
      // pointer jump (path halving): component := component(component).
      // Label ids are always vertex ids in `labels`, so the self-join
      // resolves; distance-to-root halves per round, bounding the loop at
      // O(log diameter) shuffle rounds instead of O(diameter) — the same
      // round bound as Kiveris large-star/small-star, with one extra
      // equi-join per round. One checkpointed pass carries both the new
      // label and the old one, so convergence detection is a scan of the
      // checkpoint, not a re-join.
      val parent = stepped.select(col("id").as("p_id"), col("component").as("p_comp"))
      val updated = stepped.join(parent, stepped("component") === parent("p_id"), "left")
        .select(stepped("id"),
          least(stepped("component"), coalesce(col("p_comp"), stepped("component")))
            .as("component"),
          col("prev"))
        .localCheckpoint()
      changed = updated.filter(col("component") =!= col("prev")).count()
      if (sys.env.contains("GRAFT_CC_DEBUG")) println(s"CC round: changed=$changed")
      labels = updated.select("id", "component")
    }
    val isolated = vertices.join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.unionByName(isolated)
  }

  private def q65OracleSql: String = {
    s"""WITH RECURSIVE norm AS (
       |  SELECT doc_id, text, md5(${OracleSql.normalized()}) AS fp
       |  FROM documents
       |), reps AS (
       |  SELECT fp, MIN(doc_id) AS rep_id, arg_min(text, doc_id) AS text FROM norm GROUP BY fp
       |), ${Dedup.simhashBandCtes("reps", id = "rep_id")}, pairs AS (
       |  SELECT DISTINCT a.rep_id AS src, b.rep_id AS dst
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.rep_id < b.rep_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= ${Dedup.SimHammingMax}
       |), edges AS (
       |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
       |), reach AS (
       |  SELECT rep_id AS v, rep_id AS lab FROM reps
       |  UNION
       |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.v = e.dst
       |), labels AS (
       |  SELECT v AS rep_id, MIN(lab) AS cluster_id FROM reach GROUP BY v
       |), assigned AS (
       |  SELECT n.doc_id, r.rep_id, l.cluster_id
       |  FROM norm n JOIN reps r ON n.fp = r.fp JOIN labels l ON l.rep_id = r.rep_id
       |), sizes AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size FROM assigned GROUP BY cluster_id
       |)
       |SELECT a.doc_id, a.rep_id, a.cluster_id, s.cluster_size,
       |  a.doc_id = a.cluster_id AS is_canonical
       |FROM assigned a JOIN sizes s ON a.cluster_id = s.cluster_id
       |ORDER BY a.doc_id""".stripMargin
  }

  /** q65 — duplicate clusters end to end: exact-dedup to representatives
    * (one shuffle on the content fingerprint), SimHash band candidates +
    * Hamming verify among representatives (Dedup.nearDupPipeline's
    * ordering), connected components over the near-dup graph, then every
    * document mapped rep→cluster. cluster_id = min doc_id of the group,
    * the canonical keeper. The oracle computes the identical closure with
    * a recursive CTE — the component labels, not just counts, must agree.
    */
  val q65 = Q("q65_dedup_clusters", q65OracleSql) { (s, dir) =>
    dedupClusters(docs(s, dir))
  }

  /** The q65 pipeline over an arbitrary (doc_id, text) frame — also the
    * 10× scale-probe entry (SURVEY.md §8, "10× scale probe").
    */
  def dedupClusters(d: DataFrame): DataFrame = {
    val fp = md5(TextOps.normalized(col("text")))
    val norm = d.select(col("doc_id"), fp.as("fp"))
    // the representative table feeds FOUR consumers (simhash edges, CC
    // vertex set, cluster sizes, the fp→rep assignment join) — materialize
    // it once instead of re-running the corpus-wide fingerprint groupBy
    // per consumer; in a persisted pipeline this is the exact-dedup
    // output table (q30's result) being reused, not a cache trick
    val reps = d.groupBy(fp.as("fp"))
      .agg(min(col("doc_id")).as("rep_id"), min_by(col("text"), col("doc_id")).as("text"),
        count(lit(1)).as("n_docs"))
      .localCheckpoint()
    // spread the checkpointed reps before the simhash kernel: AQE
    // coalesces the byte-small groupBy output to ONE partition, so the
    // CPU-dense tokenize+simhash pass ran as a single task (profiled
    // 0.7 s serial, r14); the checkpoint is a leaf, so spread applies
    val edges = Dedup.simhashCandidates(
        Dedup.simhash(Catalog.spread(
          reps.select(col("rep_id").as("doc_id"), col("text")))))
      .filter(col("hamming") <= Dedup.SimHammingMax)
      .select(col("doc_id").as("src"), col("doc_b").as("dst"))
    val comp = connectedComponents(edges, reps.select(col("rep_id").as("id")))
      .select(col("id").as("rep_id"), col("component").as("cluster_id"))
    // cluster sizes aggregate the per-rep doc counts — a rep-level shuffle,
    // not a second pass over the per-document assignment
    val sizes = reps.select("rep_id", "n_docs").join(comp, "rep_id")
      .groupBy("cluster_id").agg(sum(col("n_docs")).cast("long").as("cluster_size"))
    norm.join(reps.select("fp", "rep_id"), "fp")
      .join(comp, "rep_id")
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("rep_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** The measured selection rule for the PageRank loops (r13 VERDICT #8,
    * OPTIMIZATION_r14.md "PageRank loop crossover"): ≤ [[SmallGraphMaxEdges]] → one-task
    * in-memory sweeps (validated: at 4.7M edges the local path, 3.5 s,
    * still edges out the DF loop, 4.2 s — the 8M bound sits right at the
    * crossover); above it → the DataFrame loop. The RDD co-partitioned
    * loop is NEVER auto-selected: measured 5–8× slower locally with the
    * gap WIDENING in edge count (1.17M: 10.7 s vs DF 2.0 s; 4.7M: 34.0 s
    * vs 4.2 s), so the only regime where it can win is a multi-node
    * cluster whose per-round shuffle is network-bound — a deployment
    * decision, not an edge-count threshold observable on this harness.
    */
  val RddLoopLocalVerdict: String =
    "never-local: RDD loop 5-8x slower at 1.17M/4.7M edges and diverging"

  private val CustOffset = 1000000000L
  private val PrIters = 5


  /** PageRank oracle tail: `nodes` (suppliers, then customers offset by
    * [[CustOffset]]), the uniform start `pr0`, the unrolled rounds `iters`
    * and the 20 top-ranked nodes.
    */
  private def pageRankTailSql(iters: String): String =
    s"""nodes AS (
       |  SELECT CAST(s_suppkey AS BIGINT) AS id FROM supplier
       |  UNION ALL
       |  SELECT CAST($CustOffset AS BIGINT) + c_custkey FROM customer
       |), pr0 AS (
       |  SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes
       |), $iters
       |SELECT CASE WHEN id >= $CustOffset THEN 'customer' ELSE 'supplier' END AS node_kind,
       |  CAST(CASE WHEN id >= $CustOffset THEN id - $CustOffset ELSE id END AS BIGINT) AS node_id,
       |  CAST(r AS BIGINT) AS rank_fp
       |FROM pr$PrIters
       |ORDER BY rank_fp DESC, node_kind, node_id
       |LIMIT 20""".stripMargin

  /** The supplier↔customer trade multigraph, grouped to one row per
    * (supplier, customer) pair with the transaction count as weight —
    * the ONE expensive build (lineitem⋈orders + group) that both q71
    * (unweighted: project the pair, w=1) and q82 (weighted: keep w)
    * start from. Built and `localCheckpoint`ed once per (session, dir)
    * so a bench/verify run that executes both queries pays the fact-scan
    * join once; the memo key is identity-based, so a stopped session's
    * entries are simply never hit again.
    */
  private val tradeMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def tradePairs(s: SparkSession, dir: String): DataFrame =
    tradeMemo.computeIfAbsent((s, dir), _ => {
      val li = Catalog.table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = Catalog.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").cast("long").as("s"), col("o_custkey").cast("long").as("c"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint()
    })

  private def q71OracleSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""pr$k AS (
         |  SELECT n.id, 150000 + (85 * COALESCE(s.cc, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, SUM(p.r // e.deg) AS cc
         |    FROM ed e JOIN pr${k - 1} p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.dst = n.id)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS (
       |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), edges AS (
       |  SELECT CAST(s AS BIGINT) AS src, CAST($CustOffset AS BIGINT) + c AS dst FROM e0
       |  UNION ALL
       |  SELECT CAST($CustOffset AS BIGINT) + c AS src, CAST(s AS BIGINT) AS dst FROM e0
       |), deg AS (
       |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
       |), ed AS (
       |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src
       |), ${pageRankTailSql(iters)}""".stripMargin
  }

  /** q71 — PageRank over the supplier↔customer transaction graph
    * (who-trades-with-whom, the relational twin of link-graph importance
    * scoring used to weight web-crawl documents; Page et al. 1999). All
    * arithmetic is FIXED-POINT INTEGER: ranks are 1e6-scaled longs,
    * contributions are floor divisions, damping is `(85 * x) div 100` —
    * exact, associative, engine-independent, so five unrolled iterations
    * oracle bit-for-bit against DuckDB (no recursive CTE: the closure is
    * bounded, K chained aggregates). Per iteration: one equi-join of the
    * degree-annotated edge list (checkpointed once, partitioned by src)
    * against the rank vector, one map-side-combined sum by dst, one left
    * join back to the node set — every stage scales with executors; rank
    * state per round is O(|nodes|), the same footprint GraphX/Pregel
    * carries. Dangling mass (nodes with no outgoing edges contribute
    * nothing) matches the oracle by construction.
    */
  val q71 = Q("q71_pagerank", q71OracleSql) { (s, dir) =>
    pagerankFromPairs(tradePairs(s, dir).select("s", "c"),
      Catalog.table(s, dir, "supplier"), Catalog.table(s, dir, "customer"))
  }

  /** The q71 pipeline over arbitrary TPC-H-shaped frames — also the 10×
    * scale-probe entry (SURVEY.md §8, "10× scale probe").
    */
  def pagerank(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, customer: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_suppkey"))
    val ord = orders.select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").cast("long").as("s"), col("o_custkey").cast("long").as("c"))
      .distinct()
    pagerankFromPairs(e0, supplier, customer)
  }

  /** Unweighted PageRank from a distinct (s, c) supplier-customer pair
    * frame: symmetrize, annotate out-degree, iterate.
    */
  def pagerankFromPairs(e0: DataFrame, supplier: DataFrame,
      customer: DataFrame, smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    val edges = e0.select(col("s").as("src"), (col("c") + CustOffset).as("dst"))
      .unionByName(e0.select((col("c") + CustOffset).as("src"), col("s").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("wsum"))
    val ed = edges.join(deg, "src").withColumn("w", lit(1L)).localCheckpoint()
    val nodes = supplier
      .select(col("s_suppkey").cast("long").as("id"))
      .unionByName(customer
        .select((col("c_custkey") + CustOffset).as("id")))
      .localCheckpoint()
    top20Nodes(prIterate(ed, nodes, smallGraphMaxEdges))
  }

  /** The 20 highest-ranked (id, r) nodes as (node_kind, node_id, rank_fp). */
  private def top20Nodes(ranks: DataFrame): DataFrame =
    ranks.select(
        when(col("id") >= CustOffset, "customer").otherwise("supplier").as("node_kind"),
        when(col("id") >= CustOffset, col("id") - CustOffset).otherwise(col("id")).as("node_id"),
        col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node_kind"), col("node_id"))
      .limit(20)

  /** The damped fixed-point iteration over a weighted edge list
    * (src, dst, w, wsum = Σ outgoing w per src): contribution is
    * `(r·w) div wsum` — the unweighted case is w=1, wsum=out-degree,
    * reducing exactly to `r div deg`. Fixed iteration count → no
    * convergence action. The rank vector is eagerly `localCheckpoint`ed
    * each round (mirroring `connectedComponents`' loop): the frame is
    * O(|nodes|) — two longs per vertex — and materializing it keeps every
    * round a shallow two-join job instead of one 5-round-deep lazy DAG,
    * which Catalyst re-optimizes as a whole and the scheduler/GC handle
    * with high run-to-run variance (measured 2.3× swings at sf0.1).
    */
  private[graft] def prIterate(ed: DataFrame, nodes: DataFrame,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    // scale-adaptive, mirroring connectedComponents: an edge list within
    // the one-task bound iterates in a single executor task (5 in-memory
    // sweeps beat 5 shuffle rounds by ~6s at sf0.1); `ed` is already
    // checkpointed by both callers, so the count is a metadata-cheap scan
    if (ed.count() <= smallGraphMaxEdges) return prIterateLocal(ed, nodes)
    var r = nodes.withColumn("r", lit(1000000L)).localCheckpoint()
    for (_ <- 1 to PrIters) {
      val contrib = ed.join(r, ed("src") === r("id"))
        .select(col("dst"), expr("(r * w) div wsum").as("ct"))
        .groupBy("dst").agg(sum(col("ct")).as("cc"))
      r = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(nodes("id"), expr("150000L + ((85L * coalesce(cc, 0L)) div 100L)").as("r"))
        .localCheckpoint()
    }
    r
  }

  /** The same damped fixed-point iteration run inside ONE executor task —
    * the bounded-small path of `prIterate`. Edges and the node set arrive
    * as one tagged union so a single `mapPartitions` sees both; the
    * arithmetic is the identical positive-Long `r*w/ws` and
    * `150000 + 85*cc/100` floor division, and Long sums commute exactly,
    * so the result is bit-equal to the shuffle loop (spec-pinned) — the
    * bound is a performance switch, never a semantics switch.
    */
  private def prIterateLocal(ed: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = ed.sparkSession
    import spark.implicits._
    ed.select(lit(0L).as("t"), col("src"), col("dst"), col("w"), col("wsum"))
      .unionByName(nodes.select(lit(1L).as("t"), col("id").as("src"),
        lit(0L).as("dst"), lit(0L).as("w"), lit(0L).as("wsum")))
      .as[(Long, Long, Long, Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.foreach { case (t, a, b, w, ws) =>
          if (t == 0L) edges += ((a, b, w, ws)) else ids += a
        }
        val rank = scala.collection.mutable.HashMap.empty[Long, Long]
        ids.foreach(id => rank(id) = 1000000L)
        for (_ <- 1 to PrIters) {
          val incoming = scala.collection.mutable.HashMap.empty[Long, Long]
          edges.foreach { case (s, d, w, ws) =>
            // contributions flow only from nodes in the node set, exactly
            // like the loop's ed⋈rank equi-join
            rank.get(s).foreach { r =>
              incoming(d) = incoming.getOrElse(d, 0L) + r * w / ws
            }
          }
          ids.foreach(id => rank(id) = 150000L + 85L * incoming.getOrElse(id, 0L) / 100L)
        }
        ids.iterator.map(id => (id, rank(id)))
      }
      .toDF("id", "r")
  }

  /** Pregel-style RDD variant of the same iteration, kept as a MEASURED
    * reference implementation (OpsSpec pins it bit-equal to `prIterate`),
    * not the production path. Theory: hash-partition edge list and rank
    * vector once with the same partitioner, persist both, and every
    * iteration's `join` is narrow — only the contribution `reduceByKey`
    * shuffles — whereas the DataFrame loop re-shuffles both join sides
    * every round (Catalyst cannot carry RDD co-partitioning through
    * logical plans). Measurement (sf0.1, local[32], 5 rounds over ~2M
    * symmetric edges): RDD loop 15.3 s vs DataFrame loop 5.4 s — row
    * objects, Java-serialized caches, and the lost whole-stage codegen
    * cost ~3× more than the avoided exchanges, so Tungsten wins until the
    * per-round shuffle dominates (far larger graphs / real clusters).
    * Arithmetic is the identical fixed-point integer form (`/` on
    * positive Longs ≡ `div`), so either path satisfies the same oracle.
    *
    * The r14 probe (OPTIMIZATION_r14.md "PageRank loop crossover";
    * id-shifted edge multiples, min-of-reps):
    * 1.17M edges — DF loop 2.0 s, RDD loop 10.7 s, one-task local 1.0 s;
    * 4.7M edges — DF 4.2 s, RDD 34.0 s, local 3.5 s. The RDD deficit
    * WIDENS with edge count on a single node (shuffle is memcpy-cheap
    * there, so the avoided exchange buys nothing while per-row object
    * costs scale with the graph): there is NO local crossover edge count,
    * and wiring an automatic RDD switch-over would regress every size we
    * can measure. [[RddLoopLocalVerdict]] records this; the RDD path
    * stays a manual choice for real clusters where per-round network
    * shuffle wall-time — not CPU — dominates the DF loop.
    */
  private[graft] def prIterateRdd(ed: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = ed.sparkSession
    import spark.implicits._
    val np = spark.sparkContext.defaultParallelism
    val part = new org.apache.spark.HashPartitioner(np)
    val edRdd = ed.select("src", "dst", "w", "wsum").as[(Long, Long, Long, Long)].rdd
      .map { case (s, d, w, ws) => (s, (d, w, ws)) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodeRdd = nodes.select("id").as[Long].rdd
      .map(id => (id, ()))
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = nodeRdd.mapValues(_ => 1000000L)
    for (_ <- 1 to PrIters) {
      val contribs = edRdd.join(ranks) // narrow: both sides share `part`
        .map { case (_, ((dst, w, ws), r)) => (dst, r * w / ws) }
        .reduceByKey(part, _ + _) // the round's one shuffle
      ranks = nodeRdd.leftOuterJoin(contribs) // narrow again
        .mapValues { case (_, cc) => 150000L + 85L * cc.getOrElse(0L) / 100L }
    }
    // materialize before unpersisting — the rank lineage reads both caches
    val out = ranks.map { case (id, r) => (id, r) }.toDF("id", "r").localCheckpoint()
    edRdd.unpersist(false)
    nodeRdd.unpersist(false)
    out
  }

  private def q82OracleSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""pr$k AS (
         |  SELECT n.id, 150000 + (85 * COALESCE(s.cc, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, SUM((p.r * e.w) // e.wsum) AS cc
         |    FROM ed e JOIN pr${k - 1} p ON p.id = e.src
         |    GROUP BY e.dst) s ON s.dst = n.id)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS (
       |  SELECT l_suppkey AS s, o_custkey AS c, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), edges AS (
       |  SELECT CAST(s AS BIGINT) AS src, CAST($CustOffset AS BIGINT) + c AS dst, w FROM e0
       |  UNION ALL
       |  SELECT CAST($CustOffset AS BIGINT) + c AS src, CAST(s AS BIGINT) AS dst, w FROM e0
       |), wsums AS (
       |  SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM edges GROUP BY src
       |), ed AS (
       |  SELECT e.src, e.dst, e.w, d.wsum FROM edges e JOIN wsums d ON d.src = e.src
       |), ${pageRankTailSql(iters)}""".stripMargin
  }

  /** q82 — WEIGHTED PageRank: edge weight = transaction count between the
    * supplier and customer, so rank flows proportionally to trade volume
    * (`(r·w) div wsum` per edge) instead of uniformly per neighbor — the
    * random surfer follows frequent relationships more often. Same
    * fixed-point integer discipline and lazy 5-round chain as q71.
    */
  val q82 = Q("q82_weighted_pagerank", q82OracleSql) { (s, dir) =>
    val e0 = tradePairs(s, dir)
    val edges = e0.select(col("s").as("src"), (col("c") + CustOffset).as("dst"), col("w"))
      .unionByName(e0.select((col("c") + CustOffset).as("src"), col("s").as("dst"), col("w")))
    val wsums = edges.groupBy("src").agg(sum(col("w")).cast("long").as("wsum"))
    val ed = edges.join(wsums, "src").localCheckpoint()
    val nodes = Catalog.table(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("id"))
      .unionByName(Catalog.table(s, dir, "customer")
        .select((col("c_custkey") + CustOffset).as("id")))
      .localCheckpoint()
    top20Nodes(prIterate(ed, nodes))
  }

  val all: Seq[Q] = Seq(q65, q71, q82)
}
