package graft

import graft.functions.ShingleHashes
import graft.ops.{Dedup, Mining}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the corpus-mining operators (Mining.scala): planted-duplicate
  * behavior for substring dedup, kernel bit-equality for the linear
  * scorer, integer edit-distance goldens for linkage, the Bloom filter's
  * one-sided error guarantee, and the broadcast plan shape.
  */
class MiningSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import spark.implicits._

  /** Base slice plus an exact copy (9003 = copy of 3) and a one-word edit
    * (9001 = doc 1 with its first word changed) — same planting scheme as
    * OpsSpec.
    */
  private lazy val planted: DataFrame = {
    val base = Catalog.table(spark, sf, "documents").select("doc_id", "text").limit(50).cache()
    val Seq(t1, t3) = base.filter(col("doc_id").isin(1, 3))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    base.unionByName(Seq(
      (9001L, t1.replaceFirst("\\w+", "changedword")),
      (9003L, t3)).toDF("doc_id", "text"))
  }

  test("substring dedup: an exact copy duplicates every window; an edited copy most but not all") {
    val ex = planted.select(col("doc_id"),
      explode(ShingleHashes(col("text"), Mining.SubstringWindow)).as("h"))
    val dfreq = Mining.windowDocFreq(planted, Mining.SubstringWindow)
    val per = ex.join(dfreq, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), queries.Det.countIf(col("n_docs") >= 2).as("dup"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(per(3L)._1 === per(3L)._2, "every window of the copied doc must be duplicated")
    assert(per(9003L)._1 === per(9003L)._2)
    val (n1, d1) = per(9001L)
    assert(d1 > 0 && d1 < n1,
      s"one edited word must break some but not all windows (got $d1/$n1)")
  }

  test("substring dedup: every document appears in the q48 report exactly once") {
    val out = Mining.q48.fn(spark, sf)
    val total = Catalog.table(spark, sf, "documents").count()
    assert(out.count() === total)
    assert(out.select("doc_id").distinct().count() === total)
  }

  test("linear_score kernel is bit-equal to the built-in HOF tree") {
    val w = array(Mining.classifierWeights.map(lit): _*)
    val d = Catalog.table(spark, sf, "documents").limit(100)
    val fused = d.select(col("doc_id"),
        call_function("linear_score", col("text")).as("ls"))
      .select(col("doc_id"), element_at(col("ls"), 1).as("n"), element_at(col("ls"), 2).as("score"))
    val ref = d.select(col("doc_id"),
        ShingleHashes.tokens(col("text")).as("hh"))
      .select(col("doc_id"), size(col("hh")).cast("long").as("n"),
        aggregate(transform(col("hh"),
            h => element_at(w, (h % Mining.ClassifierBuckets).cast("int") + 1)),
          lit(0L), (acc, x) => acc + x).as("score"))
    assert(fused.exceptAll(ref).isEmpty && ref.exceptAll(fused).isEmpty,
      "fused kernel must match the transform/aggregate reference tree")
  }

  test("record linkage: edit-distance goldens and symmetric-best consistency") {
    // Spark's levenshtein must agree with DuckDB's on the linkage inputs
    // (both classic DP; pinned on representative name pairs).
    val golden = Seq(
      ("Customer#000000001", "Customer#000000123", 3),
      ("Customer#000000001", "Customer#000000002", 1),
      ("abc", "axc", 1), ("abc", "abc", 0)).toDF("a", "b", "want")
    assert(golden.filter(levenshtein(col("a"), col("b")) =!= col("want")).isEmpty)

    val out = Mining.q49.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    // symmetric consistency: if a's best partner is b at distance d, then
    // b's own best distance can't exceed d (b sees the same pair)
    out.values.filter(!_.isNullAt(1)).foreach { r =>
      val (partner, d) = (r.getLong(1), r.getInt(2))
      assert(out(partner).getInt(2) <= d,
        s"best(${r.getLong(0)})=$partner@$d but best($partner)=${out(partner).getInt(2)}")
    }
  }

  test("bloom filter has no false negatives: benchmark's own shingles always hit") {
    val bench = Catalog.table(spark, sf, "documents").filter(col("doc_id") < 50)
    val bloom = Mining.bloomFilter(bench)
    val m = (Mining.BloomBits - 1).toLong
    val probed = bench
      .select(explode(ShingleHashes(col("text"), Dedup.ShingleN)).as("h"))
      .select(col("h").bitwiseAND(lit(m)).as("p1"),
        shiftright(col("h"), 20).bitwiseAND(lit(m)).as("p2"))
    val missed = probed
      .join(bloom.select(col("w").as("w1"), col("bits").as("bits1")),
        shiftright(col("p1"), 5) === col("w1"), "left")
      .join(bloom.select(col("w").as("w2"), col("bits").as("bits2")),
        shiftright(col("p2"), 5) === col("w2"), "left")
      .filter(col("bits1").isNull || col("bits2").isNull ||
        !expr("(shiftright(bits1, CAST(p1 & 31 AS INT)) & 1) = 1") ||
        !expr("(shiftright(bits2, CAST(p2 & 31 AS INT)) & 1) = 1"))
    assert(missed.isEmpty, "a Bloom filter must never miss an inserted element")
  }

  test("bloom word table is bounded by the filter size, not the benchmark size") {
    val bloom = Mining.bloomFilter(
      Catalog.table(spark, sf, "documents").filter(col("doc_id") < 50))
    assert(bloom.count() <= Mining.BloomBits / 32)
  }

  test("q93 plan: corpus probes join the bloom table via broadcast, and never shuffle the corpus") {
    val p = Mining.q93.fn(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"bloom side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
  }

  test("winnowing: identical documents produce identical sketches, compressed vs the k-gram set") {
    val sk = planted.select(col("doc_id"),
        size(ShingleHashes.positional(col("text"), Mining.WinnowK)).as("n_kgrams"),
        Mining.winnowSketch(col("text")).as("sketch"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Long](2).toSet)).toMap
    assert(sk(3L)._2 === sk(9003L)._2, "exact copies must have equal sketches")
    // Schleimer et al.: expected density 2/(w+1) = 0.4 — allow slack but
    // require genuine compression on long docs
    val longDocs = sk.values.filter(_._1 >= 40)
    assert(longDocs.nonEmpty)
    longDocs.foreach { case (n, sketch) =>
      assert(sketch.size < n, s"sketch (${sketch.size}) must compress $n k-grams")
    }
    // one-word edit still shares fingerprints with its source
    assert((sk(1L)._2 & sk(9001L)._2).nonEmpty, "winnowing must detect the overlapping run")
  }

  test("winnow_sketch kernel is set-equal to the built-in HOF tree") {
    val d = Catalog.table(spark, sf, "documents").limit(200)
    val both = d.select(col("doc_id"),
      Mining.winnowSketch(col("text")).as("fused"),
      Mining.winnowSketchTree(col("text")).as("tree"))
    val bad = both.filter(
      size(array_except(col("fused"), col("tree"))) =!= 0 ||
        size(array_except(col("tree"), col("fused"))) =!= 0)
    assert(bad.isEmpty, "fused kernel must select the same fingerprint set as the HOF tree")
  }

  test("source calibration: tiers follow per-source thresholds, keep is the top half") {
    val rows = Mining.q102.fn(spark, sf).collect()
    val nDocs = Catalog.table(spark, sf, "documents").count()
    assert(rows.length === nDocs)
    rows.foreach { r =>
      val qs = r.getAs[Double]("quality_score")
      val tier = r.getAs[Int]("tier")
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90"), "thresholds must be ordered")
      assert(r.getAs[Boolean]("keep") === (tier >= 2))
      if (qs >= r.getAs[Double]("p90")) assert(tier === 4)
      if (qs < r.getAs[Double]("p50")) assert(tier <= 1)
    }
    // per source, the kept share brackets the intended top half (ties and
    // the rank-selection element convention move it off exactly 50%)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val share = rs.count(_.getAs[Boolean]("keep")).toDouble / rs.length
      assert(share > 0.3 && share < 0.7, s"source $src kept share $share far from top-half")
    }
  }

  test("token budget: selected docs are exactly the quality-ordered prefix within quota") {
    val rows = Mining.q95.fn(spark, sf).collect()
    rows.groupBy(_.getString(1)).foreach { case (src, docs) =>
      val quota = docs.head.getLong(5)
      val selTokens = docs.filter(_.getBoolean(6)).map(_.getLong(2)).sum
      assert(selTokens <= quota, s"$src: selected ${selTokens} tokens > quota $quota")
      // the cheapest unselected doc (by cum_tokens) must overflow the quota
      val unselected = docs.filter(!_.getBoolean(6))
      if (unselected.nonEmpty)
        assert(unselected.map(_.getLong(4)).min > quota,
          s"$src: an unselected doc fits inside the quota — selection is not the maximal prefix")
    }
  }

  test("kmeans step: members conserved, similarities bounded, centroids near their seeds") {
    val rows = graft.ops.Similarity.q94.fn(spark, sf).collect()
    val total = Catalog.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum === total, "every vector assigned exactly once")
    rows.filter(_.getLong(1) > 0).foreach { r =>
      val (avgSim, drift) = (r.getDouble(3), r.getDouble(4))
      assert(avgSim >= -1.0 && avgSim <= 1.0)
      assert(drift <= 1.0 + 1e-9 && drift >= -1.0 - 1e-9)
      assert(r.getLong(2) <= r.getLong(1), "reassigned is a subset of members")
    }
  }

  test("q92 plan: classifier scoring is a pure projection until the final sort") {
    val df = Mining.q92.fn(spark, sf)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // one Exchange allowed: the rangepartitioning for ORDER BY doc_id
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"scoring must not shuffle before the sort:\n$p")
  }

  test("q119: shards are size-bounded, cover the selection exactly, and re-run byte-identical") {
    val manifest = Mining.q119.fn(spark, sf).collect()
    assert(manifest.nonEmpty)
    // shard ids are dense from 0 (hash order leaves no gaps)
    assert(manifest.map(_.getAs[Long]("shard_id")).toSeq ===
      (0L until manifest.length.toLong))
    // the size bound: a shard never exceeds budget + one document's
    // tokens (the doc that crosses the cut), and only the LAST shard may
    // run light
    val sel = Mining.q95.fn(spark, sf).filter(col("selected"))
    val maxDoc = sel.agg(max(col("n_tokens"))).head().getLong(0)
    manifest.foreach { r =>
      assert(r.getAs[Long]("shard_tokens") <= Mining.ShardBudget + maxDoc,
        s"shard ${r.getAs[Long]("shard_id")} exceeds the bound")
    }
    manifest.dropRight(1).foreach { r =>
      assert(r.getAs[Long]("shard_tokens") >= Mining.ShardBudget - maxDoc,
        s"non-final shard ${r.getAs[Long]("shard_id")} is underfilled")
    }
    // coverage: manifest totals equal the q95 selection exactly
    assert(manifest.map(_.getAs[Long]("n_docs")).sum === sel.count())
    assert(manifest.map(_.getAs[Long]("shard_tokens")).sum ===
      sel.agg(sum(col("n_tokens"))).head().getLong(0))
    // determinism: a re-run materializes BYTE-identical manifest parquet
    def writeOnce(tag: String): Array[Byte] = {
      val dir = tmpDir(s"graft-manifest-$tag")
      Mining.q119.fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir)
      val part = new java.io.File(dir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.readAllBytes(part.toPath)
    }
    assert(java.util.Arrays.equals(writeOnce("a"), writeOnce("b")),
      "re-running the resharder on the same corpus must be byte-identical")
  }

  // ── q148 epoch shuffle ──────────────────────────────────────────────

  test("q148: each (epoch, shard) order is a contiguous 1..n ranking and epochs cover every doc") {
    val ord = ops.Mining.epochOrder(spark, sf).cache()
    try {
      val perShard = ord.groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
          countDistinct("pos").as("nd"))
        .collect()
      perShard.foreach { r =>
        assert(r.getAs[Int]("mn") === 1 && r.getAs[Int]("mx").toLong === r.getAs[Long]("n")
          && r.getAs[Long]("nd") === r.getAs[Long]("n"),
          s"positions must be contiguous 1..n in $r")
      }
      // every doc appears exactly once per epoch
      val nDocs = Catalog.table(spark, sf, "documents").count()
      val perEpoch = ord.groupBy("epoch")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd")).collect()
      assert(perEpoch.length === 2)
      perEpoch.foreach { r =>
        assert(r.getAs[Long]("n") === nDocs && r.getAs[Long]("nd") === nDocs)
      }
    } finally ord.unpersist()
  }

  test("q148: different epochs produce genuinely different permutations") {
    val out = ops.Mining.q148.fn(spark, sf)
      .collect().map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("shard")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("ord_dot"))).toMap
    val shards = out.keys.filter(_._1 == 1).map(_._2)
    // the per-shard membership AND order checksums must differ for most
    // shards between seeds (independent permutations)
    val differing = shards.count(sh =>
      out.get((1, sh)) != out.get((2, sh)))
    assert(differing * 2 > shards.size,
      s"epoch permutations look identical: only $differing/${shards.size} shards differ")
  }

  // ── q149 mixture interleave ─────────────────────────────────────────

  test("q149: slots are globally unique and each full cycle holds exactly w_s docs of source s") {
    val slots = ops.Mining.interleaveSlots(spark, sf).cache()
    try {
      val n = slots.count()
      assert(slots.agg(countDistinct("slot")).head().getLong(0) === n,
        "interleave slots must be globally unique")
      // cycle length from the weights (one row per source)
      val wBySrc = slots.select("source", "w").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val cyc = wBySrc.values.sum
      // while every source is still active (first 5 cycles: every source
      // has >= 5*w docs at sf0.001), cycle c must hold exactly w_s docs
      // of source s — the proportional-interleave property
      val perCycle = slots.withColumn("cycle", expr(s"slot DIV $cyc"))
        .filter(col("cycle") < 5)
        .groupBy("cycle", "source").agg(count(lit(1)).as("n"))
        .collect()
      assert(perCycle.length === 5 * wBySrc.size)
      perCycle.foreach { r =>
        assert(r.getAs[Long]("n") === wBySrc(r.getAs[String]("source")),
          s"cycle ${r.getAs[Long]("cycle")} has wrong share for ${r.getAs[String]("source")}")
      }
    } finally slots.unpersist()
  }

  // ── q157 renormalizing interleave ───────────────────────────────────

  test("q157: renormalized slots are a dense 0..N-1 order, per-source monotone, and equal to q149 before the first exhaustion breakpoint") {
    val slots = ops.Mining.renormSlots(spark, sf).cache()
    try {
      val n = slots.count()
      val agg = slots.agg(min("slot"), max("slot"), countDistinct("slot")).head()
      assert(agg.getLong(0) === 0L && agg.getLong(1) === n - 1 &&
        agg.getLong(2) === n,
        "renormalized schedule must be a dense total order 0..N-1")
      // within a source, slot order preserves doc_id order
      val inversions = slots.as("a").join(slots.as("b"),
          col("a.source") === col("b.source") &&
            col("a.doc_id") < col("b.doc_id") && col("a.slot") > col("b.slot"))
        .count()
      assert(inversions === 0L, "per-source consumption order must follow doc_id")
      // before ANY source exhausts (cycles < first breakpoint b1), the
      // renormalizing schedule IS q149's gap-free prefix: slots agree
      val q149Slots = ops.Mining.interleaveSlots(spark, sf)
        .select(col("source"), col("doc_id"), col("slot").as("slot149"))
      val b1 = slots.agg(min(when(col("b") > 0, col("b")))).head().getLong(0)
      val disagree = slots.filter(col("c") < b1)
        .join(q149Slots, Seq("source", "doc_id"))
        .filter(col("slot") =!= col("slot149")).count()
      assert(disagree === 0L,
        s"pre-exhaustion prefix (cycles < $b1) must match q149's schedule")
    } finally slots.unpersist()
  }

  test("q157: slot assignment is bit-equal to a sequential weighted round-robin with removal") {
    val got = ops.Mining.renormSlots(spark, sf)
      .select("source", "doc_id", "slot").collect()
      .map(r => r.getLong(2) -> (r.getString(0), r.getLong(1))).toMap
    // ground truth: walk sources lexicographically, w_s docs per cycle,
    // drop a source when it empties — the schedule a single-threaded
    // loader would produce
    val perSrc = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.Queue[Long]]()
    Catalog.table(spark, sf, "documents").select("source", "doc_id")
      .orderBy("source", "doc_id").collect()
      .foreach { r =>
        perSrc.getOrElseUpdate(r.getString(0), scala.collection.mutable.Queue.empty) += r.getLong(1)
      }
    val w = perSrc.keys.map(src => src -> ((src.drop(3).toInt % 4) + 1)).toMap
    val order = Seq.newBuilder[(String, Long)]
    var active = perSrc.keys.toSeq.sorted
    while (active.nonEmpty) {
      active.foreach { src =>
        (0 until w(src)).foreach { _ =>
          if (perSrc(src).nonEmpty) order += (src -> perSrc(src).dequeue()) }
      }
      active = active.filter(perSrc(_).nonEmpty)
    }
    val expected = order.result().zipWithIndex.map { case (sd, i) => i.toLong -> sd }.toMap
    assert(got.size === expected.size)
    assert(got === expected, "distributed schedule must equal the sequential round-robin")
  }

  test("q158: segment manifest is contiguous in cycles and slots and covers exactly the corpus") {
    val segs = ops.Mining.q158.fn(spark, sf).orderBy("seg_idx").collect()
    val n = Catalog.table(spark, sf, "documents").count()
    // cycles tile [0, cMax): each segment starts where the previous ended
    segs.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("end_cycle") === b.getAs[Long]("first_cycle"),
          "segments must tile the cycle axis")
        assert(a.getAs[Long]("first_slot") + a.getAs[Long]("n_slots") ===
          b.getAs[Long]("first_slot"), "slot bases must chain exactly")
        assert(a.getAs[Long]("n_active") >= b.getAs[Long]("n_active"),
          "active-source count can only shrink as sources exhaust")
      case _ => ()
    }
    assert(segs.head.getAs[Long]("first_cycle") === 0L)
    assert(segs.head.getAs[Long]("first_slot") === 0L)
    assert(segs.map(_.getAs[Long]("n_slots")).sum === n,
      "total slot mass must equal the corpus size — the dense-order invariant")
  }

  test("q159: the consumed set is a slot-prefix, per-source prefixes, and the cut preserves the mixture") {
    val out = ops.Mining.q159.fn(spark, sf).collect()
    val slots = ops.Mining.renormSlots(spark, sf)
      .select("source", "doc_id", "slot").cache()
    try {
      val k = out.map(_.getAs[Long]("n_consumed")).sum
      // globally: consumed slots are exactly 0..K-1 (a prefix of the order)
      val maxConsumed = out.map(_.getAs[Long]("last_slot")).max
      assert(maxConsumed === k - 1,
        s"consumed set must be the slot-prefix 0..${k - 1}, got max slot $maxConsumed")
      // per source: consumed count = docs with slot < K (prefix of its order)
      val perSrc = slots.filter(col("slot") < k).groupBy("source")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      out.foreach { r =>
        assert(perSrc.getOrElse(r.getAs[String]("source"), 0L) ===
          r.getAs[Long]("n_consumed"))
      }
      // mixture preservation: among sources NOT exhausted by the cut,
      // consumed-per-weight differs by at most one cycle
      val live = out.filter(r => r.getAs[Long]("n_consumed") < r.getAs[Long]("n_docs"))
        .map(r => r.getAs[Long]("n_consumed") / r.getAs[Long]("w"))
      assert(live.nonEmpty && live.max - live.min <= 1L,
        s"budget cut must not skew the mixture: per-weight consumption ${live.toSeq}")
    } finally slots.unpersist()
  }

  test("q161: loader chain conserves the upsampled token mass, fills packs exactly, and realizes the mixture per pack") {
    val packs = ops.Mining.q161.fn(spark, sf).orderBy("pack_id").collect()
    // conservation: sum of pack fills == q160's materialized token mass
    val upTokens = ops.TextOps.q160.fn(spark, sf).collect()
      .map(_.getAs[Long]("up_tokens")).sum
    assert(packs.map(_.getAs[Long]("pack_tokens")).sum === upTokens,
      "wrap packs must conserve the materialized token mass")
    // exact fill everywhere but the tail
    packs.init.foreach { p =>
      assert(p.getAs[Long]("pack_tokens") === 2048L,
        s"pack ${p.getAs[Long]("pack_id")} not exactly full")
    }
    // the interleave realizes the mixture at pack granularity: every
    // full pack spans many sources (a per-source-sequential layout
    // would put one source per pack)
    val multiSource = packs.init.count(_.getAs[Long]("n_sources") >= 2L)
    assert(multiSource === packs.length - 1,
      s"only $multiSource/${packs.length - 1} full packs mix sources")
    // upsampling is materialized in the stream: copies beyond the first
    // appear across packs
    assert(packs.map(_.getAs[Long]("n_upsampled")).sum > 0L,
      "upsampled copies must appear in the packed stream")
    // slot spans are monotone: pack p+1 starts at or after pack p's span
    packs.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("first_slot") <= b.getAs[Long]("first_slot"),
          "pack slot spans must follow the schedule order")
      case _ => ()
    }
  }

  test("q162: epoch reshuffles permute within sources while the slot skeleton stays frozen") {
    def slotsOf(e: Int) = ops.Mining.renormEpochSlots(spark, sf, e)
      .select("source", "doc_id", "slot").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (e1, e2) = (slotsOf(1), slotsOf(2))
    // the skeleton: per source, the SET of slots is identical every
    // epoch (slot assignment depends only on masses and rank) — the
    // q158 manifest never needs re-deriving between epochs
    def skeleton(rows: Array[(String, Long, Long)]) =
      rows.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(skeleton(e1) === skeleton(e2),
      "per-source slot positions must be epoch-invariant")
    // the permutation: which doc occupies which slot must actually
    // change for every multi-doc source
    val m1 = e1.map(r => (r._1, r._2) -> r._3).toMap
    val changedBySrc = e2.groupBy(_._1).view.mapValues(
      _.count(r => m1((r._1, r._2)) != r._3)).toMap
    changedBySrc.foreach { case (src, changed) =>
      assert(changed > 0, s"$src: epoch 2 produced the identical permutation")
    }
  }

  test("q163: eval table partitions the corpus and its cumulative columns are consistent") {
    val rows = ops.Mining.q163.fn(spark, sf).orderBy(col("band").desc).collect()
    val nDocs = Catalog.table(spark, sf, "documents").count()
    val nKeep = ops.Corpus.q69.fn(spark, sf).filter(col("keep")).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs,
      "bands must partition the corpus")
    assert(rows.map(_.getAs[Long]("n_keep")).sum === nKeep,
      "band keeps must sum to the gate's keep count")
    // cumulative columns re-derive from the per-band columns exactly
    var (cd, ck) = (0L, 0L)
    rows.foreach { r =>
      cd += r.getAs[Long]("n_docs"); ck += r.getAs[Long]("n_keep")
      assert(r.getAs[Long]("cum_docs") === cd && r.getAs[Long]("cum_keep") === ck)
      assert(r.getAs[Long]("cum_precision_bp") === ck * 10000 / cd)
      assert(r.getAs[Long]("cum_recall_bp") === ck * 10000 / nKeep)
    }
    assert(rows.last.getAs[Long]("cum_recall_bp") === 10000L,
      "keeping every band must recall every gate keeper")
  }

  test("q164: importance scores cover every multi-token candidate with exact per-doc arithmetic") {
    val rows = ops.Mining.q164.fn(spark, sf).collect()
    val expected = Catalog.table(spark, sf, "documents")
      .filter(col("doc_id") >= 50)
      .select(col("doc_id"), ops.TextOps.tokenCount(col("text")).as("n"))
      .filter(col("n") >= 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    assert(rows.length === expected.size,
      "every candidate doc with at least one bigram must be scored")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_bigrams") === expected(id) - 1L,
        s"doc $id: one feature per adjacent token pair")
      assert(r.getAs[Long]("score_sum") > 0L, "add-one smoothing keeps every ratio positive")
      assert(r.getAs[Long]("score_mean_fp") ===
        r.getAs[Long]("score_sum") / r.getAs[Long]("n_bigrams"))
    }
  }

  test("q165: mixture impact is consistent with the per-doc scores and monotone across cuts") {
    val perDoc = ops.Mining.q164.fn(spark, sf).count()
    val rows = ops.Mining.q165.fn(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_candidates")).sum === perDoc,
      "per-source candidates must partition the scored set")
    rows.foreach { r =>
      val passes = Seq("n_pass_r09", "n_pass_r10", "n_pass_r11")
        .map(r.getAs[Long](_))
      assert(passes === passes.sorted.reverse,
        s"${r.getAs[String]("source")}: survivor counts must shrink as the cut rises")
      assert(passes.head <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("mean_fp") ===
        r.getAs[Long]("score_sum") / r.getAs[Long]("n_bigrams"))
    }
    // relative cuts keep the sweep discriminating AT EVERY SCALE: the
    // global-mean cut always keeps at least one doc, and the top cut
    // must drop docs somewhere
    assert(rows.map(_.getAs[Long]("n_pass_r10")).sum > 0L,
      "the global-mean cut can never select an empty corpus")
    val top = rows.map(_.getAs[Long]("n_pass_r11"))
    assert(top.max > 0L && top.exists(t => t < rows.head.getAs[Long]("n_candidates")),
      "the cut sweep must actually separate the corpus")
  }

  test("q166: a 1.5-epoch budget consumes epoch 1 completely and cuts epoch 2 as a slot-prefix") {
    val rows = ops.Mining.q166.fn(spark, sf).collect()
    val (e1, e2) = rows.partition(_.getAs[Long]("epoch") == 1L)
    // epoch 1: every source fully consumed
    e1.foreach { r =>
      assert(r.getAs[Long]("n_consumed") === r.getAs[Long]("n_docs"),
        s"epoch 1 ${r.getAs[String]("source")} must be fully consumed")
    }
    // epoch 2: the consumed set is the slot-prefix 0..K-1 of ITS schedule
    val k2 = e2.map(_.getAs[Long]("n_consumed")).sum
    assert(k2 > 0L && k2 < e2.map(_.getAs[Long]("n_docs")).sum,
      "the 1.5-epoch budget must land strictly inside epoch 2")
    assert(e2.map(_.getAs[Long]("last_slot")).max === k2 - 1,
      "epoch 2's consumed set must be a prefix of its slot order")
    // per-source: epoch-2 consumption = docs with slot < K under the
    // epoch-2 permutation
    val perSrc = ops.Mining.renormEpochSlots(spark, sf, 2)
      .filter(col("slot") < k2).groupBy("source")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    e2.foreach { r =>
      assert(perSrc.getOrElse(r.getAs[String]("source"), 0L) ===
        r.getAs[Long]("n_consumed"))
    }
  }

  test("q167: the selected recipe reweights exactly q165's cut survivors and shares sum to one") {
    val rows = ops.Mining.q167.fn(spark, sf).collect()
    val m165 = ops.Mining.q165.fn(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.map(_.getAs[String]("source")).toSet === m165.keySet,
      "q167 covers every source with a scored candidate")
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("n_cand") === m165(src).getAs[Long]("n_candidates"),
        s"$src: candidate base must be the q165 frame")
      assert(r.getAs[Long]("n_sel") === m165(src).getAs[Long]("n_pass_r10"),
        s"$src: survivors at the recipe cut must equal q165's n_pass_r10")
      assert(r.getAs[Long]("sel_tokens") <= r.getAs[Long]("cand_tokens"))
      assert(r.getAs[Long]("shift_ppm") ===
        r.getAs[Long]("mix_sel_ppm") - r.getAs[Long]("mix_cand_ppm"))
      // the 1M-token quota and oversample factor follow q111's contract
      assert(r.getAs[Long]("sel_target_tokens") <= r.getAs[Long]("mix_sel_ppm"),
        "floor(share*1e6) <= round(share*1e6)")
      if (r.getAs[Long]("n_sel") == 0L) {
        assert(r.getAs[Long]("mix_sel_ppm") === 0L)
        assert(r.getAs[Double]("sel_oversample_x") === 0.0)
      }
    }
    // both recipes are probability mixtures: ppm shares sum to 1e6 up to
    // one ulp-of-rounding per source, and shifts are exactly their gap
    val sumSel = rows.map(_.getAs[Long]("mix_sel_ppm")).sum
    val sumCand = rows.map(_.getAs[Long]("mix_cand_ppm")).sum
    assert(math.abs(sumSel - 1000000L) <= rows.length.toLong)
    assert(math.abs(sumCand - 1000000L) <= rows.length.toLong)
    assert(rows.map(_.getAs[Long]("shift_ppm")).sum === sumSel - sumCand)
    // the selection genuinely moves the mixture
    assert(rows.exists(_.getAs[Long]("shift_ppm") != 0L),
      "importance selection must shift at least one source's share")
    // temperature law on the selected corpus: shares order by token mass
    val bySel = rows.sortBy(_.getAs[Long]("sel_tokens"))
    assert(bySel.map(_.getAs[Long]("mix_sel_ppm")) ===
      bySel.map(_.getAs[Long]("mix_sel_ppm")).sorted,
      "sqrt reweighting preserves the token-mass order")
  }

  test("q168: the selected loader chain packs exactly the survivors' upsampled mass") {
    val packs = ops.Mining.q168.fn(spark, sf).orderBy("pack_id").collect()
    assert(packs.nonEmpty, "the cut must leave a non-empty selected corpus")
    assert(packs.map(_.getAs[Long]("pack_id")).toSeq === (0L until packs.length.toLong),
      "pack ids are a dense prefix")
    packs.init.foreach(p => assert(p.getAs[Long]("pack_tokens") === 2048L,
      s"pack ${p.getAs[Long]("pack_id")} not exactly full"))
    assert(packs.last.getAs[Long]("pack_tokens") <= 2048L)
    packs.foreach(p => assert(p.getAs[Long]("n_rows") ===
      p.getAs[Long]("n_starting") + p.getAs[Long]("n_wrapped_in")))
    // the chain's input frame is exactly q167's accounting: per-source
    // survivor token mass == sel_tokens
    val scored = ops.Mining.targetedScores(spark, sf).localCheckpoint()
    val selTok = scored
      .filter(col("score_mean_fp") >= ops.Mining.globalLevel(scored))
      .select(col("source"), col("doc_id"), (col("n_bigrams") + 1L).as("toks"))
    val massBySrc = selTok.groupBy("source").agg(sum("toks").as("m")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("m")).toMap
    ops.Mining.q167.fn(spark, sf).collect().foreach { r =>
      assert(massBySrc.getOrElse(r.getAs[String]("source"), 0L) ===
        r.getAs[Long]("sel_tokens"),
        s"${r.getAs[String]("source")}: chain input must match q167's survivor mass")
    }
    // conservation: pack fills sum to the survivors' materialized
    // (recipe-upsampled) token mass, recomputed off the shared kernels
    val fac = ops.TextOps.recipeFactorsOf(selTok)
    val up = selTok
      .join(broadcast(fac.select("source", "repeat_x", "frac_bp")), "source")
      .withColumn("copies", col("repeat_x") +
        when(Dedup.h60Col(concat(lit("up:"), col("source"), lit(":"),
          col("doc_id").cast("string"))) % 10000 < col("frac_bp"), 1L).otherwise(0L))
      .agg(sum(col("copies") * col("toks"))).head().getLong(0)
    assert(packs.map(_.getAs[Long]("pack_tokens")).sum === up,
      "wrap packs must conserve the selected corpus's upsampled mass")
    // the sub-1M survivor corpus upsamples: copies beyond the first land
    assert(packs.map(_.getAs[Long]("n_upsampled")).sum > 0L)
    // slot spans follow the schedule order
    packs.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("first_slot") <= b.getAs[Long]("first_slot"))
      case _ => ()
    }
  }

  test("q169: incremental rescore under benchmark rotation equals the from-scratch v2 scores") {
    val perDoc = ops.Mining.releaseDeltaScores(spark, sf).cache()
    try {
      // untouched docs cannot move — the production skip-set law
      perDoc.filter(!col("touched")).collect().foreach { r =>
        assert(r.getAs[Long]("ds") === 0L,
          s"doc ${r.getAs[Long]("doc_id")}: no changed bucket but a score delta")
      }
      // incremental v2 == q164's from-scratch scores, bit-equal per doc
      val v2 = perDoc.select(col("doc_id"), col("s2")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("s2")).toMap
      ops.Mining.q164.fn(spark, sf).collect().foreach { r =>
        assert(v2(r.getAs[Long]("doc_id")) === r.getAs[Long]("score_sum"),
          s"doc ${r.getAs[Long]("doc_id")}: incremental != from-scratch")
      }
      assert(v2.size === ops.Mining.q164.fn(spark, sf).count())
      // the rollup's churn accounting is internally consistent and the
      // v2 pass column matches q165's sweep at the shared cut
      val rows = ops.Mining.q169.fn(spark, sf).collect()
      val m165 = ops.Mining.q165.fn(spark, sf).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_pass_r10")).toMap
      rows.foreach { r =>
        assert(r.getAs[Long]("n_changed") <= r.getAs[Long]("n_touched"))
        assert(r.getAs[Long]("n_touched") <= r.getAs[Long]("n_candidates"))
        assert(r.getAs[Long]("n_pass_v2") - r.getAs[Long]("n_pass_v1") ===
          r.getAs[Long]("n_gained") - r.getAs[Long]("n_lost"),
          s"${r.getAs[String]("source")}: churn must reconcile the pass delta")
        assert(r.getAs[Long]("n_pass_v2") === m165(r.getAs[String]("source")),
          s"${r.getAs[String]("source")}: v2 selection must be q165's cut")
      }
      // the rotation genuinely moves scores somewhere
      assert(rows.map(_.getAs[Long]("n_changed")).sum > 0L,
        "growing the target set must change at least one candidate's score")
    } finally { perDoc.unpersist(); () }
  }

  // ── q150 curriculum order ───────────────────────────────────────────

  test("q150: global positions are a permutation of 1..n and phases are contiguous blocks") {
    val ord = ops.Mining.curriculumOrder(spark, sf).cache()
    try {
      val n = ord.count()
      val agg = ord.agg(min("gpos"), max("gpos"), countDistinct("gpos")).head()
      assert(agg.getLong(0) === 1L && agg.getLong(1) === n && agg.getLong(2) === n,
        "curriculum order must be a dense global permutation")
      // phase p's whole block precedes phase p+1's: ranges must not overlap
      val ranges = ord.groupBy("phase")
        .agg(min("gpos").as("lo"), max("gpos").as("hi"), count(lit(1)).as("cnt"))
        .orderBy("phase").collect()
      ranges.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"),
            s"phase blocks overlap: $a vs $b")
        case _ => ()
      }
      // each block is dense: hi - lo + 1 == count
      ranges.foreach { r =>
        assert(r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1 === r.getAs[Long]("cnt"))
      }
    } finally ord.unpersist()
  }

  test("q153: pack epoch order covers every pack once per epoch and conserves token mass") {
    val out = ops.Mining.q153.fn(spark, sf).collect()
    val packs = ops.TextOps.wrapPacks(spark, sf).cache()
    try {
      val (nPacks, totalToks) = {
        val r = packs.agg(count(lit(1)), sum("pack_tokens")).head()
        (r.getLong(0), r.getLong(1))
      }
      Seq(1, 2).foreach { e =>
        val rows = out.filter(_.getAs[Int]("epoch") == e)
        assert(rows.map(_.getAs[Long]("n_packs")).sum === nPacks,
          s"epoch $e must schedule every pack exactly once")
        assert(rows.map(_.getAs[Long]("shard_tokens")).sum === totalToks,
          s"epoch $e must conserve the corpus token mass")
      }
      // the two epochs' per-shard checksums must mostly differ
      val byKey = out.map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("shard")) ->
        (r.getAs[Long]("n_packs"), r.getAs[Long]("ord_dot"))).toMap
      val shards = byKey.keys.filter(_._1 == 1).map(_._2)
      val differing = shards.count(sh => byKey.get((1, sh)) != byKey.get((2, sh)))
      assert(differing * 2 > shards.size,
        s"pack epoch permutations look identical: $differing/${shards.size}")
    } finally packs.unpersist()
  }

  test("q156: consumed packs are a per-shard prefix and the budget cut is tight") {
    val out = ops.Mining.q156.fn(spark, sf).collect()
    // prefix invariant: the consumed set within each shard is exactly
    // positions 1..n_consumed — one resume position per shard suffices
    out.foreach { r =>
      assert(r.getAs[Long]("last_consumed_pos") === r.getAs[Long]("n_consumed"),
        s"consumed set must be a prefix of the shard order: $r")
      assert(r.getAs[Long]("n_consumed") <= r.getAs[Long]("n_packs"))
    }
    // tightness: the consumed mass is within one pack of the budget —
    // nothing more fits, nothing consumed was over budget
    val packs = ops.TextOps.wrapPacks(spark, sf).collect()
      .map(_.getAs[Long]("pack_tokens"))
    val total = packs.sum
    val budget = total * 6 / 10
    val consumed = out.map(_.getAs[Long]("tokens_consumed")).sum
    assert(consumed <= budget, "consumption must never exceed the budget")
    assert(consumed + packs.max > budget,
      "the cut must be tight: one more pack would cross the budget")
  }

  test("q151: the plan manifest's block ranges are exactly q150's per-block gpos ranges") {
    val ord = ops.Mining.curriculumOrder(spark, sf)
      .groupBy("phase", "shard")
      .agg(min("gpos").as("lo"), max("gpos").as("hi"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Int]("phase"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("lo"), r.getAs[Long]("hi"), r.getAs[Long]("n")))).toMap
    val mani = ops.Mining.q151.fn(spark, sf).collect()
      .map(r => (r.getAs[Int]("phase"), r.getAs[Long]("shard")) ->
        ((r.getAs[Long]("first_pos"), r.getAs[Long]("last_pos"),
          r.getAs[Long]("n_docs")))).toMap
    assert(mani === ord,
      "manifest offsets must be the exact block structure the global rank produces")
  }

  test("globalRank matches the naive global window on a bounded frame") {
    import org.apache.spark.sql.expressions.Window
    val d = Catalog.table(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("b", col("doc_id") % 5)
    val naive = d.withColumn("r",
      row_number().over(Window.orderBy("b", "n_chars", "doc_id")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("r")).toMap
    val dist = exec.PrefixSum.globalRank(d, "b", Seq("n_chars", "doc_id"), "r")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("r")).toMap
    assert(dist === naive)
  }

  test("runningTotalBy matches the naive per-group window on a bounded frame") {
    import org.apache.spark.sql.expressions.Window
    val d = Catalog.table(spark, sf, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val naive = d.withColumn("cum",
      sum(col("n_chars")).over(Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .select("source", "doc_id", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dist = exec.PrefixSum.runningTotalBy(d, "source", "doc_id", "n_chars", "cum", nBuckets = 7)
      .select("source", "doc_id", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dist === naive)
  }

  test("q181: the planted exact copy collapses to one whole-document span") {
    val out = Mining.duplicatedSpansOf(planted.select("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // 9003 is an exact copy of doc 3: every window duplicated, positions
    // contiguous, so exactly ONE span covering the whole document
    // (n_windows + w - 1 tokens) on BOTH sides of the copy
    Seq(3L, 9003L).foreach { id =>
      val (nw, ndw, nspans, dupTokens, maxSpan) = out(id)
      assert(ndw === nw, s"doc $id: all windows duplicated")
      assert(nspans === 1L, s"doc $id: one maximal span")
      assert(dupTokens === nw + 8 - 1, s"doc $id: span covers the whole doc")
      assert(maxSpan === dupTokens)
    }
    // 9001 changed doc 1's first word: the windows overlapping position 0
    // are unique to it, so its duplicated mass is a strict suffix
    val (nw1, ndw1, _, dup1, _) = out(9001L)
    assert(ndw1 < nw1 && dup1 < nw1 + 8 - 1, "the edited head must stay unduplicated")
    // span accounting is internally consistent everywhere
    out.values.foreach { case (nw, ndw, nspans, dupTokens, maxSpan) =>
      assert(ndw <= nw)
      assert((nspans == 0L) == (ndw == 0L))
      assert(maxSpan <= dupTokens)
      assert(dupTokens <= ndw * 8, "a span never covers more than w tokens per window")
    }
  }

  test("q182: keep-first span scrub cuts the copy, keeps the original, conserves tokens") {
    val out = Mining.spanScrubPlanOf(planted.select("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // the exact copy loses everything: every window's first occurrence
    // sits in doc 3 (or earlier), so 9003 is fully cut
    val (n9, _, cut9, kept9, full9) = out(9003L)
    assert(full9 && kept9 === 0L && cut9 === n9, "exact copy must be fully cut")
    // the original keeps the mass its copy lost (first occurrence wins)
    val (n3, _, cut3, kept3, _) = out(3L)
    assert(kept3 > 0L, "the first occurrence must survive")
    assert(cut3 < n3)
    // exact accounting everywhere: kept + cut = tokens, never negative
    out.values.foreach { case (n, spans, cutT, keptT, full) =>
      assert(keptT + cutT === n)
      assert(keptT >= 0L && cutT >= 0L)
      assert((spans == 0L) == (cutT == 0L))
      assert(full == (keptT == 0L))
    }
  }

  test("q175: the MW weight trajectory matches a sequential simulation and orders by excess") {
    val out = Mining.q175.fn(spark, sf).collect()
    // sequential simulation of the exact update off the per-source stats
    val stats = Catalog.table(spark, sf, "documents")
      .select(col("source"), col("n_chars"),
        size(graft.ops.TextOps.tokens(col("text"))).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("source"), expr("(10000 * n_chars) div n_tokens").as("cpt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("cpt").cast("long").as("loss_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val loss = stats.map { case (_, n, s) => s.toDouble / n.toDouble }
    val (mn, mx) = (loss.min, loss.max)
    val ex = loss.map(l => if (mx > mn) (l - mn) / (mx - mn) else 0.0)
    var w = Array.fill(stats.length)(1.0 / stats.length)
    val traj = (1 to 4).map { _ =>
      val wp = w.indices.map(i => w(i) * (1.0 + 0.5 * ex(i))).toArray
      val z = wp.foldLeft(0.0)(_ + _) // sources already sorted: same association
      w = wp.map(_ / z)
      w.map(v => math.floor(v * 1000000.0).toLong)
    }
    val bySource = out.map(r => r.getString(0) -> r).toMap
    stats.map(_._1).zipWithIndex.foreach { case (src, i) =>
      val r = bySource(src)
      (1 to 4).foreach(t => assert(r.getAs[Long](s"w${t}_ppm") === traj(t - 1)(i),
        s"$src round $t"))
      assert(r.getAs[Long]("excess_bp") === math.floor(ex(i) * 10000.0).toLong)
    }
    // MW semantics: weights order by excess, the worst source strictly
    // gains over uniform, the best strictly loses (when losses differ)
    val sorted = out.sortBy(_.getAs[Long]("excess_bp"))
    val w4 = sorted.map(_.getAs[Long]("w4_ppm"))
    assert(w4.zip(w4.tail).forall { case (a, b) => a <= b }, "monotone in excess")
    val uniform = 1000000L / out.length
    assert(w4.last > uniform && w4.head < uniform)
    // allocations never exceed the corpus budget
    val total = out.map(_.getAs[Long]("n_docs")).sum
    assert(out.map(_.getAs[Long]("docs_alloc")).sum <= total)
  }
}
