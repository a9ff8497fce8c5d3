package graft

import graft.ops.{Dedup, Mining, Multimodal, Similarity, TextOps}
import graft.functions.RollingHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data-pipeline op specs: planted near-duplicates for the dedup
  * family, recall for ANN, golden values for the custom expression, and
  * determinism/schema for the multimodal plumbing.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import spark.implicits._

  /** Corpus with planted near-duplicates: doc 9001 = doc 1 with one word
    * changed; doc 9002 = doc 2 with two words appended; doc 9003 = exact
    * copy of doc 3.
    */
  private lazy val planted: DataFrame = {
    val base = Catalog.table(spark, sf, "documents").select("doc_id", "text").limit(50).cache()
    val Seq(t1, t2, t3) = base.filter(col("doc_id").isin(1, 2, 3))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val dups = Seq(
      (9001L, t1.replaceFirst("\\w+", "changedword")),
      (9002L, t2 + " appended tokens"),
      (9003L, t3)).toDF("doc_id", "text")
    base.unionByName(dups)
  }

  test("Catalog.spread enforces its exchange-free contract (r14): narrow frames pass, shuffle-bearing frames throw") {
    val d = Catalog.table(spark, sf, "documents")
    // narrow scan + projection/filter: accepted (and a no-op or RR spread)
    assert(Catalog.spread(d.select("doc_id", "text").filter(col("doc_id") >= 0))
      .rdd.getNumPartitions >= 1)
    // shuffle-bearing frames fail fast instead of silently running a job
    // at plan-construction time (the .rdd probe under AQE would execute)
    val agg = d.groupBy("source").count()
    val e = intercept[IllegalArgumentException](Catalog.spread(agg))
    assert(e.getMessage.contains("exchange-free"))
    intercept[IllegalArgumentException](
      Catalog.spread(d.join(d.select(col("doc_id")), Seq("doc_id"))))
    intercept[IllegalArgumentException](Catalog.spread(d.repartition(4)))
    intercept[IllegalArgumentException](Catalog.spread(d.orderBy("doc_id")))
    intercept[IllegalArgumentException](Catalog.spread(d.select("source").distinct()))
  }

  test("exact dedup clusters the exact copy only") {
    val clusters = planted.groupBy(md5(TextOps.normalized(col("text"))).as("fp"))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
    val dupCluster = clusters.filter(col("n") > 1).collect()
    assert(dupCluster.length === 1)
    assert(dupCluster.head.getAs[Long]("keep") === 3L)
  }

  test("minhash LSH surfaces all three planted near-dups as candidates") {
    val sigs = Dedup.minhashSignatures(planted)
    val bands = Dedup.lshBands(sigs)
    val other = bands.select(col("doc_id").as("b"), col("band_idx").as("bi"), col("band_hash").as("bh"))
    val cands = bands.join(other,
      col("band_idx") === col("bi") && col("band_hash") === col("bh") && col("doc_id") < col("b"))
      .select("doc_id", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 9001L)), s"1~9001 missing from $cands")
    assert(cands.contains((2L, 9002L)))
    assert(cands.contains((3L, 9003L)))
  }

  test("simhash: planted near-dups within hamming 8, exact copy at 0") {
    val sigs = Dedup.simhash(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(3L), sigs(9003L)) === 0)
    assert(ham(sigs(1L), sigs(9001L)) <= 8, s"hamming=${ham(sigs(1L), sigs(9001L))}")
    assert(ham(sigs(2L), sigs(9002L)) <= 8, s"hamming=${ham(sigs(2L), sigs(9002L))}")
  }

  test("ngram jaccard: exact copy J=1.0, near-dups J>0.5, unrelated J small") {
    val pairs = Dedup.jaccardPairs(planted)
      .select("doc_id", "doc_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((3L, 9003L)) === 1.0)
    assert(pairs((1L, 9001L)) > 0.5)
    assert(pairs((2L, 9002L)) > 0.5)
    // the synthetic corpus itself contains planted near-dups (e.g. docs
    // 8 and 12 share ~97% of shingles) — the op must surface them too
    val corpusDups = pairs.filter { case ((a, b), j) => a < 9000 && b < 9000 && j >= 0.5 }
    assert(corpusDups.nonEmpty, "driver-planted corpus near-dups must be detected")
  }

  test("LSH-candidate jaccard finds the same high-similarity pairs as exact all-pairs") {
    val exact = Dedup.jaccardPairs(planted)
      .filter(col("jaccard") >= 0.5)
      .select("doc_id", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Dedup.jaccardLshPairs(planted, minJaccard = 0.5)
      .select("doc_id", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(exact), "LSH path must introduce no false positives")
    assert(viaLsh.contains((1L, 9001L)) && viaLsh.contains((2L, 9002L)) &&
      viaLsh.contains((3L, 9003L)), s"planted near-dups must survive: $viaLsh")
    val recall = viaLsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below the banding curve expectation")
  }

  test("ANN LSH: candidates carry true cosine and achieve recall vs brute force") {
    val brute = Similarity.q35.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine_sim")).toMap
    val lsh = Similarity.q36.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine_sim"))
    assert(lsh.nonEmpty, "multiprobe must surface candidates")
    // any candidate also in the brute-force top-10 must carry the identical sim
    lsh.foreach { case (id, sim) =>
      brute.get(id).foreach(bs => assert(bs === sim, s"sim mismatch for vec $id"))
    }
    val recall = lsh.map(_._1).count(brute.contains).toDouble / brute.size
    assert(recall >= 0.2, s"recall@10 $recall too low")
  }

  test("ANN IVF: probed-partition results carry true cosine and overlap brute force") {
    val brute = Similarity.q35.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine_sim")).toMap
    val ivf = Similarity.q38.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine_sim"))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, sim) =>
      brute.get(id).foreach(bs => assert(bs === sim, s"sim mismatch for vec $id"))
    }
    val recall = ivf.map(_._1).count(brute.contains).toDouble / brute.size
    assert(recall >= 0.2, s"recall@10 $recall too low")
  }

  test("IVFADC residual coding beats raw PQ at the same code budget") {
    // (1) the structural claim, true at every SF: residuals center on zero
    // with smaller spread, so the same seed codebook quantizes TIGHTER —
    // total quantization error strictly below raw PQ's
    val rawErr = Similarity.q97.fn(spark, sf)
      .agg(sum(col("quant_err"))).head().getDouble(0)
    val e = Catalog.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), Similarity.asDouble(col("embedding")).as("v"))
    val cents = spark.read.parquet(Similarity.buildIvfIndex(spark, sf))
      .select(col("label").as("cl"), col("centroid"))
    val er = e.join(broadcast(cents), col("label") === col("cl"))
      .select(col("vec_id"), zip_with(col("v"), col("centroid"), _ - _).as("v"))
    val cbr = spark.read.parquet(
      Similarity.cbPath(Similarity.buildResPqIndex(spark, sf)))
    val subArr = array((0 until Similarity.PqM).map(m =>
      struct(lit(m).as("m"),
        slice(col("v"), m * Similarity.PqSubDim + 1, Similarity.PqSubDim).as("sv"))): _*)
    val resErr = er.select(col("vec_id"), explode(subArr).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
      .join(broadcast(cbr), col("m") === col("cm"))
      .select(col("vec_id"), col("m"),
        aggregate(zip_with(col("sv"), col("cw"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("dist"))
      .groupBy("vec_id", "m").agg(min(col("dist")).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)
    assert(resErr < rawErr,
      s"residual quantization error $resErr must beat raw PQ's $rawErr")
    // (2) the reranked cosines are TRUE cosines (match brute force where shared)
    val bruteSim = Similarity.q35.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine_sim")).toMap
    Similarity.q106.fn(spark, sf).collect().foreach { r =>
      bruteSim.get(r.getAs[Long]("vec_id")).foreach(bs =>
        assert(bs === r.getAs[Double]("cosine_sim")))
    }
  }

  test("IVFADC residual recall >= raw-PQ recall once cells have structure (sf0.01)") {
    // at sf0.001 (50 vectors) both ADC variants are probe-miss dominated;
    // at sf0.01 the per-label cells carry enough mass for the tighter
    // residual quantizer to show up in end-to-end recall@10
    val sf01 = "/root/testdata/sf0.01"
    val brute = Similarity.q35.fn(spark, sf01).collect().map(_.getAs[Long]("vec_id")).toSet
    val raw = Similarity.q99.fn(spark, sf01).collect().map(_.getAs[Long]("vec_id"))
    val res = Similarity.q106.fn(spark, sf01).collect().map(_.getAs[Long]("vec_id"))
    assert(raw.length === res.length, "same shortlist budget")
    val rawRecall = raw.count(brute.contains)
    val resRecall = res.count(brute.contains)
    assert(resRecall >= rawRecall,
      s"residual-PQ recall $resRecall must be >= raw-PQ recall $rawRecall (of ${brute.size})")
  }

  test("PQ encode: codes bounded, packed code consistent, seed vectors lossless") {
    val rows = Similarity.q97.fn(spark, sf).collect()
    val total = Catalog.table(spark, sf, "embeddings").count()
    assert(rows.length === total, "one code row per vector")
    rows.foreach { r =>
      // codes is a comma-joined scalar string (harness-hashable); parse it back
      val codes = r.getAs[String]("codes").split(',').toSeq.map(_.toLong)
      assert(codes.length === Similarity.PqM)
      assert(codes.forall(k => k >= 0 && k < Similarity.PqK))
      val packed = codes.zipWithIndex.map { case (k, m) => k << (4 * m) }.sum
      assert(packed === r.getAs[Long]("packed_code"))
      assert(r.getAs[Double]("quant_err") >= 0.0)
      // codebook seeds quantize to themselves: distance 0, so zero error
      if (r.getAs[Long]("vec_id") < Similarity.PqK)
        assert(r.getAs[Double]("quant_err") === 0.0)
    }
  }

  test("q107 PQ training round: total distortion decreases (Lloyd monotonicity)") {
    val rows = Similarity.q107.fn(spark, sf).collect()
    assert(rows.length === Catalog.table(spark, sf, "embeddings").count())
    val seedTotal = rows.map(_.getAs[Double]("quant_err_seed")).sum
    val trainedTotal = rows.map(_.getAs[Double]("quant_err_trained")).sum
    // each Lloyd half-step (reassign, re-center) is non-increasing in total
    // distortion; the 1e-6 fixed-point rounding of the means can cost at
    // most 1e-6 per (vector, subspace) cell
    val slack = rows.length * Similarity.PqM * 1e-6
    assert(trainedTotal <= seedTotal + slack,
      s"trained distortion $trainedTotal must not exceed seed $seedTotal")
    assert(trainedTotal < seedTotal, "training should strictly improve on real data")
    rows.foreach { r =>
      val codes = r.getAs[String]("codes").split(',').map(_.toLong)
      assert(codes.length === Similarity.PqM)
      assert(codes.forall(k => k >= 0 && k < Similarity.PqK))
      val packed = codes.zipWithIndex.map { case (k, m) => k << (4 * m) }.sum
      assert(packed === r.getAs[Long]("packed_code"))
    }
  }

  test("hard negatives: labels differ, ranks sequential, sims ordered and bounded") {
    val rows = Similarity.q98.fn(spark, sf).collect()
    assert(rows.nonEmpty, "bucketed corpus must yield cross-label candidates")
    rows.foreach { r =>
      assert(r.getAs[Int]("label") !== r.getAs[Int]("neg_label"))
      assert(math.abs(r.getAs[Double]("sim")) <= 1.0 + 1e-9)
    }
    rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (id, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("neg_rank"))
      assert(byRank.map(_.getAs[Int]("neg_rank")).toSeq === (1 to rs.length).toSeq,
        s"ranks for vec $id must be 1..n")
      val sims = byRank.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"rank order must be sim-descending for vec $id")
    }
  }

  test("IVF-PQ: ADC shortlist reranks with true cosine and overlaps brute force") {
    val brute = Similarity.q35.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine_sim")).toMap
    val rows = Similarity.q99.fn(spark, sf).collect()
    assert(rows.length === 10, "shortlist must be exactly top-10 by ADC distance")
    val dists = rows.map(_.getAs[Double]("adc_dist"))
    assert(dists.zip(dists.tail).forall { case (a, b) => a <= b }, "ADC ascending")
    rows.foreach { r =>
      assert(r.getAs[Double]("adc_dist") >= 0.0)
      // the rerank column is the TRUE cosine — identical to brute force
      brute.get(r.getAs[Long]("vec_id")).foreach(bs =>
        assert(bs === r.getAs[Double]("cosine_sim")))
    }
    val recall = rows.map(_.getAs[Long]("vec_id")).count(brute.contains).toDouble / brute.size
    assert(recall >= 0.2, s"IVF-PQ recall@10 $recall below the coarse+ADC expectation")
  }

  test("semantic dedup: flags match threshold, dup_of is an earlier same-label vector") {
    val rows = Similarity.q100.fn(spark, sf).collect()
    val total = Catalog.table(spark, sf, "embeddings").count()
    assert(rows.length === total)
    val labelOf = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val firstOfLabel = rows.groupBy(_.getAs[Int]("label"))
      .map { case (_, rs) => rs.map(_.getAs[Long]("vec_id")).min }.toSet
    rows.foreach { r =>
      val sim = r.getAs[Double]("max_prior_sim")
      assert(r.getAs[Boolean]("is_semantic_dup") === (sim >= Similarity.SemDupThreshold))
      if (firstOfLabel.contains(r.getAs[Long]("vec_id"))) {
        assert(sim === 0.0, "cluster-first vector has no prior")
        assert(r.isNullAt(r.fieldIndex("dup_of")))
      }
      if (!r.isNullAt(r.fieldIndex("dup_of"))) {
        val dupOf = r.getAs[Long]("dup_of")
        assert(dupOf < r.getAs[Long]("vec_id"), "keep the earliest member")
        assert(labelOf(dupOf) === r.getAs[Int]("label"), "dup_of stays in-cluster")
      }
    }
  }

  test("q160: materialized copies bracket the repeat factor and land the token target") {
    val rows = TextOps.q160.fn(spark, sf).collect()
    rows.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      val rep = r.getAs[Long]("repeat_x")
      val nRows = r.getAs[Long]("n_rows")
      val src = r.getAs[String]("source")
      // every doc gets floor(x) copies; the fractional rule adds at most one
      assert(nRows >= nDocs * rep && nRows <= nDocs * (rep + 1),
        s"$src: $nRows rows outside [${nDocs * rep}, ${nDocs * (rep + 1)}]")
      assert(r.getAs[Long]("frac_bp") >= 0L && r.getAs[Long]("frac_bp") < 10000L)
      // the recipe hits its token target up to per-doc hash noise: with
      // ~25 docs/source the fractional-sampling error stays well inside
      // ±40 % of one source's share
      val hit = r.getAs[Double]("hit_ratio")
      assert(hit > 0.6 && hit < 1.4, s"$src achieved $hit of its token target")
    }
    // the mixture as a whole lands much tighter than any single source:
    // total materialized tokens within 10 % of the 1M-token budget
    val total = rows.map(_.getAs[Long]("up_tokens")).sum
    assert(math.abs(total - 1000000L) < 100000L,
      s"materialized corpus is $total tokens against a 1M budget")
  }

  test("bigram LM: scores are mean conditional probabilities in [0,1]") {
    val rows = TextOps.q101.fn(spark, sf).collect()
    val nDocs = Catalog.table(spark, sf, "documents").count()
    assert(rows.length === nDocs)
    val tokCounts = Catalog.table(spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    rows.foreach { r =>
      val n = tokCounts(r.getAs[Long]("doc_id"))
      val nb = r.getAs[Long]("n_bigrams")
      assert(nb === math.max(0, n - 1), "one bigram per adjacent token pair")
      val score = r.getAs[Double]("fluency_score")
      assert(score >= 0.0 && score <= 1.0, s"conditional-probability mean must be in [0,1]: $score")
      if (nb == 0) assert(score === 0.0)
    }
    // the corpus repeats templated phrases, so SOME doc must score well
    assert(rows.map(_.getAs[Double]("fluency_score")).max > 0.05,
      "a templated corpus cannot be uniformly surprising")
  }

  test("q170: per-source fluency tertiles are balanced, rank-consistent, and keep head+middle") {
    val rows = TextOps.q170.fn(spark, sf).collect()
    val nDocs = Catalog.table(spark, sf, "documents").count()
    assert(rows.length === nDocs, "one bucket verdict per document")
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, g) =>
      val n = g.length
      // src_rank is a 1..n permutation ordered by (score desc, doc_id)
      assert(g.map(_.getAs[Long]("src_rank")).sorted.toSeq === (1L to n).toSeq,
        s"$src: ranks must be a permutation of 1..$n")
      val byRank = g.sortBy(_.getAs[Long]("src_rank"))
      byRank.sliding(2).foreach { w =>
        if (w.length == 2) {
          val (a, b) = (w(0), w(1))
          val (sa, sb) = (a.getAs[Long]("score_mean_fp"), b.getAs[Long]("score_mean_fp"))
          assert(sa > sb || (sa == sb &&
            a.getAs[Long]("doc_id") < b.getAs[Long]("doc_id")),
            s"$src: rank order must be (score desc, doc_id asc)")
        }
      }
      // equal thirds: tertile sizes differ by at most one, in rank order
      val sizes = Seq("head", "middle", "tail")
        .map(lbl => g.count(_.getAs[String]("bucket") == lbl))
      assert(sizes.sum === n)
      assert(sizes.max - sizes.min <= 1,
        s"$src: tertiles must be balanced, got $sizes")
      val labelsByRank = byRank.map(_.getAs[String]("bucket")).distinct
      assert(labelsByRank === labelsByRank.sortBy(Seq("head", "middle", "tail").indexOf(_)),
        s"$src: bucket label must be monotone in rank")
      // CCNet retention: head+middle kept, tail dropped
      g.foreach(r => assert(
        r.getAs[Boolean]("kept") === (r.getAs[String]("bucket") != "tail")))
    }
  }

  test("q171: CDC chunks partition each doc exactly and dup shares stay in range") {
    val rows = ops.Dedup.q171.fn(spark, sf).collect()
    val tokTotals = Catalog.table(spark, sf, "documents")
      .groupBy("source").agg(sum(TextOps.tokenCount(col("text"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      // completeness: the chunks are a partition — token mass is conserved
      assert(r.getAs[Long]("sum_chunk_tokens") === tokTotals(src),
        s"$src: chunk tokens must equal corpus tokens")
      assert(r.getAs[Long]("n_dup_instances") <= r.getAs[Long]("n_chunks"))
      val bp = r.getAs[Long]("dup_token_share_bp")
      assert(bp >= 0 && bp <= 10000, s"$src: share in basis points, got $bp")
    }
  }

  test("CDC chunking: an insertion perturbs only the chunk it lands in") {
    import spark.implicits._
    val words = (1 to 400).map(i => s"tok${i * 7919 % 1000}")
    val a = words.mkString(" ")
    val b = (words.take(200) ++ Seq("inserted") ++ words.drop(200)).mkString(" ")
    val d = Seq((0L, "s", a), (1L, "s", b)).toDF("doc_id", "source", "text")
    val ch = ops.Dedup.cdcChunks(d).collect()
    def multiset(id: Long) = ch.filter(_.getAs[Long]("doc_id") == id)
      .groupBy(_.getAs[Long]("fp")).map { case (fp, g) => fp -> g.length }
    val (ma, mb) = (multiset(0L), multiset(1L))
    def minus(x: Map[Long, Int], y: Map[Long, Int]) =
      x.map { case (fp, n) => math.max(0, n - y.getOrElse(fp, 0)) }.sum
    // content-defined boundaries: the edit replaces exactly the chunk it
    // lands in (possibly splitting it in two) — every other chunk's
    // fingerprint survives. A fixed-window scheme would re-key every
    // window downstream of the insertion.
    assert(minus(ma.toMap, mb.toMap) <= 1, "at most the edited chunk vanishes from A")
    assert(minus(mb.toMap, ma.toMap) <= 2, "at most the edited chunk (split once) appears in B")
  }

  test("q172: the agreement matrix reconciles exactly with each method's own pair count") {
    val rows = ops.Dedup.q172.fn(spark, sf).collect()
      .map(r => (r.getAs[Long]("mask"), r.getAs[String]("methods"),
        r.getAs[Long]("n_pairs")))
    assert(rows.nonEmpty)
    rows.foreach { case (mask, methods, n) =>
      assert(mask >= 1 && mask <= 7, s"mask $mask out of range")
      assert(n > 0, "empty masks must not appear")
      val expected = Seq(1L -> "lex", 2L -> "sim", 4L -> "sem")
        .collect { case (bit, lbl) if (mask & bit) == bit => lbl }.mkString(",")
      assert(methods === expected, s"mask $mask labeled $methods")
    }
    def methodTotal(bit: Long) = rows.collect { case (m, _, n) if (m & bit) == bit => n }.sum
    val d = Catalog.table(spark, sf, "documents")
    assert(methodTotal(1L) === ops.Dedup.jaccardLshPairs(d, 0.5).count(),
      "lex bit mass must equal the verified-Jaccard pair count")
    assert(methodTotal(2L) === ops.Dedup.simhashCandidates(ops.Dedup.simhash(d))
      .filter(col("hamming") <= ops.Dedup.SimHammingMax).count(),
      "sim bit mass must equal the SimHash near-dup pair count")
    assert(methodTotal(4L) === ops.Similarity.semanticStrongPairs(spark, sf).count(),
      "sem bit mass must equal the semantic strong-pair count")
  }

  test("q173: release churn is boundary exchange — kept mass is rank-structural, movement is real") {
    val rows = ops.TextOps.q173.fn(spark, sf).collect()
    val nDocs = Catalog.table(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs, "every doc judged under both models")
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      // tertile sizes are a pure function of n_src, so the kept COUNT
      // cannot move between models — only WHICH docs fill it can
      assert(r.getAs[Long]("n_kept_v1") === r.getAs[Long]("n_kept_v2"),
        s"$src: kept mass is rank-structural")
      assert(r.getAs[Long]("n_gained") === r.getAs[Long]("n_lost"),
        s"$src: boundary churn must exchange one-for-one")
      assert(r.getAs[Long]("n_gained") <= r.getAs[Long]("n_bucket_changed"),
        s"$src: a gained doc changed bucket by definition")
      assert(r.getAs[Long]("n_bucket_changed") <= r.getAs[Long]("n_docs"))
    }
    // the half-corpus model must genuinely disagree somewhere — if not,
    // the rotation question itself would be vacuous on this corpus
    assert(rows.map(_.getAs[Long]("n_bucket_changed")).sum > 0,
      "retraining the LM must move at least one verdict")
  }

  test("kmeans loop: separable clusters recovered from a bad init, then fixpoint") {
    // 3 well-separated axis clusters, 8 vectors each, 12-dim; initial
    // assignment deliberately wrong (round-robin)
    val rnd = new scala.util.Random(42)
    val rows = for {
      c <- 0 until 3
      i <- 0 until 8
    } yield {
      val v = Array.tabulate(12)(d =>
        (if (d / 4 == c) 10.0 else 0.0) + rnd.nextDouble() * 0.1)
      (c * 8L + i, v.toSeq, (c * 8 + i) % 3)
    }
    val e = rows.toDF("vec_id", "v", "init")
    val (asg, roundsRun, moved) = Similarity.kmeans(e, "init", maxIters = 10)
    assert(moved === 0L, "loop must reach a fixpoint on separable data")
    assert(roundsRun < 10, "fixpoint must arrive before the iteration cap")
    val byCluster = asg.collect()
      .groupBy(_.getAs[Int]("cluster"))
      .values.map(_.map(r => r.getAs[Long]("vec_id") / 8).toSet).toSeq
    assert(byCluster.size === 3 && byCluster.forall(_.size === 1),
      s"each recovered cluster must hold exactly one planted group: $byCluster")
  }

  test("q104 learned-cluster SemDeDup: keep-earliest, within-cluster attribution") {
    val rows = Similarity.q104.fn(spark, sf).collect()
    val cluster = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(rows.length === cluster.size, "one row per vector")
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val (id, dupOf) = (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))
      assert(dupOf < id, "attribution must point at an EARLIER id (keep-earliest)")
      assert(cluster(dupOf) === cluster(id), "attribution must stay inside the learned cluster")
    }
    rows.filter(_.getAs[Boolean]("is_semantic_dup")).foreach { r =>
      assert(r.getAs[Double]("max_prior_sim") >= Similarity.SemDupThreshold)
    }
    // the learned clustering must actually partition the corpus (not collapse)
    assert(rows.map(_.getAs[Long]("cluster")).distinct.length > 1)
  }

  test("semanticDedup end-to-end: planted near-duplicates flagged inside learned clusters") {
    val rnd = new scala.util.Random(7)
    // two separable groups (random magnitudes INSIDE the group's dim block,
    // so members cluster together without being near-parallel) plus a
    // near-copy of vector 0 (id 100)
    val base = for {
      c <- 0 until 2
      i <- 0 until 6
    } yield (c * 6L + i,
      Array.tabulate(8)(d =>
        (if (d / 4 == c) 0.5 + rnd.nextDouble() * 4.5 else 0.0) +
          rnd.nextDouble() * 0.05).toSeq)
    val nearDup = (100L, base.head._2.map(_ + 0.001))
    val e = (base :+ nearDup).toDF("vec_id", "v")
    val out = Similarity.semanticDedup(e, k = 2, threshold = 0.999).collect()
    val dup = out.find(_.getAs[Long]("vec_id") == 100L).get
    assert(dup.getAs[Boolean]("is_semantic_dup"), "the planted near-copy must be flagged")
    assert(dup.getAs[Long]("dup_of") === 0L, "and attributed to its earliest twin")
    assert(out.count(_.getAs[Boolean]("is_semantic_dup")) === 1,
      "separable non-duplicates must all survive")
  }

  test("rolling_hash: golden value, null passthrough, matches JVM reference") {
    val got = Seq(("abc"), ("")).toDF("s")
      .select(RollingHash(col("s")).as("h")).collect().map(_.getLong(0))
    assert(got(0) === (('a' * 31L + 'b') * 31L + 'c') % 2147483647L) // 96354
    assert(got(0) === 96354L)
    assert(got(1) === 0L)
    val withNull = Seq(Some("x"), None).toDF("s").select(RollingHash(col("s")).as("h")).collect()
    assert(withNull(1).isNullAt(0))
    // matches a plain JVM implementation on real document text
    val doc = Catalog.table(spark, sf, "documents").select("text").head().getString(0)
    def ref(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((h, cp) => (h * 31L + cp) % 2147483647L)
    val sparkH = Seq(doc).toDF("s").select(RollingHash(col("s")).as("h")).head().getLong(0)
    assert(sparkH === ref(doc))
  }

  test("multimodal decode: deterministic, batch-size independent, fixed schema") {
    val assets = Multimodal.assetTable(spark, sf).limit(20)
    val a = Multimodal.decodeFeatures(assets, batchSize = 64).orderBy("doc_id").collect()
    val b = Multimodal.decodeFeatures(assets, batchSize = 1).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq, "batching must not change results")
    val row = a.head
    assert(row.schema.fieldNames.toSeq ===
      Seq("doc_id", "byte_len", "checksum", "width", "height", "n_frames", "feature"))
    assert(row.getAs[Seq[Float]]("feature").length === 8)
    assert(row.getAs[Int]("width") >= 1 && row.getAs[Int]("width") <= 640)
    // byte_len equals the UTF-8 length of the source text
    val textLen = Catalog.table(spark, sf, "documents")
      .filter(col("doc_id") === row.getAs[Long]("doc_id"))
      .select(length(col("text"))).head().getInt(0)
    assert(row.getAs[Int]("byte_len") === textLen)
  }

  /** Hand-built 2×2 24-bit BMP: bottom row [blue, green], top row
    * [red, white] — 54-byte header + two 8-byte rows (6 px bytes + 2 pad).
    */
  private def bmp2x2: Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(70).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54) // file header
    buf.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)         // BITMAPINFOHEADER
    buf.putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // pixel array, bottom-up, BGR, rows padded to 4 bytes
    buf.put(Array[Byte](-1, 0, 0, 0, -1, 0, 0, 0))   // bottom row: blue, green
    buf.put(Array[Byte](0, 0, -1, -1, -1, -1, 0, 0)) // top row: red, white
    buf.array()
  }

  /** PCM16 mono 8 kHz WAV with 4 samples at ±0.5 amplitude. */
  private def wavPcm16: Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(52).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(44).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1) // PCM, mono
    buf.putInt(8000).putInt(16000).putShort(2).putShort(16)
    buf.put("data".getBytes).putInt(8)
    Seq(16384, -16384, 16384, -16384).foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  test("BmpCodec: real 2x2 BMP decodes to exact dimensions and pixel statistics") {
    val f = Multimodal.BmpCodec.decode(Multimodal.Asset(7L, "image/bmp", bmp2x2))
    assert(f.width === 2 && f.height === 2 && f.n_frames === 1)
    assert(f.byte_len === 70)
    val Array(mB, mG, mR, mLuma, minLuma, maxLuma, edge, bright) = f.feature
    assert(math.abs(mB - 0.5f) < 1e-6 && math.abs(mG - 0.5f) < 1e-6 && math.abs(mR - 0.5f) < 1e-6)
    assert(math.abs(mLuma - 0.5f) < 1e-6, "luma coefficients sum to 1 over {pure B, pure G, pure R, white}")
    assert(math.abs(minLuma - 0.0722f) < 1e-6 && math.abs(maxLuma - 1.0f) < 1e-6)
    assert(math.abs(edge - (0.6430f + 0.7874f) / 2) < 1e-4) // |G-B| and |white-R| luma steps
    assert(bright === 0.5f, "green and white exceed 0.5 luma")
    // top-down variant (negative height) decodes with identical statistics
    val td = bmp2x2
    val b = java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(22, -2)
    val g = Multimodal.BmpCodec.decode(Multimodal.Asset(7L, "image/bmp", td))
    assert(g.height === 2 && g.feature.toSeq === f.feature.toSeq)
  }

  test("WavCodec: real PCM16 WAV decodes to exact rate/frames and amplitude stats") {
    val f = Multimodal.WavCodec.decode(Multimodal.Asset(8L, "audio/wav", wavPcm16))
    assert(f.width === 8000 && f.height === 1 && f.n_frames === 4)
    val Array(meanAbs, rms, peak, zcr, dc, dyn, silent, clipped) = f.feature
    assert(meanAbs === 0.5f && rms === 0.5f && peak === 0.5f)
    assert(zcr === 0.75f, "signs +,-,+,- cross three times over four frames")
    assert(dc === 0.0f && dyn === 0.0f && silent === 0.0f && clipped === 0.0f)
  }

  test("decodeFeatures dispatches codecs by mime and quarantines corrupt payloads") {
    val assets = Seq(
      (1L, "image/bmp", bmp2x2),
      (2L, "audio/wav", wavPcm16),
      (3L, "image/bmp", "not a bitmap".getBytes("UTF-8")), // corrupt: quarantined, not fatal
      (4L, "text/plain", "hello".getBytes("UTF-8"))        // falls back to the md5 stub
    ).toDF("doc_id", "mime", "payload")
    val out = Multimodal.decodeFeatures(assets, batchSize = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("width") === 2 && out(0).getAs[Int]("height") === 2)
    assert(out(1).getAs[Int]("width") === 8000 && out(1).getAs[Int]("n_frames") === 4)
    assert(out(2).getAs[Int]("width") === -1 &&
      out(2).getSeq[Float](out(2).fieldIndex("feature")).isEmpty)
    assert(out(3).getAs[Long]("checksum") ===
      Multimodal.decodeStub(Multimodal.Asset(4L, "text/plain", "hello".getBytes("UTF-8"))).checksum)
  }

  test("q174: dHash through the real BMP parse finds exactly the planted image families") {
    // the grid parse + dHash round-trips the synthesizer: recompute the
    // expected hash straight from the md5 bytes, no BMP in the middle
    def expected(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val g = Array.tabulate(8, 9) { (r, c) =>
        val d = md.digest(s"${id / 4}_$r".getBytes("UTF-8"))
        (d(c) & 0xff) % 128 +
          (if (r == (id % 4) % 3 && c == (id % 9).toInt) 41 * (id % 4).toInt else 0)
      }
      var sig = 0L
      for (r <- 0 until 8; c <- 0 until 7 + 1; if r * 8 + c < 60)
        if (g(r)(c + 1) > g(r)(c)) sig |= 1L << (r * 8 + c)
      sig
    }
    (0L until 16L).foreach { id =>
      val (w, h, g) = Multimodal.parseBmpGray(Multimodal.synthBmpGrid(id))
      assert((w, h) === ((9, 8)))
      assert(Multimodal.dhash60(w, h, g) === expected(id), s"doc $id")
    }
    val out = Multimodal.q174.fn(spark, sf).collect()
    val nDocs = out.length
    val phash = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // planted families: any two variants of a group differ in ≤4 bits,
    // all inside rows 0–2 (bits < 24), so bands 2–3 are identical and the
    // banding join can NEVER miss a within-group pair
    for (g <- 0L until (nDocs / 4L); a <- 0 until 4; b <- (a + 1) until 4) {
      val x = phash(g * 4 + a) ^ phash(g * 4 + b)
      assert(java.lang.Long.bitCount(x) <= 4, s"group $g variants $a,$b")
      assert((x >>> 24) === 0L, s"group $g perturbation leaked past row 2")
    }
    // every doc in a complete group sees its 3 siblings as near-dups and
    // exactly one keeper survives per group
    out.filter(_.getLong(0) < (nDocs / 4) * 4).foreach { r =>
      assert(r.getLong(3) >= 3, s"doc ${r.getLong(0)} near-dups")
      assert(r.getInt(4) <= 4, s"doc ${r.getLong(0)} min_hamming")
    }
    val keepers = out.filter(_.getBoolean(5)).map(_.getLong(0))
    assert(keepers.length === (nDocs + 3) / 4)
    assert(keepers.forall(_ % 4 == 0), "keep-first: the variant-0 doc is the group representative")
  }

  test("chi2Pair: billion-count cells stay exact — reverting the all-DOUBLE term tree to int64 would overflow and fail this") {
    import graft.ops.Corpus
    // counts sized so oa·n ≈ 3.6e19 > Long.MaxValue: an int64 product
    // anywhere in the term tree wraps negative and moves chi2_fp
    val aCells = Seq(("web", 0L, 3000000000L), ("web", 1L, 2500000000L),
      ("web", 2L, 1000000000L), ("books", 0L, 4000000000L),
      ("books", 1L, 100000000L)).toDF("source", "bin", "o")
    val bCells = Seq(("web", 0L, 2800000000L), ("web", 1L, 2700000000L),
      ("web", 2L, 900000000L), ("books", 0L, 3900000000L),
      ("books", 2L, 250000000L)).toDF("source", "bin", "o")
    // the fixture genuinely exercises overflow territory
    val raWeb = 3000000000L + 2500000000L + 1000000000L
    val rbWeb = 2800000000L + 2700000000L + 900000000L
    assert(3000000000.0 * (raWeb + rbWeb).toDouble > Long.MaxValue.toDouble,
      "fixture must put oa*n past int64")
    // replicate the DOUBLE tree bit-for-bit in driver Scala
    def expected(cells: Map[String, Seq[(Long, Long, Long)]]) = cells.map {
      case (src, rows) =>
        val ra = rows.map(_._2).sum
        val rb = rows.map(_._3).sum
        def term(o: Long, r: Long, c: Long, n: Long): Long =
          if (ra > 0 && rb > 0) {
            val diff = o.toDouble * n.toDouble - r.toDouble * c.toDouble
            math.floor(diff * diff / (n.toDouble * r.toDouble * c.toDouble)
              * 1000000.0).toLong
          } else 0L
        val n = ra + rb
        val raw = rows.map { case (_, oa, ob) =>
          term(oa, ra, oa + ob, n) + term(ob, rb, oa + ob, n)
        }.sum
        val df = rows.size - 1L
        val fp = if (ra > 0 && rb > 0) Some(raw) else None
        src -> ((ra, rb, fp, df, fp.forall(_ > 2000000L * df)))
    }
    val joined = Map(
      "web" -> Seq((0L, 3000000000L, 2800000000L), (1L, 2500000000L, 2700000000L),
        (2L, 1000000000L, 900000000L)),
      "books" -> Seq((0L, 4000000000L, 3900000000L), (1L, 100000000L, 0L),
        (2L, 0L, 250000000L)))
    val got = Corpus.chi2Pair(aCells, bCells).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getAs[java.lang.Long]("chi2_fp")).map(_.toLong),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got === expected(joined))
  }

  test("asset store: stored payloads are byte-identical to the generator, and stored-path signatures match the synth path bit-for-bit") {
    val store = spark.read.parquet(Multimodal.buildAssetStore(spark, sf))
    val docs = Catalog.table(spark, sf, "documents")
    val n = docs.count()
    // six payload families, one row per doc each
    assert(store.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("bmp2x1" -> n, "wav4" -> n, "grid_bmp" -> n,
        "grid_bmp_sparse" -> n, "wav64" -> n, "wav64_sparse" -> n))
    // stored bytes ARE the generator's bytes (md5 spot-check per kind)
    val byKind = store.select(col("kind"), col("doc_id"), md5(col("payload")).as("m"))
      .filter(col("doc_id") < 20).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    def hx(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
    (0L until 20L).foreach { id =>
      assert(byKind(("bmp2x1", id)) === hx(Multimodal.synthBmp2x1(id)))
      assert(byKind(("wav4", id)) === hx(Multimodal.synthWav4(id)))
      assert(byKind(("grid_bmp", id)) === hx(Multimodal.synthBmpGrid(id)))
      assert(byKind(("grid_bmp_sparse", id)) ===
        hx(Multimodal.synthBmpGrid(Multimodal.sparseImgId(id))))
      assert(byKind(("wav64", id)) === hx(Multimodal.synthWav64(id)))
      assert(byKind(("wav64_sparse", id)) ===
        hx(Multimodal.synthWav64(Multimodal.sparseAudId(id))))
    }
    // the stored-path signature scans reproduce the synth path exactly
    val phStored = Multimodal.phashSigsFromAssets(
      store.filter(col("kind") === "grid_bmp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val phSynth = Multimodal.phashSigs(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(phStored === phSynth)
    val auStored = Multimodal.audioCodesFromAssets(
      store.filter(col("kind") === "wav64")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toSet
    val auSynth = Multimodal.audioCodes(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3))).toSet
    assert(auStored === auSynth)
  }

  test("PqEncode kernel: bit-identical to the M x K literal-struct argmin tree at fixture and production widths") {
    import spark.implicits._
    // deterministic vectors, including ties (vec 0 duplicated as vec 50 —
    // identical distances everywhere, argmin must break ties identically)
    def vecs(dim: Int) = spark.range(60).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), j -> " +
        "CAST(pmod(xxhash64(pmod(id, 50), j), 2000) - 1000 AS DOUBLE) / 1000.0)")
        .as("v")).localCheckpoint()
    Seq(64, 768).foreach { dim =>
      val base = vecs(dim)
      val m = dim / 8
      val cbRows = base.filter(col("vec_id") < 16).select("vec_id", "v")
        .collect().map(r => r.getLong(0) ->
          r.getAs[scala.collection.Seq[Double]]("v").toSeq).sortBy(_._1)
      val cb = (0 until m).map(mm => mm -> cbRows.toSeq.map { case (k, cw) =>
        k -> cw.slice(mm * 8, mm * 8 + 8) }).toMap
      def snap(c: org.apache.spark.sql.Column) = base
        .select(col("vec_id"), c.as("codes"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(cr => (cr.getInt(0),
            cr.getLong(1),
            java.lang.Double.doubleToRawLongBits(cr.getDouble(2))))).toMap
      val tree = snap(graft.ops.Similarity.encodeLitTree(col("v"), cb, m, 8))
      val kernel = snap(graft.functions.PqEncode(col("v"), cb))
      assert(kernel === tree, s"kernel must equal the tree form at dim $dim")
    }
  }

  test("PqEncode kernel: NaN distances follow Spark's total order — a NaN running best is replaced by a later finite distance; all-NaN keeps id 0") {
    import spark.implicits._
    // codeword id 0 carries a NaN coordinate, so its distance is NaN for
    // every finite vector — the argmin must NOT keep it (`acc < best` is
    // false against NaN); and a NaN vector makes every distance NaN, where
    // the smallest id wins like array_min's struct order
    val cb = Map(0 -> Seq(
      0L -> Seq(Double.NaN, 0.0),
      1L -> Seq(100.0, 100.0),
      2L -> Seq(0.5, 0.5)))
    val df = Seq(
      (0L, Seq(0.5, 0.5)),
      (1L, Seq(Double.NaN, 1.0))).toDF("vec_id", "v").localCheckpoint()
    def snap(c: org.apache.spark.sql.Column) = df
      .select(col("vec_id"), c.as("codes"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(cr => (cr.getInt(0),
          cr.getLong(1),
          java.lang.Double.doubleToRawLongBits(cr.getDouble(2))))).toMap
    val tree = snap(graft.ops.Similarity.encodeLitTree(col("v"), cb, 1, 2))
    val kernel = snap(graft.functions.PqEncode(col("v"), cb))
    assert(kernel === tree, "NaN semantics must match the pinned tree form")
    assert(kernel(0L).head._2 === 2L, "finite vector must skip the NaN codeword")
    assert(kernel(1L).head._2 === 0L, "all-NaN keeps the smallest codeword id")
  }

  test("autoBandBits: the mmprobe operating rule is the default, and planted-family recall is width-structural") {
    // the occupancy rule: narrowest divisor-of-60 width with ≤ ½ doc per
    // band bucket (n ≤ 2^(bits−1))
    assert(Multimodal.autoBandBits(1000L) === 15)
    assert(Multimodal.autoBandBits(5000L) === 15) // the probe's good 1× point
    assert(Multimodal.autoBandBits(1L << 14) === 15)
    assert(Multimodal.autoBandBits((1L << 14) + 1) === 20)
    assert(Multimodal.autoBandBits(80000L) === 20) // the probe's 16× explosion case
    assert(Multimodal.autoBandBits(1L << 19) === 20)
    assert(Multimodal.autoBandBits((1L << 19) + 1) === 30)
    assert(Multimodal.autoBandBits(10000000L) === 30)
    assert(Multimodal.autoBandBits(Long.MaxValue) === 30)
    // every fixture scale resolves to q174's 15-bit oracle configuration
    val docs = Catalog.table(spark, sf, "documents")
    assert(Multimodal.autoBandBits(docs.count()) === 15)

    // widening changes the CANDIDATE set, never the planted-family
    // verdicts: within-family flips sit in bits < 24, so one high band
    // is clean at every divisor width (15 @ 4 bands, 20 @ 3, 30 @ 2) —
    // the auto-widened path keeps the manual path's dedup semantics
    val sigs = Multimodal.phashSigs(docs).localCheckpoint()
    def dupMap(bits: Int) = Multimodal.phashReport(sigs, bits).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_near_dups"), r.getAs[Boolean]("keep")))).toMap
    val at15 = dupMap(15)
    Seq(20, 30).foreach { bits =>
      assert(dupMap(bits) === at15,
        s"$bits-bit bands must preserve every near-dup verdict on the fixture")
    }
  }

  test("q176: envelope fingerprints through the real WAV parse find exactly the planted families") {
    // parse round-trip: samples out of the RIFF parse equal the direct
    // md5 recompute, no WAV in the middle
    def expectedSamples(id: Long): Array[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 8).flatMap { j =>
        val d = md.digest(s"${id / 4}_$j".getBytes("UTF-8"))
        (0 until 8).map { i =>
          ((d(2 * i) & 0xff) << 8 | (d(2 * i + 1) & 0xff)) % 30000 - 15000 +
            (if (8 * j + i == (id % 32).toInt) 256 * (id % 4).toInt else 0)
        }
      }.toArray
    }
    (0L until 16L).foreach { id =>
      assert(Multimodal.parseWavPcm16(Multimodal.synthWav64(id)).toSeq ===
        expectedSamples(id).toSeq, s"doc $id")
    }
    val out = Multimodal.q176.fn(spark, sf).collect()
    val nDocs = out.length
    // the perturbation lives in the FIRST half, so code2 is identical
    // across a family — the second probe can never miss a within-group pair
    val code2 = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (g <- 0L until (nDocs / 4L); v <- 1 until 4)
      assert(code2(g * 4) === code2(g * 4 + v), s"group $g variant $v code2")
    out.filter(_.getLong(0) < (nDocs / 4) * 4).foreach { r =>
      assert(r.getLong(4) >= 3, s"doc ${r.getLong(0)} near-dups")
      assert(r.getLong(5) <= 1536L, s"doc ${r.getLong(0)} min_l1")
    }
    val keepers = out.filter(_.getBoolean(6)).map(_.getLong(0))
    assert(keepers.length === (nDocs + 3) / 4)
    assert(keepers.forall(_ % 4 == 0), "keep-first: the variant-0 doc is the family representative")
  }

  test("q177: hashed embeddings equal a plain-Scala recompute and rank near-copies first") {
    // the in-row HOF vector build matches a direct implementation
    def refVec(text: String): Array[Double] = {
      val v = new Array[Double](64)
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).foreach { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8")).take(8)
          .map(b => f"${b & 0xff}%02x").mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16)
        v((h % 64).toInt) += (if (((h >> 6) & 1L) == 1L) 1.0 else -1.0)
      }
      v
    }
    val docs = Catalog.table(spark, sf, "documents").limit(20)
    val got = Similarity.hashedVec(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val expected = refVec(r.getString(1))
      if (expected.exists(_ != 0.0))
        assert(got(r.getLong(0)).toSeq === expected.toSeq, s"doc ${r.getLong(0)}")
    }
    // a near-copy (one word changed) outranks every unrelated doc
    val vecs = Similarity.hashedVec(planted).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val simToCopy = cos(vecs(1L), vecs(9001L))
    val others = vecs.keys.filter(k => k != 1L && k != 9001L)
      .map(k => cos(vecs(1L), vecs(k))).max
    assert(simToCopy > 0.9, s"near-copy cosine $simToCopy")
    assert(simToCopy > others, s"near-copy $simToCopy must beat best unrelated $others")
  }

  test("q178: the one-pass centroid identity equals the naive pairwise diversity exactly") {
    val out = Similarity.q178.fn(spark, sf).collect()
    val vecs = Similarity.hashedVec(
        Catalog.table(spark, sf, "documents"), keep = Seq("source"))
      .collect().map(r => (r.getString(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { r =>
      val vs = vecs(r.getString(0)).map(_._2)
      val n = vs.length.toLong
      assert(r.getLong(1) === n)
      // Σ over ALL ordered pairs of ‖a−b‖² = 2·(n·Σ‖x‖² − ‖Σx‖²), so the
      // one-pass fixed-point diversity must equal the O(n²) sweep exactly
      var acc = 0L
      for (a <- vs; b <- vs) {
        var i = 0
        while (i < 64) { val d = (a(i) - b(i)).toLong; acc += d * d; i += 1 }
      }
      assert(r.getAs[Long]("diversity_fp") === (10000L * acc) / (2L * n * n),
        s"source ${r.getString(0)}")
      assert(r.getAs[Long]("diversity_fp") >= 0L)
    }
  }

  test("q179: the LSH index over hashed embeddings keeps useful 10-NN recall") {
    // measured: 7/10 at sf0.001 (500 docs), 10/10 at sf0.1 — the bound
    // here only guards against the planes degenerating on this corpus
    val r = Similarity.q179.fn(spark, sf).head()
    assert(r.getAs[Long]("n_overlap") >= 6L,
      s"multiprobe recall degenerated: ${r.getAs[Long]("n_overlap")}/10")
  }

  test("q180: bootstrap semantic dedup flags the planted copies with keep-first verdicts") {
    val plantedWithSrc = planted.withColumn("source", lit("probe"))
    val verdicts = Similarity.bootstrapVerdicts(plantedWithSrc)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // the exact copy (9003 = doc 3) has the identical vector: same
    // bucket by construction, cosine exactly 1.0 — it can never be missed
    assert(verdicts(9003L), "exact copy must be the dup")
    // the report is consistent with the verdicts
    val rep = Similarity.q180.fn(spark, sf).collect()
    rep.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getAs[Long]("dup_bp") === 10000L * r.getLong(2) / r.getLong(1))
    }
  }

  test("q184: containment catches the short excerpt that Jaccard structurally misses") {
    // 9005 = the first 15 tokens of a long doc: every shingle of the
    // excerpt lives in the host, so containment(9005 -> host) = 1.0
    // while Jaccard is tiny
    val host = Catalog.table(spark, sf, "documents")
      .filter(col("doc_id") === 5L).select("doc_id", "text").head()
    val hostTokens = host.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    assert(hostTokens.length >= 40, "fixture host doc must be long")
    val excerpt = hostTokens.take(15).mkString(" ")
    val corpus = Catalog.table(spark, sf, "documents")
      .select("doc_id", "text").limit(50)
      .unionByName(Seq((9005L, excerpt)).toDF("doc_id", "text"))
    val out = Dedup.containmentOf(corpus).collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    val (containedIn, c, j, isContained, missed) = out(9005L)
    assert(containedIn === Some(5L), "the excerpt's best container is its host")
    assert(c === 1.0, s"full containment, got $c")
    assert(j < 0.5, s"Jaccard must stay small on the asymmetric pair, got $j")
    assert(isContained && missed, "exactly the pair Jaccard-based dedup misses")
    // containment >= Jaccard always (the denominator can only shrink)
    out.values.foreach { case (_, cc, jj, _, _) => assert(cc >= jj) }
  }

  test("q185: containment served off the shingle-index store equals the inline compute") {
    val served = Dedup.q185.fn(spark, sf).collect()
    // the inline twin over the store's domain: corpus docs (>= 50) with
    // >= 3 tokens contribute pairs; the full corpus is the spine
    val corpus = Catalog.table(spark, sf, "documents")
      .filter(col("doc_id") >= 50).select("doc_id", "text")
    val indexed = corpus.filter(size(TextOps.tokens(col("text"))) >= 3)
    val inline = Dedup.containmentBest(Dedup.jaccardPairs(indexed), corpus).collect()
    assert(served.length === inline.length)
    served.zip(inline).foreach { case (a, b) => assert(a === b) }
    // and the verdicts are not vacuous on this corpus
    assert(served.exists(_.getAs[Boolean]("is_contained")))
  }

  test("q186: cross-modal verdicts compose three modalities with first-failing reason") {
    val out = Multimodal.q186.fn(spark, sf).collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val tK = r.getAs[Boolean]("text_keep")
      val iK = r.getAs[Boolean]("img_keep")
      val aK = r.getAs[Boolean]("audio_keep")
      // sparse fixture structure: image families live at (id/4) % 5 == 0,
      // audio families at == 1, keep-first inside each family
      assert(iK === ((id / 4) % 5 != 0 || id % 4 == 0), s"img_keep doc $id")
      assert(aK === ((id / 4) % 5 != 1 || id % 4 == 0), s"audio_keep doc $id")
      assert(r.getAs[Boolean]("accepted") === (tK && iK && aK))
      val expectReason =
        if (!tK) Some("text_near")
        else if (!iK) Some("image_near")
        else if (!aK) Some("audio_near")
        else None
      assert(Option(r.getAs[String]("reason")) === expectReason, s"reason doc $id")
    }
    // non-degenerate: every failure mode occurs, and acceptance occurs
    assert(out.exists(r => !r.getAs[Boolean]("text_keep")), "no text near-dups")
    assert(out.exists(r =>
      r.getAs[Boolean]("text_keep") && !r.getAs[Boolean]("img_keep")))
    assert(out.exists(r => r.getAs[Boolean]("text_keep") &&
      r.getAs[Boolean]("img_keep") && !r.getAs[Boolean]("audio_keep")))
    assert(out.count(_.getAs[Boolean]("accepted")) > out.length / 2)
  }

  test("q187: dup-weighted mixture weights each cluster's content exactly once") {
    // tiny corpus with a known cluster structure: {0,1} (exact copy),
    // {2}, {3} — src_a holds the duplicated content
    val tiny = Seq(
      (0L, "src_a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "src_a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "src_b", "completely different words one two three four five six"),
      (3L, "src_b", "another unrelated document with its own vocabulary here now"))
      .toDF("doc_id", "source", "text")
    val rows = Mining.dupWeightedMixture(tiny).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("src_a").getAs[Long]("n_docs") === 2L)
    assert(rows("src_a").getAs[Long]("eff_fp") === 1000000L) // 2 × 1/2
    assert(rows("src_b").getAs[Long]("eff_fp") === 2000000L) // 2 × 1
    assert(rows("src_a").getAs[Long]("raw_share_ppm") === 500000L)
    assert(rows("src_a").getAs[Long]("eff_share_ppm") === 333333L)
    assert(rows("src_b").getAs[Long]("eff_share_ppm") === 666666L)
    assert(rows("src_a").getAs[Long]("shift_ppm") === -166667L)
    // on the real corpus: mass conservation + share algebra
    val out = Mining.q187.fn(spark, sf).collect()
    val totRaw = out.map(_.getAs[Long]("n_docs")).sum
    val totEff = out.map(_.getAs[Long]("eff_fp")).sum
    assert(totEff < totRaw * 1000000L, "corpus has near-dups, so eff < raw")
    val effShares = out.map(_.getAs[Long]("eff_share_ppm")).sum
    assert(effShares <= 1000000L && effShares > 1000000L - out.length)
    out.foreach(r => assert(r.getAs[Long]("shift_ppm") ===
      r.getAs[Long]("eff_share_ppm") - r.getAs[Long]("raw_share_ppm")))
  }

  test("q188: cluster-aware split has zero near-dup leakage across the carve") {
    val d = Catalog.table(spark, sf, "documents").select("doc_id", "source", "text")
    val asg = Mining.splitAssignment(d).select(col("doc_id"), col("is_eval"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // every J >= 0.8 pair stays on one side of the split — by construction
    val pairs = Dedup.jaccardPairs(d.select(col("doc_id"), col("text")))
      .filter(lit(5) * col("n_shared") >=
        lit(4) * (col("size_a") + col("size_b") - col("n_shared")))
      .select("doc_id", "doc_b").collect()
    assert(pairs.nonEmpty, "corpus must have near-dup pairs for the test to bite")
    pairs.foreach { r =>
      assert(asg(r.getLong(0)) === asg(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) crosses the split")
    }
    // both sides populated, global rate in a sane band around the 5 % target
    val out = Mining.q188.fn(spark, sf).collect()
    val tot = out.map(_.getAs[Long]("n_docs")).sum
    val te = out.map(_.getAs[Long]("n_eval")).sum
    assert(te > 0 && te < tot)
    val bp = te * 10000 / tot
    assert(bp >= 100 && bp <= 1500, s"global eval rate $bp bp strays from the 5% target")
    out.foreach(r => assert(r.getAs[Long]("eval_bp") ===
      r.getAs[Long]("n_eval") * 10000 / r.getAs[Long]("n_docs")))
  }

  test("q191: fertility rates are exact and bounded by construction") {
    val out = graft.ops.Corpus.q191.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("tokens") <= r.getAs[Long]("pretokens"),
        "merges can only shrink the stream")
      assert(r.getAs[Long]("chars") >= r.getAs[Long]("tokens"),
        "every token carries at least one char")
      assert(r.getAs[Long]("chars_per_token_fp") >= 10000L)
      val cb = r.getAs[Long]("compression_bp")
      assert(cb >= 0L && cb < 10000L)
    }
    assert(out.exists(_.getAs[Long]("compression_bp") > 0L),
      "the trained merges must actually compress some source")
  }

  test("q195: code-switching segmentation splits a planted bilingual doc at the language boundary") {
    val en = Seq.fill(8)(TextOps.enStop).flatten.mkString(" ")   // 64 en tokens
    val es = Seq.fill(10)(TextOps.esStop).flatten.mkString(" ")  // 70 es tokens
    val frame = Seq(
      (1L, en + " " + es),   // 2 en windows then 3 es windows
      (2L, en),              // monolingual
      (3L, "zz9 qq8 xx7"))   // no stopwords at all
      .toDF("doc_id", "text")
    val out = TextOps.codeSwitchOf(frame).collect()
      .map(r => r.getLong(0) -> r).toMap
    val mixed = out(1L)
    assert(mixed.getAs[Long]("n_windows") === 5L)
    assert(mixed.getAs[Long]("n_segments") === 2L, "one switch, two segments")
    assert(mixed.getAs[Long]("n_langs") === 2L)
    assert(mixed.getAs[String]("dominant_lang") === "es", "3 of 5 windows are es")
    assert(mixed.getAs[Boolean]("mixed"))
    assert(out(2L).getAs[Long]("n_segments") === 1L)
    assert(!out(2L).getAs[Boolean]("mixed"))
    assert(out(3L).getAs[String]("dominant_lang") === "unknown")
    assert(!out(3L).getAs[Boolean]("mixed"))
  }

  test("q196: salvage keeps exactly the dominant-language windows of the planted bilingual doc") {
    val en = Seq.fill(8)(TextOps.enStop).flatten.mkString(" ")   // 64 en tokens
    val es = Seq.fill(10)(TextOps.esStop).flatten.mkString(" ")  // 70 es tokens
    val frame = Seq(
      (1L, "mix", en + " " + es),
      (2L, "mix", en),
      (3L, "pure", es))
      .toDF("doc_id", "source", "text")
    val out = TextOps.mixedSalvageOf(frame).collect()
      .map(r => r.getString(0) -> r).toMap
    val mix = out("mix")
    assert(mix.getAs[Long]("n_docs") === 2L)
    assert(mix.getAs[Long]("n_mixed") === 1L, "only the bilingual doc is mixed")
    assert(mix.getAs[Long]("mixed_tokens") === 134L)
    // dominant is es (3 of 5 windows): 70 es tokens survive of 134
    assert(mix.getAs[Long]("salvaged_tokens") === 70L)
    assert(mix.getAs[Long]("salvage_bp") === 70L * 10000L / 134L)
    assert(out("pure").getAs[Long]("n_mixed") === 0L)
    assert(out("pure").getAs[Long]("salvage_bp") === 0L)
  }

  test("q197: the segment split reconstructs each segment's text exactly") {
    val en = Seq.fill(8)(TextOps.enStop).flatten.mkString(" ")   // 64 en tokens
    val es = Seq.fill(10)(TextOps.esStop).flatten.mkString(" ")  // 70 es tokens
    val frame = Seq(
      (1L, en + " " + es),
      (2L, en))
      .toDF("doc_id", "text")
    val out = TextOps.segmentSplitOf(frame).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L), "only the multi-segment doc splits")
    assert(out.length === 2)
    val Seq(s1, s2) = out.sortBy(_.getLong(1)).toSeq
    assert(s1.getAs[String]("lang") === "en" && s1.getAs[Long]("n_tokens") === 64L)
    assert(s1.getAs[String]("seg_text") === en, "segment 1 is the en text verbatim")
    assert(s2.getAs[String]("lang") === "es" && s2.getAs[Long]("n_tokens") === 70L)
    assert(s2.getAs[String]("seg_text") === es, "segment 2 is the es text verbatim")
    // token conservation: the segments tile the document
    assert(out.map(_.getAs[Long]("n_tokens")).sum === 134L)
  }

  test("q194: the banded index holds the banding curve's recall on the exact pair set") {
    val out = Dedup.q194.fn(spark, sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_candidates"))
      assert(r.getAs[Long]("recall_bp") <= 10000L)
      assert(r.getAs[Long]("precision_bp") <= 10000L)
    }
    val nTrue = out.map(_.getAs[Long]("n_true")).sum
    val nCaught = out.map(_.getAs[Long]("n_caught")).sum
    assert(nTrue > 0, "corpus must have true near-dup pairs")
    // banding promise at J >= 0.8 with 16 bands of 4: 1-(1-J^4)^16 > 0.999
    assert(nCaught * 10000 / nTrue >= 9000L,
      s"index recall degraded: $nCaught/$nTrue")
  }

  test("q193: the duplication profile buckets cluster sizes and attributes them to the first doc's source") {
    val out = Mining.q193.fn(spark, sf).collect()
    // bucket algebra: per source the doc shares sum to ~10000 bp
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val bp = rows.map(_.getAs[Long]("docs_bp")).sum
      assert(bp <= 10000L && bp > 10000L - rows.length, s"source $src shares: $bp")
      rows.foreach { r =>
        val b = r.getAs[Long]("size_bucket")
        // a bucket-b cluster holds in [2^b, 2^(b+1)) docs
        assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_clusters") * (1L << b))
        assert(r.getAs[Long]("n_docs") < r.getAs[Long]("n_clusters") * (2L << b))
      }
    }
    // the corpus has non-singleton clusters somewhere
    assert(out.exists(_.getAs[Long]("size_bucket") > 0L))
    assert(out.exists(_.getAs[Long]("size_bucket") === 0L))
  }

  test("q192: fertility reweighting keeps the MW invariants on the trained-vocab loss") {
    val out = graft.ops.Corpus.q192.fn(spark, sf).collect()
    val ppm = out.map(_.getAs[Long]("w4_ppm")).sum
    assert(math.abs(ppm - 1000000L) <= out.length, s"weights must renormalize, got $ppm")
    out.foreach { r =>
      assert(r.getAs[Long]("mean_cpt_fp") >= 10000L,
        "every token carries at least one char, so fertility >= 1.0")
      val eb = r.getAs[Long]("excess_bp")
      assert(eb >= 0L && eb <= 10000L)
    }
    // the trained-vocab loss is a different signal than q175's
    // whitespace proxy — the composition adds information
    val proxy = Mining.q175.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("mean_cpt_fp")).toMap
    assert(out.exists(r => proxy(r.getString(0)) != r.getAs[Long]("mean_cpt_fp")),
      "trained fertility must not collapse to the whitespace proxy")
  }

  test("q189: k-anonymity audit flags exactly the small QI groups") {
    // s1: one bucket of 6 (safe) + one bucket of 2 (suppressed);
    // s2: one bucket of 6 (safe). Bucket width is 256 chars.
    val rows = (0 until 6).map(i => (i.toLong, "s1", "en", 100L)) ++
      Seq((6L, "s1", "en", 3000L), (7L, "s1", "en", 3010L)) ++
      (8 until 14).map(i => (i.toLong, "s2", "de", 500L))
    val out = TextOps.kAnonymityAudit(
        rows.toDF("doc_id", "source", "lang", "n_chars"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s1").getAs[Long]("n_docs") === 8L)
    assert(out("s1").getAs[Long]("n_groups") === 2L)
    assert(out("s1").getAs[Long]("n_small_groups") === 1L)
    assert(out("s1").getAs[Long]("n_suppressed") === 2L)
    assert(out("s1").getAs[Long]("suppressed_bp") === 2500L)
    assert(out("s2").getAs[Long]("n_suppressed") === 0L)
    assert(out("s2").getAs[Long]("suppressed_bp") === 0L)
  }

  test("q190: blast radius walks exactly two hops out from the contaminated set") {
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val w = toks("w", 400)
    val benchText = toks("b", 10).mkString(" ")
    // X embeds the whole benchmark item; Y is X with its first 30 tokens
    // rewritten (kills the bench overlap, keeps J(X,Y) ~ 0.86); Z is Y
    // with the next 30 rewritten (J(Y,Z) ~ 0.86, J(X,Z) ~ 0.74 < 0.8)
    val x = (toks("b", 10) ++ w).mkString(" ")
    val y = (toks("y", 30) ++ w.drop(20)).mkString(" ")
    val z = (toks("y", 30) ++ toks("z", 30) ++ w.drop(50)).mkString(" ")
    val frame = Seq(
      (0L, "bench", benchText),
      (100L, "s1", x), (101L, "s1", y), (102L, "s1", z),
      (103L, "s2", toks("u", 10).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = Dedup.contaminationBlastRadius(frame)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s1").getAs[Long]("n_hit0") === 1L, "X is directly contaminated")
    assert(out("s1").getAs[Long]("n_hit1") === 1L, "Y is one hop out")
    assert(out("s1").getAs[Long]("n_hit2") === 1L, "Z is two hops out")
    assert(out("s1").getAs[Long]("n_at_risk") === 3L)
    assert(out("s1").getAs[Long]("risk_bp") === 10000L)
    assert(out("s2").getAs[Long]("n_at_risk") === 0L)
    // on the real corpus: hop sets are disjoint and the rollup is consistent
    val real = Dedup.q190.fn(spark, sf).collect()
    real.foreach { r =>
      assert(r.getAs[Long]("n_at_risk") === r.getAs[Long]("n_hit0") +
        r.getAs[Long]("n_hit1") + r.getAs[Long]("n_hit2"))
      assert(r.getAs[Long]("risk_bp") ===
        r.getAs[Long]("n_at_risk") * 10000 / r.getAs[Long]("n_docs"))
    }
    assert(real.map(_.getAs[Long]("n_hit0")).sum > 0, "corpus has direct hits")
  }

  /** Deterministic 16×12 RGB test raster (seeded gradient + checker). */
  private def testRaster: java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16) {
      val r = (x * 16) % 256
      val g = (y * 21) % 256
      val b = if ((x + y) % 2 == 0) 200 else 40
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def encodeImage(fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(testRaster, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("PngCodec: real PNG decode is lossless — statistics match a direct-raster compute exactly") {
    val png = encodeImage("png")
    val f = Multimodal.PngCodec.decode(Multimodal.Asset(11L, "image/png", png))
    assert(f.width === 16 && f.height === 12 && f.n_frames === 1)
    assert(f.byte_len === png.length)
    // expected statistics computed independently from the raster
    val img = testRaster
    val lumas = for (y <- 0 until 12; x <- 0 until 16) yield {
      val rgb = img.getRGB(x, y)
      0.2126 * ((rgb >> 16) & 0xff) / 255.0 + 0.7152 * ((rgb >> 8) & 0xff) / 255.0 +
        0.0722 * (rgb & 0xff) / 255.0
    }
    assert(math.abs(f.feature(4) - lumas.min) < 1e-6f, "min luma")
    assert(math.abs(f.feature(5) - lumas.max) < 1e-6f, "max luma")
    assert(math.abs(f.feature(3) - lumas.sum / lumas.size) < 1e-5f, "mean luma")
    assert(f.feature(7) === lumas.count(_ > 0.5).toFloat / lumas.size, "bright fraction")
  }

  test("AiffAuCodec: big-endian AIFF and AU decode to WavCodec's exact golden statistics") {
    import javax.sound.sampled._
    // the SAME 4 samples as wavPcm16 (±0.5 at 8 kHz mono), written as
    // big-endian AIFF and as AU — formats the RIFF parser cannot read
    val pcmBE = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(16384, -16384, 16384, -16384).foreach(s => pcmBE.putShort(s.toShort))
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, true)
    def fileBytes(t: AudioFileFormat.Type): Array[Byte] = {
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcmBE.array()), fmt, 4)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, t, bos)
      bos.toByteArray
    }
    val wavGold = Multimodal.WavCodec.decode(Multimodal.Asset(8L, "audio/wav", wavPcm16))
    Seq(AudioFileFormat.Type.AIFF -> "audio/aiff",
        AudioFileFormat.Type.AU -> "audio/basic").foreach { case (t, mime) =>
      val f = Multimodal.AiffAuCodec.decode(Multimodal.Asset(9L, mime, fileBytes(t)))
      assert(f.width === 8000 && f.height === 1 && f.n_frames === 4, s"$mime header")
      assert(f.feature.toSeq === wavGold.feature.toSeq,
        s"$mime must report the identical battery as the WAV golden")
    }
    // corrupt payload quarantines through the standard path
    val out = Multimodal.decodeFeatures(
      Seq((16L, "audio/aiff", "notaiff".getBytes("UTF-8"))).toDF("doc_id", "mime", "payload"))
      .collect()
    assert(out(0).getAs[Int]("width") === -1)
  }

  test("GifCodec: real animated GIF decodes frame count and frame-averaged statistics") {
    // three uniform-gray frames (one palette color each -> lossless):
    // lumas 40/255, 128/255, 216/255
    val levels = Seq(40, 128, 216)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    levels.foreach { lv =>
      val img = new java.awt.image.BufferedImage(10, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 10) img.setRGB(x, y, (lv << 16) | (lv << 8) | lv)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val f = Multimodal.GifCodec.decode(Multimodal.Asset(14L, "image/gif", bos.toByteArray))
    assert(f.width === 10 && f.height === 8)
    assert(f.n_frames === 3, "multi-frame count must be real")
    val expMean = levels.map(_ / 255.0).sum / 3
    assert(math.abs(f.feature(3) - expMean) < 1e-5, "frame-averaged mean luma")
    assert(math.abs(f.feature(4) - 40 / 255.0) < 1e-5, "min luma composes as min across frames")
    assert(math.abs(f.feature(5) - 216 / 255.0) < 1e-5, "max luma composes as max across frames")
    assert(f.feature(6) === 0.0f, "uniform frames have zero edge energy")
    assert(math.abs(f.feature(7) - 2.0 / 3) < 1e-5, "two of three frames exceed 0.5 luma")
    // dispatch path: the asset table route decodes it too
    val out = Multimodal.decodeFeatures(
      Seq((15L, "image/gif", bos.toByteArray)).toDF("doc_id", "mime", "payload"))
      .collect()
    assert(out(0).getAs[Int]("n_frames") === 3)
  }

  test("JpegCodec: real JPEG decode recovers dimensions exactly and statistics approximately") {
    val jpg = encodeImage("jpeg")
    // sanity: it really is an entropy-coded JPEG, not a renamed raster
    assert((jpg(0) & 0xff) === 0xff && (jpg(1) & 0xff) === 0xd8, "JFIF SOI magic")
    val f = Multimodal.JpegCodec.decode(Multimodal.Asset(12L, "image/jpeg", jpg))
    assert(f.width === 16 && f.height === 12 && f.n_frames === 1)
    val png = Multimodal.PngCodec.decode(Multimodal.Asset(12L, "image/png", encodeImage("png")))
    // lossy but close: mean luma within 5% of the lossless ground truth,
    // and the checker's edge energy survives quantization recognizably
    assert(math.abs(f.feature(3) - png.feature(3)) < 0.05, "mean luma drift under JPEG loss")
    assert(f.feature(6) > png.feature(6) * 0.5f, "edge energy must survive quantization")
    // corrupt payload quarantines through the standard path
    val out = Multimodal.decodeFeatures(
      Seq((13L, "image/jpeg", "notajpeg".getBytes("UTF-8"))).toDF("doc_id", "mime", "payload"))
      .collect()
    assert(out(0).getAs[Int]("width") === -1)
  }

  test("shingle_hashes: codegen expression matches the built-in md5/conv tree") {
    val d = Catalog.table(spark, sf, "documents").limit(50)
    val toks = TextOps.tokens(col("text"))
    val shingles = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3), i => concat_ws(" ", slice(toks, i + lit(1), lit(3)))))
      .otherwise(array(concat_ws(" ", toks)))
    val builtin = d.select(col("doc_id"), sort_array(array_distinct(transform(shingles,
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val custom = d.select(col("doc_id"), sort_array(Dedup.shingleHashes(col("text"))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(builtin === custom)
  }

  test("minhash_sig / simhash_sig: fused kernels bit-equal the aggregate reference trees") {
    // real corpus text plus the edge cases the fusion must preserve:
    // empty text (simhash drops it, minhash keeps the fallback shingle),
    // sub-shingle-length text, and non-ASCII special casing
    val d = Catalog.table(spark, sf, "documents").select("doc_id", "text").limit(200)
      .unionByName(Seq((90001L, ""), (90002L, "one two"),
        (90003L, "Straße İstanbul ÄÖÜ 42")).toDF("doc_id", "text"))
    val mhFused = Dedup.minhashSignatures(d).orderBy("doc_id").collect().toSeq
    val mhRef = Dedup.minhashSignaturesAgg(d).orderBy("doc_id").collect().toSeq
    assert(mhFused === mhRef)
    val shFused = Dedup.simhash(d).orderBy("doc_id").collect().toSeq
    val shRef = Dedup.simhashAgg(d).orderBy("doc_id").collect().toSeq
    assert(shFused === shRef)
    assert(!shFused.exists(_.getLong(0) == 90001L), "empty docs drop from simhash on both paths")
    assert(mhFused.exists(_.getLong(0) == 90001L), "empty docs keep their fallback shingle in minhash")
  }

  test("vec_dot: codegen expression is bit-identical to the HOF fold") {
    val e = Catalog.table(spark, sf, "embeddings").limit(100)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val hof = e.select(col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (a, b) => a + b).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cg = e.select(col("vec_id"), graft.functions.VecDot(col("v"), col("v")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact bit equality, not approx — VecDot must preserve the fold order
    hof.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(cg(id)), s"vec $id")
    }
  }

  test("GraftExtensions: custom functions resolve in plain spark.sql") {
    import graft.functions._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    assert(spark.sql("SELECT rolling_hash('abc') AS h").head().getLong(0) === 96354L)
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0) === 11.0)
    assert(spark.sql("SELECT size(shingle_hashes('a b c d', 3)) AS n").head().getInt(0) === 2)
    assert(spark.sql(
      "SELECT bitmap_distinct(id, 100) AS n FROM VALUES (1), (2), (2), (7) AS t(id)")
      .head().getLong(0) === 3L)

    // Every injected name: the spark.sql value equals its Column form's.
    val f = Seq(
      (1, "the quick brown fox jumps over the lazy dog the quick fox",
        Seq(1.0, 2.0, 3.0, 4.0), Seq(0.5, -1.0, 2.0, 8.0), 1.5, Seq("a", "b", "a", "b", "c")),
      (2, "a b c d", Seq(0.0, 9.0, -2.5, 1.0), Seq(3.0, 4.0, 0.0, 0.0), -0.0, Seq("b", "a")),
      (7, "Lorem ipsum, dolor sit amet; consectetur adipiscing elit.",
        Seq(2.0, 2.0, 2.0, 2.0), Seq(1.0, 1.0, 1.0, 1.0), 1e300, Seq("a", "b")))
      .toDF("id", "text", "a", "b", "x", "toks")
    f.createOrReplaceTempView("graft_registry_rows")
    val cb = Map(
      0 -> Seq((7L, Seq(0.0, 0.0)), (3L, Seq(1.0, 2.0))),
      1 -> Seq((3L, Seq(3.0, 4.0)), (7L, Seq(0.0, 9.0))))
    val perRow: Seq[(String, String, Column)] = Seq(
      ("rolling_hash", "rolling_hash(text)", RollingHash(col("text"))),
      ("vec_dot", "vec_dot(a, b)", VecDot(col("a"), col("b"))),
      ("vec_sqdist", "vec_sqdist(a, b)", VecSqDist(col("a"), col("b"))),
      ("pq_encode", "pq_encode(a, array(1.0d, 2.0d, 0.0d, 0.0d, 3.0d, 4.0d, 0.0d, 9.0d), " +
        "array(3L, 7L), 2)", PqEncode(col("a"), cb)),
      ("shingle_hashes", "shingle_hashes(text, 3)", ShingleHashes(col("text"), 3)),
      ("shingle_hashes_all", "shingle_hashes_all(text, 2)", ShingleHashes.positional(col("text"), 2)),
      ("winnow_sketch", "winnow_sketch(text, 3, 4)", ShingleHashes.winnow(col("text"), 3, 4)),
      ("token_hashes", "token_hashes(text)", ShingleHashes.tokens(col("text"))),
      ("feature_hash_vec", "feature_hash_vec(text, 16)",
        call_function("feature_hash_vec", col("text"), lit(16))),
      ("minhash_sig", "minhash_sig(text)", call_function("minhash_sig", col("text"))),
      ("simhash_sig", "simhash_sig(text)", call_function("simhash_sig", col("text"))),
      ("linear_score", "linear_score(text)", call_function("linear_score", col("text"))),
      ("double_bits", "double_bits(x)", DoubleBits(col("x"))),
      ("bpe_merge", "bpe_merge(toks, 'a', 'b')", BpeMerge(col("toks"), lit("a"), lit("b"))))
    perRow.foreach { case (name, sql, c) =>
      val viaSql = spark.sql(s"SELECT $sql AS v FROM graft_registry_rows ORDER BY id").collect().toSeq
      val viaColumn = f.orderBy("id").select(c.as("v")).collect().toSeq
      assert(viaSql.size === 3, name)
      assert(viaSql === viaColumn, name)
    }
    assert(spark.sql("SELECT bitmap_distinct(id, 100) FROM graft_registry_rows").head() ===
      f.agg(BitmapDistinct(col("id"), 100)).head())

    // The three kernels with builder-fixed parameters close over the
    // constants the oracle SQL inlines.
    spark.sql("SELECT text, minhash_sig(text), simhash_sig(text), linear_score(text) " +
      "FROM graft_registry_rows").collect().foreach { r =>
      val t = r.getString(0)
      assert(r.getSeq[Long](1) === TextHash.minhashSig(t, Dedup.ShingleN, Dedup.MinhashPrime,
        Dedup.hashA, Dedup.hashB).toSeq)
      assert(r.getSeq[Long](2) === TextHash.simhashSig(t, Dedup.SimBits).toSeq)
      assert(r.getSeq[Long](3) === TextHash.linearScore(t, Mining.classifierWeights.toArray).toSeq)
    }

    // Exactly these 15 names are the extension's.
    val registry = castToImpl(spark).sessionState.functionRegistry
    val injected = registry.listFunction().filter(id =>
      registry.lookupFunction(id).exists(_.getClassName == "graft")).map(_.funcName).toSet
    assert(injected === (perRow.map(_._1) :+ "bitmap_distinct").toSet)
  }

  test("building and running the curation queries leaves the function registry unchanged") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val fresh = spark.newSession()
    def names(): Seq[String] =
      castToImpl(fresh).sessionState.functionRegistry.listFunction().map(_.unquotedString).sorted
    val before = names()
    val confBefore = fresh.conf.getAll
    val byId = SparkEntry.allQ.map(q => q.name.takeWhile(_ != '_') -> q).toMap
    Seq("q199", "q140", "q192", "q186", "q173", "q202", "q107", "q110").foreach { id =>
      byId(id).fn(fresh, sf).count()
    }
    val after = names()
    // (names added, names removed)
    assert((after.diff(before), before.diff(after)) === ((Nil, Nil)))
    // nor the session conf (q110 reads `events`)
    assert(fresh.conf.getAll === confBefore)
  }

  test("asof join: latest right row at-or-before each left timestamp, null when none") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      ("A", ts("2024-01-01 10:00:00"), "l1"),
      ("A", ts("2024-01-01 12:00:00"), "l2"),
      ("B", ts("2024-01-01 09:00:00"), "l3")).toDF("k", "t", "lv")
    val right = Seq(
      ("A", ts("2024-01-01 09:30:00"), "r1"),
      ("A", ts("2024-01-01 12:00:00"), "r2"), // equal ts matches (<=)
      ("B", ts("2024-01-01 11:00:00"), "r3")). // after l3 — no match
      toDF("k", "rt", "rv")
    val got = graft.ops.AsOf.join(left, right, Seq("k"), "t", "rt")
      .select(col("lv"), col("asof.rv").as("rv")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got === Map("l1" -> Some("r1"), "l2" -> Some("r2"), "l3" -> None))
  }

  test("range join via binning equals the naive cross+filter plan") {
    import java.sql.Timestamp
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rnd = new scala.util.Random(11)
    val points = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(5), new Timestamp(base + rnd.nextInt(86400) * 1000L)))
      .toDF("pid", "k", "t")
    val intervals = (1 to 80).map { _ =>
      val s = base + rnd.nextInt(86400) * 1000L
      (rnd.nextInt(5), new Timestamp(s), new Timestamp(s + (600 + rnd.nextInt(3000)) * 1000L))
    }.toDF("k", "s", "e")
    val binned = graft.ops.RangeJoin.pointInInterval(points, intervals,
      "k", "t", "s", "e", binSeconds = 3600L)
      .select("pid", "s").collect().map(r => (r.getLong(0), r.getTimestamp(1))).sorted.toSeq
    val naive = points.join(intervals, Seq("k"))
      .filter(col("t") >= col("s") && col("t") < col("e"))
      .select("pid", "s").collect().map(r => (r.getLong(0), r.getTimestamp(1))).sorted.toSeq
    assert(binned === naive)
    assert(naive.nonEmpty, "fixture must produce matches")
  }

  test("approx_count_distinct (HLL++) stays within rsd bounds of the exact count") {
    // the sketch path for UNBOUNDED id domains; BitmapDistinct covers the
    // exact bounded-domain case (q15)
    val ev = Catalog.table(spark, sf, "events")
    val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    val approx = ev.agg(approx_count_distinct(col("user_id"), rsd = 0.02)).head().getLong(0)
    assert(math.abs(approx - exact) <= math.max(1L, (exact * 0.06).toLong),
      s"approx=$approx exact=$exact")
  }

  test("pagerank: the Pregel-style RDD loop is bit-equal to the DataFrame loop") {
    // same fixed-point arithmetic, two execution strategies — the RDD form
    // exists purely for narrow co-partitioned joins, never for semantics
    val edges = Seq(
      (1L, 101L, 3L), (1L, 102L, 1L), (2L, 101L, 2L), (3L, 103L, 5L), (2L, 103L, 1L))
      .toDF("src", "dst", "w")
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val wsums = sym.groupBy("src").agg(sum(col("w")).cast("long").as("wsum"))
    val ed = sym.join(wsums, "src")
    val nodes = (Seq(1L, 2L, 3L, 4L) ++ Seq(101L, 102L, 103L)).toDF("id")
    val a = graft.ops.Cluster.prIterate(ed, nodes) // single-task path (within bound)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val loop = graft.ops.Cluster.prIterate(ed, nodes, smallGraphMaxEdges = 0) // forced shuffle loop
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = graft.ops.Cluster.prIterateRdd(ed, nodes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === loop, "bounded-small path must be bit-equal to the shuffle loop")
    assert(a === b)
    // isolated node 4 holds exactly the teleport floor
    assert(a.toMap.apply(4L) === 150000L)
  }

  test("hll_sketch_agg: partial sketches merge to the same estimate as one pass") {
    // mergeability is THE distributed-rollup property: per-partition (or
    // per-day) sketches unioned later must equal the single-pass sketch —
    // what lets a 100 TB daily pipeline keep tiny per-day aggregates and
    // still answer "distinct over any date range"
    val ev = Catalog.table(spark, sf, "events")
    val direct = ev.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))"))
      .head().getLong(0)
    val merged = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
      .head().getLong(0)
    assert(direct === merged, s"per-day sketches must merge losslessly: $direct vs $merged")
    val exact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    assert(math.abs(direct - exact) <= math.max(1L, (exact * 0.05).toLong),
      s"estimate=$direct exact=$exact")
  }

  test("approx_percentile (GK sketch) stays within rank-error bounds of RankSelect") {
    // the sketch path for quantiles at unbounded scale; RankSelect covers
    // the exact case (q27/q61). accuracy=1000 → rank error <= n/1000
    val ev = Catalog.table(spark, sf, "events").filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), col("event_id"))
    val exact = graft.ops.RankSelect.groupQuantiles(ev, "event_type", "value", "event_id",
        Seq("p50" -> 0.5, "p90" -> 0.9))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val sketch = ev.groupBy("event_type")
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)), lit(1000)).as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val ranked = ev.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    sketch.foreach { case (tpe, qs) =>
      val vals = ranked(tpe)
      val n = vals.length
      Seq(qs.head -> exact(tpe)._1, qs(1) -> exact(tpe)._2).foreach { case (a, e) =>
        // compare by RANK distance, the sketch's actual guarantee
        val ra = vals.count(_ <= a)
        val re = vals.count(_ <= e)
        assert(math.abs(ra - re) <= math.max(2, n / 100),
          s"$tpe: sketch value $a sits ${math.abs(ra - re)} ranks from exact $e (n=$n)")
      }
    }
  }

  test("bitmap_distinct: equals countDistinct across partitions, ignores nulls") {
    val df = ((1 to 500).map(i => (i % 5, Some(i % 37L))) ++
      Seq((0, None), (1, None))).toDF("g", "id").repartition(7)
    val got = df.groupBy("g")
      .agg(graft.functions.BitmapDistinct(col("id"), 1 << 16).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = df.groupBy("g").agg(countDistinct(col("id")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("text stats: quality flags and ratios are internally consistent") {
    val rows = TextOps.q50.fn(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_chars") === r.getAs[Int]("text_len").toLong)
      val ratio = r.getAs[Double]("stopword_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }

  test("bpe pretokenizer: golden tokenization and count consistency") {
    val toks = TextOps.bpePattern.r
      .findAllIn("it's a well-known fact that 42 models... don't overfit!").toList
    assert(toks === List("it", "'s", " a", " well", "-", "known", " fact", " that",
      " 42", " models", "...", " don", "'t", " overfit", "!"),
      "Java regex must tokenize exactly like the RE2 oracle")
    val rows = TextOps.q54.fn(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("n_bpe_tokens") >= r.getAs[Int]("n_ws_tokens"),
        "subword pretokens can only split whitespace tokens further")
    }
  }

  test("langid: argmax is consistent with the hit counts") {
    val rows = TextOps.q51.fn(spark, sf).collect()
    rows.foreach { r =>
      val (en, es, de, fr) = (r.getAs[Int]("en_hits"), r.getAs[Int]("es_hits"),
        r.getAs[Int]("de_hits"), r.getAs[Int]("fr_hits"))
      val pred = r.getAs[String]("predicted_lang")
      val expected =
        if (en >= math.max(math.max(es, de), math.max(fr, 1))) "en"
        else if (es >= math.max(de, math.max(fr, 1))) "es"
        else if (de >= math.max(fr, 1)) "de"
        else if (fr >= 1) "fr"
        else "unknown"
      assert(pred === expected, s"doc ${r.getAs[Long]("doc_id")}: $pred vs $expected")
    }
  }

  test("chunking: windows tile every document end-to-end at the stride") {
    val nTok = Catalog.table(spark, sf, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    val perDoc = graft.ops.Corpus.q68.fn(spark, sf)
      .groupBy("doc_id")
      .agg(min(col("start_tok")).as("first_start"),
        max(col("start_tok") + col("n_chunk_tokens")).as("covered_to"),
        count(lit(1)).as("n_chunks"),
        max(col("start_tok")).as("last_start"))
      .join(nTok, "doc_id")
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      assert(r.getAs[Long]("first_start") === 0L)
      assert(r.getAs[Long]("covered_to") === r.getAs[Long]("n_tokens"),
        s"doc ${r.getAs[Long]("doc_id")}: chunks must cover the full token stream")
      assert(r.getAs[Long]("last_start") ===
        graft.ops.Corpus.ChunkStride.toLong * (r.getAs[Long]("n_chunks") - 1),
        "starts must advance by exactly one stride per chunk")
    }
  }

  test("bpe_merge kernel: left-to-right greedy, including self-pair runs") {
    val cases = Seq(
      (Seq("a", "b", "c", "a", "b"), "a", "b", Seq("ab", "c", "ab")),
      // self-pair run: greedy merges (1,2) and (3,4), the middle match is consumed
      (Seq("x", "x", "x", "x"), "x", "x", Seq("xx", "xx")),
      (Seq("x", "x", "x"), "x", "x", Seq("xx", "x")),
      // alternating overlap-free a b a b
      (Seq("a", "b", "a", "b"), "a", "b", Seq("ab", "ab")),
      (Seq("q"), "a", "b", Seq("q")),
      (Seq.empty[String], "a", "b", Seq.empty[String]))
    cases.foreach { case (in, a, b, want) =>
      val got = Seq(in).toDF("t")
        .select(graft.functions.BpeMerge(col("t"), lit(a), lit(b)).as("r"))
        .head().getAs[scala.collection.Seq[String]]("r")
      assert(got === want, s"bpe_merge($in, $a, $b)")
    }
  }

  test("bpeEncode with zero merges is the identity: counts equal q54's pretokenizer") {
    val tk0 = graft.ops.Corpus.pretokens(Catalog.table(spark, sf, "documents"))
    val enc = graft.ops.Corpus.bpeEncode(tk0, Nil)
      .select(col("doc_id"), size(col("t")).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val q54 = graft.ops.TextOps.q54.fn(spark, sf)
      .select("doc_id", "n_bpe_tokens")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_bpe_tokens")).toMap
    assert(enc === q54, "zero-merge encoding must reproduce the q54 pretoken counts")
  }

  test("q118: encoding the training corpus reproduces the trainer's final stream") {
    val tk0 = graft.ops.Corpus.pretokens(Catalog.table(spark, sf, "documents"))
      .localCheckpoint()
    val merges = graft.ops.Corpus.trainMerges(tk0, 3)
    assert(merges.size === 3)
    assert(merges.distinct.size === 3, "each round must learn a NEW merge (the old pair is gone)")
    // compression is real and monotone in k on this corpus
    def total(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(size(col("t")))).head().getLong(0)
    val n0 = total(tk0)
    val n2 = total(graft.ops.Corpus.bpeEncode(tk0, merges.take(2)))
    val n3 = total(graft.ops.Corpus.bpeEncode(tk0, merges))
    assert(n3 < n2 && n2 < n0, s"each merge rank must shrink the stream: $n0 -> $n2 -> $n3")
  }

  test("trainMerges to vocabulary depth 16 matches a sequential reference trainer exactly") {
    // the "real vocabulary size" pin: the distributed count->winner->rewrite
    // loop must agree with a plain single-threaded BPE trainer at every
    // rank, not just the 3 ranks q118 exercises — merge table AND final
    // stream size, differentially
    val k = 16
    val tk0 = graft.ops.Corpus.pretokens(Catalog.table(spark, sf, "documents"))
      .localCheckpoint()
    val dist = graft.ops.Corpus.trainMerges(tk0, k)
    assert(dist.size === k)

    def applyMerge(t: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == a && t(i + 1) == b) { out += (a + b); i += 2 }
        else { out += t(i); i += 1 }
      }
      out.result()
    }
    var streams = tk0.collect()
      .map(_.getSeq[String](1).toVector)
    val ref = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for (_ <- 1 to k) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      streams.foreach { t =>
        var i = 0
        while (i + 1 < t.length) {
          counts((t(i), t(i + 1))) = counts.getOrElse((t(i), t(i + 1)), 0L) + 1
          i += 1
        }
      }
      val (wa, wb) = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head._1
      ref += ((wa, wb))
      streams = streams.map(applyMerge(_, wa, wb))
    }
    assert(dist === ref.toSeq,
      "every learned rank must match the sequential trainer's winner")
    val nDist = graft.ops.Corpus.bpeEncode(tk0, dist)
      .agg(sum(size(col("t")))).head().getLong(0)
    assert(nDist === streams.map(_.size.toLong).sum,
      "the distributed encode must land on the reference's final stream size")
  }

  test("q105 merge loop: round 2 reflects the applied merge") {
    val rows = graft.ops.Corpus.q105.fn(spark, sf).collect()
    val r1 = rows.filter(_.getAs[Long]("round") == 1L).sortBy(_.getAs[Long]("merge_rank"))
    val r2 = rows.filter(_.getAs[Long]("round") == 2L).sortBy(_.getAs[Long]("merge_rank"))
    assert(r1.nonEmpty && r2.nonEmpty)
    def pair(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("left_tok"), r.getAs[String]("right_tok"))
    val winner = pair(r1.head)
    // the merged pair is gone from round 2's table entirely
    assert(!r2.map(pair).contains(winner),
      s"round-1 winner $winner must not survive its own merge")
    // so round 2's top pair differs from round 1's
    assert(pair(r2.head) !== winner)
    // pairs not involving the merged symbol can only LOSE occurrences
    // (the merge removes tokens; only pairs touching the new symbol —
    // which may collide with a pre-existing token — can gain)
    val merged = winner._1 + winner._2
    val c1 = r1.map(r => pair(r) -> r.getAs[Long]("pair_count")).toMap
    r2.filter(r => pair(r)._1 != merged && pair(r)._2 != merged).foreach { r =>
      c1.get(pair(r)).foreach(old =>
        assert(r.getAs[Long]("pair_count") <= old,
          s"pair ${pair(r)} count grew across the merge"))
    }
  }

  test("quality gate: keep is exactly the conjunction of its flags") {
    val rows = graft.ops.Corpus.q69.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val conj = r.getAs[Boolean]("len_ok") && r.getAs[Boolean]("wordlen_ok") &&
        r.getAs[Boolean]("punct_ok") && r.getAs[Boolean]("stop_ok")
      assert(r.getAs[Boolean]("keep") === conj)
    }
  }

  test("centroid quality: cosines-to-centroid are bounded and labels complete") {
    val rows = Similarity.q70.fn(spark, sf).collect()
    val total = Catalog.table(spark, sf, "embeddings").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum === total)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("avg_cos_fp")) <= 1.0)
      assert(r.getAs[Long]("min_cos_fp") >= -1000000L && r.getAs[Long]("min_cos_fp") <= 1000000L)
      assert(r.getAs[Long]("centroid_norm_fp") > 0L)
    }
  }

  test("pagerank: ranks keep teleport floor and damping ceiling") {
    val rows = graft.ops.Cluster.q71.fn(spark, sf).collect()
    assert(rows.length === 20)
    val ranks = rows.map(_.getAs[Long]("rank_fp"))
    assert(ranks.sameElements(ranks.sorted.reverse), "top-k must be rank-descending")
    // teleport term is 0.15 * 1e6; no node can hold more than the whole
    // graph's mass — at sf0.001 that is a loose but real invariant
    ranks.foreach(r => assert(r >= 150000L && r < 1000000L * 10000))
  }

  test("incremental ingest: batch docs are classified exhaustively, new fps are unique") {
    val out = graft.ops.Corpus.q72.fn(spark, sf).cache()
    val statuses = out.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("new", "dup_history", "dup_batch")))
    val batchCount = Catalog.table(spark, sf, "documents")
      .select((graft.ops.Dedup.h60Col(TextOps.normalized(col("text"))) % 100).as("b"))
      .filter(col("b") >= 90).count()
    assert(out.count() === batchCount, "every batch doc must be classified exactly once")
    out.unpersist()
  }

  test("simDescKey: ascending key order equals descending double order, zeros collapse") {
    import spark.implicits._
    val vals = Seq(1.0, 0.9999999999999999, 0.5, 1e-300, 4.9e-324, 0.0, -0.0,
      -4.9e-324, -1e-300, -0.5, -1.0, 0.123456789, -0.987654321)
    val got = vals.toDF("sim")
      .select(col("sim"), Similarity.simDescKey(col("sim")).as("k"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1))
    // sort by key ascending must equal sort by sim descending (stable on
    // the collapsed zeros, which share one key)
    val byKey = got.sortBy(_._2).map(_._1)
    val bySim = got.sortBy(-_._1).map(_._1)
    assert(byKey.zip(bySim).forall { case (a, b) => a == b || (a == 0.0 && b == 0.0) })
    assert(got.toMap.apply(0.0) === got.toMap.apply(-0.0), "±0.0 must share a key")
    // bijective away from zero: 13 inputs, ±0.0 share one key -> 12 keys
    assert(got.map(_._2).distinct.length === vals.length - 1)
  }

  test("boilerplate scrub: per-doc counts and kept-text checksum match a brute-force twin") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val w = TextOps.BoilerShingle
    val tok = Catalog.table(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase).toVector).toMap
    // df = number of DISTINCT docs containing the shingle (a doc repeating
    // its own phrase must not self-flag)
    val df = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    tok.foreach { case (id, t) =>
      t.sliding(w).filter(_.length == w).foreach { g =>
        df.getOrElseUpdate(g.mkString(" "), scala.collection.mutable.Set.empty[Long]) += id
      }
    }
    val boiler = df.collect { case (g, ds) if ds.size >= TextOps.BoilerDf => g }.toSet
    val rows = TextOps.q120.fn(spark, sf).collect()
    assert(rows.length === tok.size)
    rows.foreach { r =>
      val t = tok(r.getAs[Long]("doc_id"))
      val starts = t.sliding(w).zipWithIndex
        .collect { case (g, i) if g.length == w && boiler(g.mkString(" ")) => i }.toVector
      val covered = starts.flatMap(i => i until i + w).toSet
      assert(r.getAs[Long]("n_tokens") === t.length.toLong)
      assert(r.getAs[Long]("n_boiler_spans") === starts.length.toLong)
      assert(r.getAs[Long]("n_scrubbed") === covered.size.toLong)
      assert(r.getAs[Long]("scrub_bp") ===
        (if (t.isEmpty) 0L else covered.size.toLong * 10000 / t.length))
      val kept = t.zipWithIndex.collect { case (tk, j) if !covered(j) => tk }.mkString(" ")
      assert(r.getAs[Long]("kept_checksum") === h60(kept),
        s"scrubbed reassembly must be bit-exact for doc ${r.getAs[Long]("doc_id")}")
    }
    // the corpus plants duplicated spans; the scrub must find real work
    assert(rows.map(_.getAs[Long]("n_scrubbed")).sum > 0,
      "planted near-duplicate spans must be scrubbed")
    assert(rows.exists(_.getAs[Long]("n_scrubbed") === 0L),
      "threshold df>=2 must not scrub unique docs")
  }

  test("repetition signals: in-row folds match a brute-force n-gram count twin") {
    val tok = Catalog.table(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        "[a-z0-9]+".r.findAllIn(r.getAs[String]("text").toLowerCase).toVector).toMap
    def gramCounts(t: Vector[String], n: Int): Map[String, Int] =
      t.sliding(n).filter(_.length == n).map(_.mkString(" ")).toVector
        .groupBy(identity).map { case (g, occ) => g -> occ.length }
    def maxRun(t: Vector[String]): Int =
      if (t.isEmpty) 0
      else t.tail.foldLeft((t.head, 1, 1)) { case ((p, c, m), x) =>
        val c2 = if (x == p) c + 1 else 1; (x, c2, math.max(m, c2))
      }._3
    val rows = TextOps.q121.fn(spark, sf).collect()
    assert(rows.length === tok.size)
    rows.foreach { r =>
      val t = tok(r.getAs[Long]("doc_id"))
      val c2 = gramCounts(t, 2); val c5 = gramCounts(t, 5)
      val top2 = if (c2.isEmpty) 0L else c2.values.max.toLong
      val dup5 = c5.values.filter(_ > 1).map(_.toLong).sum
      assert(r.getAs[Long]("n_tokens") === t.length.toLong)
      assert(r.getAs[Long]("top_2gram_cnt") === top2)
      assert(r.getAs[Long]("dup_5gram_cnt") === dup5)
      assert(r.getAs[Long]("max_token_run") === maxRun(t).toLong)
      val share = if (t.length >= 2) math.floor(top2.toDouble / (t.length - 1) * 10000.0 + 0.5) / 10000.0 else 0.0
      assert(r.getAs[Double]("top_2gram_share") === share)
      val frac = if (t.length >= 5) math.floor(dup5.toDouble / (t.length - 4) * 10000.0 + 0.5) / 10000.0 else 0.0
      assert(r.getAs[Double]("dup_5gram_frac") === frac)
      val flag = (t.length >= 2 && top2 * 5 >= t.length - 1) ||
        (t.length >= 5 && dup5 * 5 >= t.length - 4) || maxRun(t) >= 5
      assert(r.getAs[Boolean]("is_repetitive") === flag)
    }
    // the synthetic corpus repeats a small vocabulary: 2-gram repetition
    // must actually fire somewhere (no intra-doc 5-gram repeats exist at
    // sf0.001 — verified via DuckDB — so the 5-gram branch is exercised
    // by the per-row zero assertions above, plus the oracle at sf0.01+)
    assert(rows.exists(_.getAs[Long]("top_2gram_cnt") > 1L))
    assert(rows.exists(_.getAs[Long]("max_token_run") > 1L))
  }

  test("q55/q135: content-hash split pins every exact-duplicate cluster to one split") {
    // the planted corpus carries an exact copy (9003 = doc 3), so the
    // cluster-unity property is exercised on a real multi-member cluster
    val clusters = planted.select(
        md5(TextOps.normalized(col("text"))).as("fp"),
        TextOps.splitAssignment(col("text")).as("split"))
      .groupBy("fp").agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("n"))
    assert(clusters.filter(col("n_splits") > 1).count() === 0L,
      "exact duplicates must never straddle a split boundary")
    assert(clusters.filter(col("n") > 1).count() > 0L)
  }

  test("q135: every LSH-audited leak pair is a true near-dup pair of the exact twin") {
    val d = Catalog.table(spark, sf, "documents")
    val splits = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("split"))
    def tagged(pairs: DataFrame): DataFrame = pairs
      .join(splits.select(col("doc_id"), col("split").as("_sa")), Seq("doc_id"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("_sb")), Seq("doc_b"))
      .select(col("doc_id"), col("doc_b"),
        least(col("_sa"), col("_sb")).as("split_a"),
        greatest(col("_sa"), col("_sb")).as("split_b"))
    val lsh = tagged(Dedup.jaccardLshPairs(d, 0.5))
    val exact = tagged(Dedup.jaccardPairs(d).filter(col("jaccard") >= 0.5))
    // LSH candidates are exact-rescored, so the audited pair set is a
    // subset of the all-pairs ground truth (banding may only lose pairs)
    assert(lsh.exceptAll(exact).count() === 0L)
    // and the audit finds real cross-split leakage in this corpus
    assert(lsh.filter(col("split_a") =!= col("split_b")).count() > 0L)
  }

  test("q136: planted benchmark text is localized at its exact token span") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // 10 filler tokens, then the 6 benchmark tokens at positions 11..16,
    // then more filler — all filler tokens distinct from the bench ones
    val filler1 = (1 to 10).map(i => s"f$i").mkString(" ")
    val filler2 = (11 to 15).map(i => s"f$i").mkString(" ")
    val corpus = Seq(
      (100L, s"$filler1 alpha beta gamma delta epsilon zeta $filler2"),
      (101L, "nothing shared here at all with anyone")).toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(corpus, bench).collect()
    assert(spans.length === 1)
    val r = spans.head
    assert(r.getAs[Long]("doc_id") === 100L)
    assert(r.getAs[Long]("bench_id") === 1L)
    // 6 bench tokens → 4 internal 3-shingles, matched at starts 11..14
    // (junction shingles mix filler+bench and must NOT match)
    assert(r.getAs[Long]("n_hits") === 4L)
    assert(r.getAs[Long]("first_pos") === 11L)
    assert(r.getAs[Long]("last_pos") === 14L)
    // 21 tokens → 19 shingle positions; 4/19 rounded half-up to 4dp
    assert(r.getAs[Double]("coverage") === math.floor(4.0 / 19.0 * 10000.0 + 0.5) / 10000.0)
  }

  test("q137: scrub excises exactly the planted benchmark window, fillers intact") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val filler1 = (1 to 10).map(i => s"f$i").mkString(" ")
    val filler2 = (11 to 15).map(i => s"f$i").mkString(" ")
    val corpus = Seq(
      (100L, s"$filler1 alpha beta gamma delta epsilon zeta $filler2"),
      (101L, "nothing shared here at all with anyone")).toDF("doc_id", "text")
    val out = Dedup.scrubSpans(corpus, bench).orderBy("doc_id").collect()
    assert(out.length === 2)
    val hit = out(0)
    // hits at positions 11..14 cover tokens 11..16 — the benchmark text
    // and ONLY it is removed; the scrubbed stream is the 15 filler tokens
    assert(hit.getAs[Long]("n_tokens") === 21L)
    assert(hit.getAs[Long]("n_removed") === 6L)
    assert(hit.getAs[Long]("n_after") === 15L)
    val expectedFp = java.security.MessageDigest.getInstance("MD5")
      .digest(((1 to 15).map(i => s"f$i").mkString(" ")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(hit.getAs[String]("scrubbed_fp") === expectedFp)
    assert(hit.getAs[Boolean]("was_contaminated"))
    // the clean doc passes through untouched
    val clean = out(1)
    assert(clean.getAs[Long]("n_removed") === 0L)
    assert(!clean.getAs[Boolean]("was_contaminated"))
  }

  test("q137: a fully-contaminated doc scrubs to the empty stream (md5 of '')") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val r = Dedup.scrubSpans(corpus, bench).collect().head
    assert(r.getAs[Long]("n_after") === 0L)
    assert(r.getAs[String]("scrubbed_fp") === "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("q138: cluster reassignment leaves zero cross-split near-dup pairs") {
    val d = Catalog.table(spark, sf, "documents")
    val repair = Dedup.q138.fn(spark, sf).cache()
    // moved flag is consistent with the split columns
    assert(repair.filter(col("moved") =!= (col("split") =!= col("final_split"))).count() === 0L)
    // every cluster resolves to exactly one final split
    assert(repair.groupBy("cluster_id")
      .agg(countDistinct(col("final_split")).as("n")).filter(col("n") > 1).count() === 0L)
    // re-audit: apply the repaired assignment to the strong-pair graph —
    // no pair may straddle splits any more (and some did before)
    val fin = repair.select(col("doc_id"), col("final_split"))
    val pairs = Dedup.jaccardLshPairs(d, 0.5).select("doc_id", "doc_b")
    val crossBefore = {
      val s0 = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("sp"))
      pairs.join(s0.withColumnRenamed("sp", "sa"), Seq("doc_id"))
        .join(s0.select(col("doc_id").as("doc_b"), col("sp").as("sb")), Seq("doc_b"))
        .filter(col("sa") =!= col("sb")).count()
    }
    val crossAfter = pairs
      .join(fin.withColumnRenamed("final_split", "sa"), Seq("doc_id"))
      .join(fin.select(col("doc_id").as("doc_b"), col("final_split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(crossBefore > 0L, "the un-repaired corpus must actually leak")
    assert(crossAfter === 0L, "repair must close every cross-split pair")
    repair.unpersist()
  }

  test("q139: scrub collateral — a doc the gate accepted raw is damaged when the cut drops it under the floor") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    def fillers(n: Int) = (1 to n).map(i => f"fill$i%02d").mkString(" ")
    val corpus = Seq(
      // 44 fillers + 2 stopwords + 6 bench tokens = 52: passes raw, 46 after scrub → damaged
      (100L, s"${fillers(44)} the and alpha beta gamma delta epsilon zeta"),
      // 100 fillers + 2 stopwords + 6 bench tokens = 108: 102 after scrub → survives
      (101L, s"${fillers(100)} the and alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubRequalify(corpus, bench).orderBy("doc_id").collect()
    val d100 = out(0)
    assert(d100.getAs[Boolean]("keep_before") && !d100.getAs[Boolean]("keep_after"))
    assert(d100.getAs[Boolean]("damaged"))
    assert(d100.getAs[Long]("n_removed") === 6L)
    val d101 = out(1)
    assert(d101.getAs[Boolean]("keep_before") && d101.getAs[Boolean]("keep_after"))
    assert(!d101.getAs[Boolean]("damaged"))
    assert(d101.getAs[Long]("n_removed") === 6L)
  }

  test("q140: every repaired-train doc lands in exactly one shard; moved-in lineage adds up") {
    val d = Catalog.table(spark, sf, "documents")
    val repair = Dedup.unifiedRepair(spark, sf).cache()
    val packs = Dedup.q140.fn(spark, sf).cache()
    // total moved-in across shards equals the docs repair moved INTO train
    val movedIn = repair
      .filter(col("split") =!= "train" && col("final_split") === "train").count()
    assert(packs.agg(sum(col("n_moved_in"))).head().getLong(0) === movedIn)
    assert(movedIn > 0L, "the fixture must exercise a real move into train")
    // shard doc count covers the repaired train set exactly once
    val splits = d.select(col("doc_id"), TextOps.splitAssignment(col("text")).as("split"))
    val finTrain = splits.join(
        repair.select(col("doc_id"), col("final_split")), Seq("doc_id"), "left")
      .filter(coalesce(col("final_split"), col("split")) === "train")
    assert(packs.agg(sum(col("n_docs"))).head().getLong(0) === finTrain.count())
    // and the token mass is conserved shard-by-shard
    val totalToks = d.join(finTrain.select("doc_id"), Seq("doc_id"))
      .agg(sum(size(TextOps.tokens(col("text")))).cast("long")).head().getLong(0)
    assert(packs.agg(sum(col("pack_tokens"))).head().getLong(0) === totalToks)
    repair.unpersist(); packs.unpersist()
  }

  test("q142: incremental delta re-scrub is bit-equal to a full scrub under the grown benchmark") {
    val d = Catalog.table(spark, sf, "documents")
    val corpus = d.filter(col("doc_id") >= 50).select(col("doc_id"), col("text"))
    val h1 = Dedup.benchShingleHashes(d.filter(col("doc_id") < 25)).localCheckpoint()
    val h2 = Dedup.benchShingleHashes(d.filter(col("doc_id") < 50)).localCheckpoint()
    val v1 = Dedup.scrubSpansByHashes(corpus, h1).localCheckpoint()
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String, Boolean)] =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("scrubbed_fp"), r.getAs[Boolean]("was_contaminated")))).toMap
    val incremental = m(Dedup.incrementalRescrub(corpus, v1, h1, h2))
    val full = m(Dedup.scrubSpansByHashes(corpus, h2))
    assert(incremental === full,
      "delta-touched rescrub + v1 carry-over must equal the full v2 scrub")
    // and the index-served detection path lands on the identical rows
    val index = Dedup.positionalShingles(corpus)
      .select(col("h"), col("doc_id")).distinct().localCheckpoint()
    assert(m(Dedup.incrementalRescrubIndexed(corpus, v1, index, h1, h2)) === full,
      "index-served rotation must equal the full v2 scrub")
    // the law is non-vacuous: some docs were touched by the delta AND some carried over
    val v1Map = m(v1)
    val changed = full.count { case (id, row) => v1Map(id) != row }
    assert(changed > 0, "the grown benchmark must actually change verdicts")
    assert(changed < full.size, "some verdicts must carry over untouched")
  }

  test("q142: a v2-only benchmark item flips exactly its target doc to newly contaminated") {
    import spark.implicits._
    val benchV1 = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val benchV2 = benchV1.unionByName(
      Seq((2L, "omega psi chi phi upsilon")).toDF("doc_id", "text"))
    def fillers(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val corpus = Seq(
      (100L, s"${fillers(10, "fa")} alpha beta gamma delta epsilon zeta ${fillers(5, "fb")}"),
      (101L, s"${fillers(10, "fc")} omega psi chi phi upsilon ${fillers(5, "fd")}"),
      (102L, s"${fillers(20, "fe")}")).toDF("doc_id", "text")
    val h1 = Dedup.benchShingleHashes(benchV1).localCheckpoint()
    val h2 = Dedup.benchShingleHashes(benchV2).localCheckpoint()
    val v1 = Dedup.scrubSpansByHashes(corpus, h1).localCheckpoint()
    val v2 = Dedup.incrementalRescrub(corpus, v1, h1, h2)
    val before = v1.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("was_contaminated")).toMap
    val after = v2.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Boolean]("was_contaminated")).toMap
    assert(before === Map(100L -> true, 101L -> false, 102L -> false))
    assert(after === Map(100L -> true, 101L -> true, 102L -> false),
      "only the doc carrying the v2-only item may flip")
  }

  test("q145: semantic leakage audit finds cross-split near-pairs the lexical audit cannot") {
    val out = Similarity.q145.fn(spark, sf).cache()
    val rows = out.collect()
    // matrix invariants: is_leak iff split boundaries differ; n_docs
    // bounded by 2 docs per pair
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_leak") ===
        (r.getAs[String]("split_a") != r.getAs[String]("split_b")))
      assert(r.getAs[Long]("n_docs") <= 2 * r.getAs[Long]("n_pairs"))
    }
    // the audit is non-vacuous on this corpus: semantic pairs exist and
    // at least one crosses a split boundary (a LEXICAL audit cannot see
    // it — these pairs share embedding space, not 3-shingles)
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Boolean]("is_leak")),
      "the fixture must exhibit real cross-split semantic leakage")
    out.unpersist()
  }

  test("q146: the unified repair closes BOTH the lexical and the semantic audit") {
    val d = Catalog.table(spark, sf, "documents")
    val repair = Dedup.q146.fn(spark, sf).cache()
    val fin = repair.select(col("doc_id"), col("final_split"))
    def crossAfter(pairs: DataFrame): Long = pairs
      .join(fin.withColumnRenamed("final_split", "sa"), Seq("doc_id"))
      .join(fin.select(col("doc_id").as("doc_b"), col("final_split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(crossAfter(Dedup.jaccardLshPairs(d, 0.5).select("doc_id", "doc_b")) === 0L,
      "unified repair must close every lexical cross-split pair")
    assert(crossAfter(Similarity.semanticStrongPairs(spark, sf)) === 0L,
      "unified repair must close every semantic cross-split pair")
    // the union's added value is non-vacuous: docs pulled in ONLY by the
    // semantic graph exist (a lexical-only repair would not govern them)
    assert(repair.filter(col("in_semantic") && !col("in_lexical")).count() > 0L)
    repair.unpersist()
  }

  test("q136: span-level containment agrees with q39's doc-level contamination flags") {
    val d = Catalog.table(spark, sf, "documents")
    val spanDocs = Dedup.contaminationSpans(
        d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
      .select(col("doc_id")).distinct()
    val q39Docs = Dedup.q39.fn(spark, sf).select(col("doc_id")).distinct()
    // q39 reports every doc sharing ANY shingle; the positional kernel
    // can only drop sub-3-token docs (none at this sf), never add docs
    assert(spanDocs.exceptAll(q39Docs).count() === 0L)
    assert(q39Docs.count() > 0L)
  }

  test("q152: wrap packs fill to exactly 2048 except the tail, conserve token mass, and wrapping chains") {
    val packs = ops.TextOps.q152.fn(spark, sf).collect()
    val nPacks = packs.length
    assert(packs.map(_.getAs[Long]("pack_id")).toSeq ===
      (0L until nPacks).toSeq, "pack ids must be dense from 0")
    // every pack except the last holds exactly the budget
    packs.dropRight(1).foreach { r =>
      assert(r.getAs[Long]("pack_tokens") === 2048L,
        s"non-tail pack underfilled: $r")
    }
    assert(packs.last.getAs[Long]("pack_tokens") <= 2048L)
    // conservation: pack fills sum to the corpus token mass (q56's input)
    val totalToks = Catalog.table(spark, sf, "documents")
      .select(ops.TextOps.tokenCount(col("text")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(packs.map(_.getAs[Long]("pack_tokens")).sum === totalToks)
    // wrapping chains: exactly one doc covers any pack boundary token,
    // so a pack can wrap in AT MOST one doc (at any doc length), and
    // when it does, that doc is the previous pack's tail doc
    packs.foreach { r =>
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("n_starting") + r.getAs[Long]("n_wrapped_in"))
      assert(r.getAs[Long]("n_wrapped_in") <= 1L,
        "only the boundary-covering doc can wrap into a pack")
    }
    packs.sliding(2).foreach {
      case Array(a, b) if b.getAs[Long]("n_wrapped_in") === 1L =>
        assert(b.getAs[Long]("first_doc") === a.getAs[Long]("last_doc"),
          "the wrapped-in doc must be the previous pack's tail doc")
      case _ => ()
    }
  }
}
