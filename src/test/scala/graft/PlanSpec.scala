package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the physical-plan properties that make
  * these queries scale (predicate pushdown into the parquet scan,
  * broadcast of bounded dimensions, no accidental nested-loop joins) are
  * pinned so a refactor that silently loses them fails `sbt test` instead
  * of a 100 TB run.
  */
class PlanSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q01: shipdate filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter must reach the scan:\n$p")
  }

  test("q01: scan is pruned to the seven referenced columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), s"unused columns must be pruned: $readSchema")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_returnflag"))
  }

  test("q14: bounded dimensions join via broadcast, not shuffle") {
    val p = plan("q14_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
  }

  test("q18: binned range join plans as equi-join, never a nested loop") {
    val p = plan("q18_range_join_recent_errors")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$p")
  }

  test("q135: leak audit keeps LSH blocking — equi-joins only, no nested loop") {
    val p = plan("q135_split_leakage")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"leakage audit must stay candidate-blocked:\n$p")
  }

  test("q136: benchmark shingle set broadcasts; no nested loop") {
    val p = plan("q136_contamination_spans")
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span match must stay an equi-join:\n$p")
  }

  test("q137: scrub hit-matching broadcasts the benchmark set; no nested loop") {
    val p = plan("q137_span_scrub")
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"scrub must stay hash-join blocked:\n$p")
  }

  test("q229: the compliance ledger reads ONLY the audit artifacts — zero corpus or store-data scans") {
    val p = plan("q229_compliance_ledger")
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.nonEmpty, s"the audit stores must be scanned:\n$p")
    assert(located.forall(l => l.contains("forget_markers") ||
      l.contains("expiry_audit")),
      "every scan must hit an audit artifact, never corpus text or " +
        s"store data:\n${located.mkString("\n")}")
    assert(!p.contains("documents.parquet") && !p.contains("/deltas"),
      s"the ledger must never re-read the corpus or the cell store:\n$p")
  }

  test("q234: the point-in-time ledger serve reads ONE snapshot partition — zero audit-root, corpus, or cell-store scans") {
    val p = plan("q234_ledger_snapshot")
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.nonEmpty, s"the snapshot store must be scanned:\n$p")
    assert(located.forall(l => l.contains("snapshots") &&
      l.contains("batch_id=0")),
      "the as-of serve must read exactly the one snapshot partition:\n" +
        located.mkString("\n"))
    assert(!p.contains("documents.parquet") && !p.contains("/deltas") &&
      !p.contains("forget_markers") && !p.contains("expiry_audit"),
      s"the snapshot serve must not recompute from the audit roots:\n$p")
  }

  test("q227/q228: amended curation serves off the stores alone — the window election reads the two window stores, the materialized family reads its decisions store") {
    val p227 = plan("q227_amend_curation_window")
    val loc227 = p227.linesIterator.filter(_.contains("Location:")).toSeq
    assert(loc227.nonEmpty && loc227.forall(_.contains("graft_cur_amend_ttl")),
      s"the window election must read only the window-mode stores:\n${loc227.mkString("\n")}")
    assert(!p227.contains("documents.parquet"),
      s"serving an amended window must never re-read the corpus:\n$p227")
    val p228 = plan("q228_amend_curation")
    val loc228 = p228.linesIterator.filter(_.contains("Location:")).toSeq
    val amendRoot = graft.ops.ForgetOps.buildCurationAmendStore(spark, sf)
    assert(loc228.nonEmpty &&
      loc228.forall(l => l.contains(amendRoot) && l.contains("decisions")),
      s"the amended family must serve as a pure decisions-store read:\n${loc228.mkString("\n")}")
    assert(!p228.contains("documents.parquet"), p228)
  }

  test("q235/q236: erasure-respecting amendments serve off the stores — the commuted LM serve reads its delta store, the banded family its decisions store") {
    val p235 = plan("q235_amend_respects_erasure")
    val loc235 = p235.linesIterator.filter(_.contains("Location:")).toSeq
    assert(loc235.exists(_.contains("graft_lm_commute")),
      s"the commuted serve must fold the amended LM store:\n${loc235.mkString("\n")}")
    assert(!p235.contains("amend_audit") && !p235.contains("forget_markers"),
      s"serving never reads the audit roots:\n$p235")
    val p236 = plan("q236_amend_banded_curation")
    val loc236 = p236.linesIterator.filter(_.contains("Location:")).toSeq
    assert(loc236.nonEmpty &&
      loc236.forall(l => l.contains("graft_cur_bandamend") &&
        l.contains("decisions")),
      s"the banded amended family must serve as a pure decisions-store " +
        s"read:\n${loc236.mkString("\n")}")
    assert(!p236.contains("documents.parquet"), p236)
  }

  test("q141: scrub report reads ONLY the scrub store — zero document scans") {
    val p = plan("q141_scrub_report")
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.nonEmpty, s"the store must be scanned:\n$p")
    assert(located.forall(_.contains("graft_scrub_store")),
      s"every scan must hit the scrub store, not corpus text:\n${located.mkString("\n")}")
    assert(!p.contains("documents.parquet"),
      s"the report must never re-read documents:\n$p")
  }

  test("q143: release delta report reads ONLY the two release stores") {
    val p = plan("q143_release_delta_served")
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.nonEmpty, s"the stores must be scanned:\n$p")
    assert(located.forall(_.contains("graft_scrub_release")),
      s"every scan must hit a release store:\n${located.mkString("\n")}")
    assert(!p.contains("documents.parquet"),
      s"rotation must be a pure store operation:\n$p")
  }

  test("q144: artifact manifest scans only artifacts, never documents") {
    val p = plan("q144_artifact_manifest")
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.nonEmpty, s"the artifacts must be scanned:\n$p")
    assert(located.forall(l => l.contains("graft_bench_shingles") ||
      l.contains("graft_scrub_store") || l.contains("graft_scrub_release") ||
      l.contains("graft_shingle_index")),
      s"every scan must hit a scrub-family artifact:\n${located.mkString("\n")}")
    assert(!p.contains("documents.parquet"),
      s"the manifest must never re-read documents:\n$p")
  }

  test("q185: containment verdicts are served off the shingle-index artifact") {
    val p = plan("q185_containment_served")
    assert(p.contains("graft_shingle_index"),
      s"pairs must come from the index store:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"serving must not unroll corpus text — only the doc_id spine may be read:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment must stay index-blocked:\n$p")
  }

  test("q198: release-pinned containment reads only the delta store and the doc_id spine") {
    val p = plan("q198_containment_release")
    assert(p.contains("graft_shingle_deltas"),
      s"pairs must come from the release-delta store:\n$p")
    assert(!p.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"serving must not unroll corpus text:\n$p")
    // the pin is PARTITION PRUNING, not a post-scan filter — the
    // serving-cost-follows-the-slice law depends on it
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("batch_id")),
      s"the release pin must prune batch_id partitions at the scan:\n$p")
  }

  test("q186: cross-modal composition stays equi-join blocked in all three modalities") {
    val p = plan("q186_crossmodal_curation")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"every modality must candidate-block:\n$p")
  }

  test("q187-q195: the graph/privacy/tokenizer family stays candidate-blocked — no cartesian products") {
    Seq("q187_dupweighted_mixture", "q188_clusteraware_split",
        "q190_contamination_radius", "q191_tokenizer_fertility",
        "q193_duplication_profile", "q195_code_switching").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join:\n$p")
    }
    // q194's ground-truth and candidate joins are pure equi-joins
    val p194 = plan("q194_lsh_recall_monitor")
    assert(!p194.contains("CartesianProduct") &&
      !p194.contains("BroadcastNestedLoopJoin"),
      s"q194 must stay hash-blocked:\n$p194")
  }

  test("q145: semantic leak pairs stay cluster-blocked — equi-joins only") {
    val p = plan("q145_semantic_leakage")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"semantic audit must stay cluster-blocked:\n$p")
  }

  test("q147: scrubbed packing keeps the distributed prefix sum — no single-partition exchange") {
    val p = plan("q147_scrubbed_packing")
    assert(!p.contains("SinglePartition"),
      s"global-window exchange crept into the scrubbed packing:\n$p")
  }

  test("q148: epoch order windows stay shard-partitioned — no single-partition exchange") {
    val p = plan("q148_epoch_shuffle")
    assert(!p.contains("SinglePartition"),
      s"epoch shuffle must never globally sort through one task:\n$p")
    assert(p.contains("row_number"), s"per-shard ranking must stay a window:\n$p")
  }

  test("q149: grouped rank runs bucket-partitioned — no per-source single task") {
    val p = plan("q149_mixture_interleave")
    assert(!p.contains("SinglePartition"),
      s"interleave rank must never serialize through one task:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"running count must partition by (source, _bucket):\n$p")
    assert(p.contains("_bucket"),
      s"grouped prefix must keep the range-bucket split:\n$p")
  }

  test("q157: renormalized interleave keeps the grouped rank bucket-partitioned and broadcasts the segment table") {
    val p = plan("q157_renorm_interleave")
    assert(!p.contains("SinglePartition"),
      s"renormalizing schedule must never serialize through one task:\n$p")
    assert(p.contains("_bucket"),
      s"grouped prefix must keep the range-bucket split:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the (segment x source) table must broadcast, never shuffle the corpus:\n$p")
  }

  test("q159: budget cut over the renormalized order keeps balanced slot-range buckets — no global-sort window") {
    val p = plan("q159_renorm_budget_resume")
    assert(!p.contains("SinglePartition"),
      s"cumulative consumption must ride bucketed running totals:\n$p")
  }

  test("q161: the loader chain never plans a single-partition exchange end to end") {
    val p = plan("q161_recipe_loader_chain")
    assert(!p.contains("SinglePartition"),
      s"recipe -> schedule -> packs must stay distributed at every stage:\n$p")
    assert(p.contains("Generate"),
      s"copy and pack materialization must be in-row explodes:\n$p")
  }

  test("q164: the importance-apply pass is joinless — the ratio table is a literal map") {
    val p = plan("q164_targeted_selection")
    assert(!p.contains("Join"),
      s"scoring must fold in-row against the broadcast-free literal table:\n$p")
  }

  test("q167: the post-selection recipe never shuffles a join — folds and one bounded broadcast only") {
    val p = plan("q167_selected_recipe")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"scored rollup + |sources|-row recipe must not shuffle any join:\n$p")
  }

  test("q168: the selected loader chain stays distributed — no single-partition exchange, in-row explodes") {
    val p = plan("q168_selected_loader_chain")
    assert(!p.contains("SinglePartition"),
      s"select -> recipe -> schedule -> packs must stay distributed:\n$p")
    assert(p.contains("Generate"),
      s"copy and pack materialization must be in-row explodes:\n$p")
  }

  test("q169: both release scores fold joinless against literal tables") {
    val p = plan("q169_selection_release_delta")
    assert(!p.contains("Join"),
      s"rotation rescoring must stay a map-side fold:\n$p")
  }

  test("q150: the global total-order rank never plans a single-partition sort") {
    val p = plan("q150_curriculum_order")
    assert(!p.contains("SinglePartition"),
      s"globalRank must replace the ROW_NUMBER-over-everything plan:\n$p")
    assert(p.contains("row_number"), s"per-bucket ranking must stay a window:\n$p")
  }

  test("q95: the budget prefix runs bucket-partitioned, never one window task per source") {
    val p = plan("q95_token_budget")
    assert(p.contains("_bucket"),
      s"per-source running total must ride the grouped two-pass prefix:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"source totals must broadcast back, not window over whole sources:\n$p")
  }

  test("q151/q153: plan-manifest and pack-order plans never serialize through one task") {
    Seq("q151_curriculum_manifest", "q153_pack_epoch_order",
        "q156_budget_resume").foreach { n =>
      val p = plan(n)
      assert(!p.contains("SinglePartition"),
        s"$n must keep every stage bucket/shard-partitioned:\n$p")
    }
  }

  test("q152: wrap packing keeps the distributed prefix sum and in-row span explode") {
    val p = plan("q152_wrap_packing")
    assert(!p.contains("SinglePartition"),
      s"global-window exchange crept into the wrap packing:\n$p")
    assert(p.contains("Generate") && p.contains("explode"),
      s"span fan-out must stay an in-row explode, not a join:\n$p")
  }

  test("q33: shingle blocking plans as equi-join, never a nested loop") {
    val p = plan("q33_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"jaccard blocking must stay an equi-join:\n$p")
  }

  test("date-partitioned layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_part") + "/events"
    Catalog.table(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("day") === "2024-01-05")
    val p = read.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters") && p.contains("2024-01-05"),
      s"day filter must prune partitions:\n$p")
    // and the pruned read returns exactly that day's rows
    val expect = Catalog.table(spark, sf, "events")
      .filter(to_date(col("ts")) === "2024-01-05").count()
    assert(read.count() === expect)
  }

  test("q15: bitmap aggregate runs partial+final (map-side combine)") {
    val p = plan("q15_bitmap_distinct")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"TypedImperativeAggregate must plan partial+final:\n$p")
  }

  test("q77: per-group sample aggregates k-bounded buffers partial+final, no window sort") {
    val p = plan("q77_group_sample")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"TopKMin must plan map-side partial + final aggregation:\n$p")
    assert(!p.toLowerCase.contains("window"),
      s"the window sort-and-discard form crept back into q77:\n$p")
  }

  test("q56: sequence packing never plans a single-partition exchange") {
    // the prefix sum must run as a bucket-partitioned window, not a global
    // Window.orderBy (whose plan is `Exchange SinglePartition` — the whole
    // corpus through one task)
    val p = plan("q56_pack_sequences")
    assert(!p.contains("SinglePartition"),
      s"global-window exchange crept back into the prefix sum:\n$p")
    assert(p.contains("hashpartitioning(_bucket"),
      s"running sum must partition by the prefix-sum bucket:\n$p")
  }

  test("q56: tokenization runs once — the prefix-sum passes read a materialized frame") {
    // PrefixSum makes three passes (bounds, bucket totals, window); before
    // the input checkpoint each pass re-ran the regexp tokenization from the
    // parquet scan (measured 3x its cost). The materialized (doc_id,
    // n_tokens) frame means the final plan holds NO documents scan at all.
    val p = plan("q56_pack_sequences")
    assert(!p.contains("documents.parquet"),
      s"prefix-sum input must be materialized once, not re-tokenized per pass:\n$p")
  }

  test("q40: orders and lineitem are each scanned exactly once") {
    val p = plan("q40_dq_summary")
    assert("orders\\.parquet".r.findAllIn(p).size == 1,
      s"the three orders-side checks must share one scan:\n$p")
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1,
      s"lineitem must be scanned once:\n$p")
  }

  test("q27: median selection never plans a global single-partition sort") {
    // at sf0.001 the scale-adaptive SMALL path runs (one repartition-by-
    // group sort-scan, no window, no single-partition exchange); the
    // bucket-filtered histogram path is property-pinned bit-equal in
    // ScaleKernelPropSpec (smallMaxRows = 0 forces it) and takes over at
    // corpus scale per the §8 crossover probe
    val p = plan("q27_exact_median")
    assert(!p.contains("Window"),
      s"the small path selects by sort-scan, not a window rank:\n$p")
    assert(!p.contains("Exchange SinglePartition") || p.contains("mapPartitions"),
      s"no global serial sort anywhere in median selection:\n$p")
  }

  test("q68: chunking is per-row — only the final sort exchanges data") {
    val p = plan("q68_chunk_documents")
    // q68 has NO spread call site (Corpus-wide spread was tried and
    // reverted in r13); its one allowed exchange is the range
    // partitioning for the output ORDER BY. The chunking itself never
    // moves data by KEY — no hash-partitioned shuffle anywhere.
    // (r14: pin restored to 1 — the r13 relaxation to 2 cited a spread
    // exchange that does not exist in this plan.)
    assert(!p.contains("hashpartitioning"),
      s"chunking must not shuffle by key:\n$p")
    val nEx = "Exchange \\(".r.findAllIn(p).length // tree nodes only, not the detail section
    assert(nEx <= 1, s"chunking plans only the output sort ($nEx exchanges):\n$p")
  }

  test("q67: pair counting is one hash aggregate, top-k without a global sort") {
    val p = plan("q67_bpe_merge_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit+order must plan as TakeOrdered, not a full sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairs must come from in-row transform, not a join:\n$p")
  }

  test("q80: concurrency sweep never plans a single-partition exchange") {
    val p = plan("q80_session_concurrency")
    assert(!p.contains("Exchange SinglePartition"),
      s"the sweep's running sum must go through PrefixSum, not a global window:\n$p")
  }

  test("q70: centroid table broadcasts back to the vector scan") {
    val p = plan("q70_label_centroid_quality")
    assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q101: the corpus is tokenized once — count/score consumers read the materialized bigrams") {
    val p = plan("q101_bigram_lm")
    // three consumers (bigram counts, prefix counts, scoring join) share one
    // checkpointed explode; only the final doc_id left join reads parquet
    // formatted mode prints each node twice (tree line + detail header)
    val scans = p.linesIterator.count(l => l.contains("Scan parquet")) / 2
    assert(scans <= 1, s"bigram explode must not re-run per consumer ($scans parquet scans):\n$p")
    assert(!p.contains("Generate"), s"no re-tokenization in the final plan:\n$p")
  }

  test("q170: the per-source tertile rank runs bucket-partitioned — no per-source single task") {
    val p = plan("q170_fluency_buckets")
    assert(!p.contains("SinglePartition"),
      s"fluency bucketing must never serialize a source through one task:\n$p")
    assert(p.contains("_bucket"),
      s"grouped rank must keep the score-axis bucket split:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source counts must broadcast back:\n$p")
  }

  test("q171: CDC chunking shuffles only the chunk table — never the corpus per window") {
    val p = plan("q171_cdc_chunks")
    assert(!p.contains("SinglePartition"),
      s"chunk dedup must never serialize through one task:\n$p")
    assert(p.contains("hashpartitioning(fp"),
      s"the dup count must be one hash aggregate on chunk fp:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q97: PQ codebook broadcasts; encoding has no cartesian or nested loop") {
    val p = plan("q97_pq_encode")
    assert(p.contains("BroadcastHashJoin"), s"the M x K codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q98: hard negatives pair via bucket equi-join, never all-pairs") {
    val p = plan("q98_hard_negatives")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay bucket-blocked:\n$p")
  }

  test("q99: ADC lookup table and probe list broadcast to the code scan") {
    val p = plan("q99_ivf_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"LUT and probes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q104: learned-cluster dedup pairs via cluster equi-join, never all-pairs") {
    val p = plan("q104_semdedup_learned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing must stay an equi-join:\n$p")
  }

  test("q105: the 1-row merge winner broadcasts to the rewrite pass") {
    val p = plan("q105_bpe_merge_loop")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the winner row must broadcast (it is the crossJoin's only sane plan):\n$p")
    assert(p.contains("bpe_merge"), s"the fused kernel must survive optimization:\n$p")
  }

  test("q106: per-cell residual LUT joins broadcast to the code scan, no cartesian") {
    val p = plan("q106_ivfadc_residual")
    assert(p.contains("BroadcastHashJoin"),
      s"cell-keyed LUT and probe list must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q107: the trained encode is joinless — literal codebooks, in-row outputs") {
    val p = plan("q107_pq_train_round")
    // both encode passes carry their M×K codebook as plan literals and
    // every per-vector output (codes string, packed code, both errors)
    // folds in-row, so the final plan has NO join of any kind and no
    // per-vector aggregation — its only exchange is the output sort
    assert(!p.contains("Join"), s"the encode must not join anything:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"per-vector outputs must fold in-row, not aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q108: HLL registers build as partial+final hash aggregates, never an Expand") {
    val p = plan("q108_hll_distinct")
    assert(!p.contains("Expand"),
      s"the sketch path must not inherit COUNT(DISTINCT)'s expand:\n$p")
    assert(p.contains("partial_max"),
      s"register partials must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |types|-row estimate joins the exact twin by broadcast:\n$p")
  }

  test("q109: sketch merge is register-row aggregation only — no self-join of events") {
    val p = plan("q109_hll_merge")
    assert(!p.contains("SortMergeJoin"),
      s"every join input is register/group-count sized and must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q112: truncated-vs-full top-k selects via bounded aggregates, never a window sort") {
    val p = plan("q112_matryoshka_recall")
    assert(!p.contains("Window"),
      s"top-k must run as TopKMin partials, not a window over the pair stream:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopKMin must aggregate as partial+final object hash agg:\n$p")
  }

  test("q114: both retrieval stages select via bounded aggregates off one checkpointed pair frame") {
    val p = plan("q114_two_stage_retrieval")
    assert(!p.contains("Window"),
      s"shortlist and rerank must run as TopKMin partials, not windows:\n$p")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 0,
      s"all three consumers must read the checkpointed pairs:\n$p")
  }

  test("q110: one checkpointed distinct feeds sketch build and intersection; k-min partials are map-side") {
    val p = plan("q110_kmv_overlap")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 1, s"the distinct key frame must be computed once, saw $scans scans:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"KmvMin must aggregate as partial+final object hash agg:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q117: serving chain reads code/codebook artifacts and never re-encodes") {
    val p = plan("q117_trained_retrieval_chain")
    // the only parquet scans allowed are the four artifact tables (codes,
    // trained codebook, error sidecar, IVF centroids) — a re-encode would
    // need a fifth scan of embeddings plus an encode aggregate; probes and
    // the pair frame are checkpointed out of the plan. Count the detail
    // entries ("(NN) Scan parquet"), not tree lines — FormattedMode
    // prints every scan twice.
    val scans = p.linesIterator.count(l => l.trim.startsWith("(") && l.contains("Scan parquet"))
    assert(scans <= 4, s"only artifact tables may be scanned, saw $scans:\n$p")
    assert(!p.contains("Window"),
      s"all three top-k selections must run as TopKMin partials, not windows:\n$p")
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("BroadcastHashJoin"),
      s"the cell-keyed LUT must broadcast to the shortlist code join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q122: parameterized chain keeps q117's artifact-only scan shape under a different probe table") {
    val p = plan("q122_retrieval_chain_stratified")
    // the probe binding is an argument table (min vec_id per label), so it
    // adds ONE embeddings scan for the id aggregate; the chain itself must
    // still read only the four artifacts — same pins as q117.
    val scans = p.linesIterator.count(l => l.trim.startsWith("(") && l.contains("Scan parquet"))
    assert(scans <= 5, s"artifact tables + the probe-id scan only, saw $scans:\n$p")
    assert(!p.contains("Window"),
      s"top-k selections must stay TopKMin partials under any probe binding:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q123/q125: shard manifests are map + one rollup — no window, no join, no prefix pass") {
    Seq("q123_hash_shard_manifest", "q125_shard_membership").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Window"),
        s"$n must not run a window (fixed ranges need no prefix sum):\n$p")
      assert(!p.contains("Join"),
        s"$n is a single-table map + aggregate:\n$p")
    }
  }

  test("q124: keep-earliest candidates are an equi-join on band keys, verdicts one aggregate") {
    val p = plan("q124_lsh_keep_earliest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the candidate join must stay an equi-join on (band_idx, band_hash):\n$p")
    assert(!p.contains("Window"),
      s"verdicts are a per-doc hash aggregate, not a window:\n$p")
  }

  test("q121: repetition signals are a pure map — the only exchange is the final sort") {
    val p = plan("q121_repetition_signals")
    // one range exchange for ORDER BY + the Catalog.spread round-robin
    // (r13 — no-op on real multi-split inputs); never a key shuffle
    assert(!p.contains("hashpartitioning"),
      s"intra-doc metrics must not shuffle by key:\n$p")
    val nEx = "Exchange \\(".r.findAllIn(p).length
    assert(nEx <= 2, s"intra-doc metrics plan only the spread + the output sort ($nEx exchanges):\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"no groupBy/join may appear — the gram counting folds in-row:\n$p")
  }

  test("q128: one corpus scan feeds both snapshots; the sweep itself reads no documents") {
    // the returned plan starts AFTER the checkpointed cell table — every
    // χ² consumer must read cells, never re-scan or re-tokenize documents
    val p = plan("q128_snapshot_pair_drift")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 0,
      s"the pair statistic must be cells-only arithmetic:\n$p")
    assert(!p.contains("regexp_extract_all"),
      s"tokenization must happen once, before the checkpoint:\n$p")
  }

  test("q131: the rolling sweep is cells algebra — zero document scans, no window") {
    val p = plan("q131_rolling_drift")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 0,
      s"all sweep steps must read the one checkpointed cell table:\n$p")
    assert(!p.contains("Window"), s"no window in the sweep:\n$p")
  }

  test("q130: occupancy drift's scan cost is the assignment; the statistic reads no vectors") {
    val p = plan("q130_embedding_occupancy_drift")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 0,
      s"the contingency must be built from checkpointed counts:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the totals join must broadcast, not cross:\n$p")
  }

  test("q133: quarantine analytics read ONLY the curation stores — zero document scans") {
    val p = plan("q133_quarantine_rates")
    val scanLines = p.linesIterator.filter(_.contains("Scan parquet")).toSeq
    assert(scanLines.nonEmpty, s"the stores must be scanned:\n$p")
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.forall(_.contains("graft_curation_stores")),
      s"every scan must hit the store family, not corpus text:\n${located.mkString("\n")}")
    assert(!p.contains("documents.parquet"),
      s"the report must never re-read documents:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source totals join is broadcast-sized:\n$p")
  }

  test("q134: curated packing reads only the accepted store and never serializes the prefix") {
    val p = plan("q134_curated_packing")
    // PrefixSum checkpoints the token frame, so the FINAL plan reads no
    // parquet at all — and in particular never raw documents; any store
    // scan that does surface must be the curation family
    val located = p.linesIterator.filter(_.contains("Location:")).toSeq
    assert(located.forall(_.contains("graft_curation_stores")),
      s"only the accepted store may be scanned:\n${located.mkString("\n")}")
    assert(!p.contains("documents.parquet"), s"zero raw-document scans:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"the running total must stay the distributed PrefixSum, not a global window:\n$p")
  }

  test("q120: shingle df is distinct-then-count hash aggregation, never an Expand") {
    val p = plan("q120_boilerplate_scrub")
    assert(!p.contains("Expand"),
      s"the df count must run as distinct + hash agg on the shingle hash, not COUNT(DISTINCT)'s expand:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every join (df filter, coverage anti-join, per-doc rollups) is a hash equi-join:\n$p")
  }

  test("q174/q176: multimodal dedup candidates are band/code equi-joins, never all pairs") {
    Seq("q174_image_phash_dedup", "q176_audio_fingerprint_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidate generation must stay a (band/probe, hash) equi-join:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q must never serialize into one partition:\n$p")
    }
  }

  test("q177/q179: hashed-embedding top-k is TakeOrdered, never a global sort") {
    Seq("q177_hashed_embedding_knn", "q179_hashed_lsh_recall").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q's LIMIT must fuse into the sort (per-partition top-k + driver merge):\n$q\n$p")
    }
  }

  test("q178: diversity is two hash-aggregate rollups — no Expand, no single partition") {
    val p = plan("q178_embedding_diversity")
    assert(!p.contains("Expand"), s"per-dim sums must not expand:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"the (source, dim) rollup must stay partitioned:\n$p")
  }

  test("q180: bootstrap semantic dedup blocks on the LSH bucket — equi-join only") {
    val p = plan("q180_bootstrap_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay bucket-blocked:\n$p")
  }

  test("q181/q182: span islands ride per-document window partitions, never a global sort") {
    Seq("q181_duplicated_spans", "q182_span_scrub_plan").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q's gaps-and-islands must stay doc-partitioned:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q's duplication joins are hash equi-joins:\n$p")
    }
  }

  test("forget family serving plans: store reads only — no corpus text anywhere, the trend pinned by partition pruning") {
    // q201/q204: pure decision-store reads after the one-time build
    Seq("q201_forget_reelect", "q204_curation_amnesia").foreach { q =>
      val p = plan(q)
      assert(!p.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
        s"$q must serve off the mutated decision store, never corpus text:\n$p")
    }
    // q205: folded QI cells only
    val p205 = plan("q205_kanon_after_forget")
    assert(p205.contains("graft_kanon_forget"),
      s"q205 must fold the QI cell store:\n$p205")
    assert(!p205.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"q205 must not rescan the corpus:\n$p205")
    // q199: every landing evaluation is a partition-pruned store read +
    // the doc_id spine — no text unroll at any pin
    val p199 = plan("q199_containment_trend")
    assert(p199.contains("graft_shingle_deltas4"),
      s"q199 must serve off the trend delta store:\n$p199")
    assert(!p199.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"q199 must not unroll corpus text:\n$p199")
    assert(p199.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("batch_id")),
      s"q199's pins must prune batch_id partitions at the scan:\n$p199")
  }

  test("asset store: kind lands in PartitionFilters and payload pages are pruned off metadata reads") {
    graft.ops.Multimodal.buildAssetStore(spark, sf)
    // the decode queries scan ONE pruned kind partition, payload in schema
    Seq("q154_real_decode" -> "bmp2x1", "q155_real_audio_decode" -> "wav4")
      .foreach { case (q, kind) =>
        val p = plan(q)
        assert(p.linesIterator.exists(l =>
          l.contains("PartitionFilters") && l.contains(kind)),
          s"$q must prune the asset store to its kind partition:\n$p")
        assert(p.linesIterator.exists(l =>
          l.contains("ReadSchema") && l.contains("payload")),
          s"$q's decode stage must read the binary column:\n$p")
      }
    // q174's corpus-size count is a metadata read: its scan must NOT
    // carry the binary column (parquet column pruning — what keeps a
    // 100 TB asset table's audits from touching payload pages)
    val store = spark.read.parquet(
      graft.ops.Multimodal.buildAssetStore(spark, sf))
    val countPlan = store.filter(org.apache.spark.sql.functions.col("kind") === "grid_bmp")
      .groupBy("kind").count()
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!countPlan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("payload")),
      s"metadata reads must never deserialize payload pages:\n$countPlan")
    assert(countPlan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("grid_bmp")),
      s"kind predicates must be partition pruning:\n$countPlan")
  }

  test("round-10 erasure family serving plans: store/artifact reads only — no content re-scan beyond each query's declared contract") {
    // q206: every pinned trend evaluation reads the mutated index store +
    // the doc_id spine — no text unroll at any pin, same as q199
    val p206 = plan("q206_trend_forget")
    assert(p206.contains("graft_trend_forget"),
      s"q206 must serve off the forget-mutated trend store:\n$p206")
    assert(!p206.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"q206 must never unroll corpus text:\n$p206")
    // q207: a pure scrub-store read — no corpus text, no benchmark rebuild
    val p207 = plan("q207_scrub_forget")
    assert(!p207.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"q207 must serve off the mutated verdict store alone:\n$p207")
    // q208: a pure decisions-store read — the embeddings table is never
    // rescanned at serving time
    val p208 = plan("q208_semantic_forget")
    assert(!p208.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("embedding:")),
      s"q208 must serve off the mutated decision store, never raw vectors:\n$p208")
    // q211: store + doc_id spine only
    val p211 = plan("q211_cs_forget")
    assert(!p211.linesIterator.exists(l => l.contains("ReadSchema") && l.contains("text")),
      s"q211 must serve off the window-majority store alone:\n$p211")
    // q212: the absence audit is metadata-only — the payload binary
    // column must never appear in any ReadSchema (parquet column pruning
    // is what makes auditing a 100 TB asset table cheap)
    val p212 = plan("q212_asset_forget_audit")
    assert(!p212.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("payload")),
      s"q212's audit must never touch payload pages:\n$p212")
    // q213: the drift statistic is cell-store algebra — the erasure
    // landing pays the one assignment of the FORGOTTEN vectors, but
    // serving never rescans the embeddings table (the χ² kernel
    // checkpoints its cells, so pin the store read's own plan)
    val p213 = plan("q213_occupancy_forget")
    assert(!p213.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("embedding:")),
      s"q213 must serve off occupancy cells, never raw vectors:\n$p213")
    val (occDeltas, occCents) = graft.ops.ForgetOps.buildOccForgetStore(spark, sf)
    val pOcc = graft.streaming.EmbeddingStream.occupancyForSnapshot(spark,
      graft.streaming.EmbeddingStream.occupancyStore(occDeltas, occCents), 0L, "na")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(pOcc.contains("graft_occ_forget"),
      s"the occupancy serve must read the forget-mutated cell store:\n$pOcc")
    assert(pOcc.linesIterator.exists(l => l.contains("ReadSchema") &&
        l.contains("cluster") && !l.contains("embedding")),
      s"the occupancy serve reads (cluster, o) cells only:\n$pOcc")
  }

  test("q214: the pinned post-forget read is pure partition pruning — the split-range disjunction lands in PartitionFilters, no text, no post-scan batch_id filter") {
    val p = plan("q214_pinned_forget")
    assert(p.contains("graft_lmpin_forget"),
      s"q214 must serve off the split-forget LM store:\n$p")
    // the pin filter (positives <= pin, base, legacy range, split range
    // by decoded source batch) is a pure function of batch_id, so ALL of
    // it must prune partitions at the scan instead of filtering rows
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("batch_id") && l.contains("pmod")),
      s"the split-range decode must prune at the scan:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("batch_id")),
      s"batch_id is a partition column — it must never demote to a row filter:\n$p")
    // serving scores the pinned survivors: the corpus text read is the
    // SCORING frame's contract, but the store side reads cells only
    val store = p.linesIterator.filter(_.contains("graft_lmpin_forget")).mkString
    assert(!store.contains("text"),
      s"the LM store scan must read (w1, w2, c12) cells only:\n$p")
  }

  test("q218: the windowed containment serve is a store read — window bounds prune partitions, no corpus text beyond the doc_id spine") {
    val p = plan("q218_containment_window")
    assert(p.contains("graft_shingle_ttl"),
      s"q218 must serve off the retention-managed shingle index:\n$p")
    val store = p.linesIterator.filter(_.contains("graft_shingle_ttl")).mkString
    assert(!store.contains("text"),
      s"the index scan reads (h, doc_id) rows only:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("batch_id")),
      s"the window must prune batch_id partitions at the scan:\n$p")
  }

  test("q215: the retention window read is pure partition pruning — the window bounds and split-source decode land in PartitionFilters") {
    val p = plan("q215_retention_window")
    assert(p.contains("graft_lmttl"),
      s"q215 must serve off the retention-managed LM store:\n$p")
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("batch_id") && l.contains("pmod")),
      s"the windowed filter must prune partitions at the scan:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("batch_id")),
      s"batch_id is a partition column — never a row filter:\n$p")
  }

  test("q219: the epoch-banded window read is pure partition pruning — window bounds, split decode, and the epoch clause all land in PartitionFilters") {
    val p = plan("q219_epoch_window")
    assert(p.contains("graft_lmepoch"),
      s"q219 must serve off the epoch-banded LM store:\n$p")
    val scanLines = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scanLines.exists(l => l.contains("batch_id") && l.contains("pmod")),
      s"the windowed filter (split decode included) must prune at the scan:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("batch_id")),
      s"batch_id is a partition column — never a row filter:\n$p")
    val store = p.linesIterator.filter(_.contains("graft_lmepoch")).mkString
    assert(!store.contains("text"),
      s"the LM store scan must read (w1, w2, c12) cells only:\n$p")
  }

  test("q221: the landed asset store serves windowed metadata audits with batch pruning and zero payload pages; kind scans stay partition-pruned") {
    val p = plan("q221_asset_retention")
    assert(p.contains("graft_asset_ttl"),
      s"q221 must serve off the landed asset store:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("batch_id")),
      s"the retention window must prune landing partitions at the scan:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("payload")),
      s"the windowed audit must never deserialize payload pages:\n$p")
    // the dual axis keeps kind scans partition-pruned (the q212 scale
    // note's layout, realized): one family over the retained window
    // touches exactly (retained landings) x (one kind directory)
    val (store, _, _) = graft.ops.ForgetOps.buildAssetTtlStore(spark, sf)
    val kindPlan = spark.read.parquet(store)
      .filter(org.apache.spark.sql.functions.col("kind") === "wav4")
      .groupBy("kind").count()
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(kindPlan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("wav4")),
      s"kind predicates must stay partition pruning on the landed layout:\n$kindPlan")
    assert(!kindPlan.linesIterator.exists(l =>
        l.contains("ReadSchema") && l.contains("payload")),
      s"metadata reads must never deserialize payload pages:\n$kindPlan")
  }
}
