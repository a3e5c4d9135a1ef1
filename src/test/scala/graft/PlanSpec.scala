package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan invariants — the "is this the plan you'd want at 100 TB"
  * checks, kept as specs so a regression in plan shape fails CI, not just
  * a manual `graft.PlanDump` of the query.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val p = plan("q_rel_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(800))
  }

  test("pricing summary prunes to only the needed lineitem columns") {
    val p = plan("q_rel_pricing_summary")
    // plan toString may truncate ReadSchema; the scan's output column list
    // is the same pruning evidence
    val readSchema = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"scan reads more than needed: $readSchema")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
  }

  test("dimension joins broadcast, never sort-merge, in q_rel_top_revenue") {
    val p = plan("q_rel_top_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), "a dim join fell back to SMJ")
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q_rel_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(!p.contains("Sort "), "global sort snuck into a limit query")
  }

  test("aggregations split into partial + final HashAggregate") {
    val p = plan("q_card_day")
    assert(p.contains("partial_count"), p.take(800))
  }

  test("salted join runs as ShuffledHashJoin, not broadcast") {
    val p = plan("q_skew_salted_join")
    assert(p.contains("ShuffledHashJoin"), p.take(500))
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("vocab builder plans as TakeOrderedAndProject over partial+final agg") {
    val p = plan("q_text_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(p.contains("partial_count"), p.take(800))
  }

  test("systematic sample scan reads only the projected columns") {
    val p = plan("q_sample_systematic")
    val readSchema = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("text"), s"sample scan reads the text payload: $readSchema")
  }

  test("cross-corpus dedup keeps the bloom pre-filter ahead of the anti-join") {
    val p = plan("q_dedup_cross_corpus")
    assert(p.contains("might_contain"), "bloom pre-filter dropped out of the plan")
    assert(p.contains("LeftAnti"), p.take(500))
  }

  test("cluster-increment and pipeline-increment plans have no pair explosion") {
    // the decision-layer increments must stay keyed joins + the star
    // alternation — a cartesian or BNLJ anywhere means the touched-subgraph
    // restriction regressed to corpus-grain work
    for (q <- Seq("q_dedup_cluster_inc", "q_dedup_pipeline_inc")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs BNLJ in $q")
    }
  }

  test("semantic dedup tiers stay cid-keyed: no cartesian, no all-pairs BNLJ") {
    // the intra-cluster matrix is quadratic ONLY per cell and must reach
    // the executor as a keyed join on cid; the increment's probe must stay
    // a keyed/broadcast join — a cartesian or BNLJ anywhere means the
    // cell restriction fell out of the plan
    for (q <- Seq("q_dedup_semantic_lit", "q_dedup_semantic_inc")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"cartesian product in $q")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs BNLJ in $q")
    }
  }

  test("index-backed leak split never re-hashes the corpus (no md5, no text scan)") {
    // round-13 verdict task 4: the idx path answers from the persisted
    // cluster labels AND the persisted exact-dup edges — md5(text) in its
    // plan means it regressed to re-fingerprinting the corpus per split
    val p = plan("q_sample_leak_split_idx")
    assert(!p.contains("md5("), "idx split path re-hashes the corpus")
    val readSchemas = "FileScan parquet \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.forall(!_.contains("text")),
      s"idx split path reads the text payload: $readSchemas")
  }

  test("shard layout is one hash exchange, never a global sort") {
    // the permutation is per-shard by construction: a rangepartitioning
    // exchange (global sort) in the plan means the window lost its
    // partition key and the whole corpus funnels through one ordering
    val p = plan("q_sample_shard_layout")
    assert(!p.contains("rangepartitioning"), "global sort in shard layout")
    assert(p.contains("hashpartitioning"), "expected per-shard hash exchange")
  }

  test("embedding near-dup has no all-pairs join (LSH-bucketed candidates)") {
    val p = plan("q_dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin"), "all-pairs BNLJ in the plan")
    assert(!p.contains("CartesianProduct"), "cartesian product in the plan")
  }

  test("sequence packing's running sum is a PARTITIONED window (per-shard)") {
    val p = plan("q_text_seq_pack")
    // windowspecdefinition(shard, ...) = partition spec present; an empty
    // partitionBy would read "windowspecdefinition(doc_id ASC..." only and
    // move the whole corpus through one task
    assert(p.contains("windowspecdefinition(shard"), p.take(900))
  }

  test("tf-idf top-k uses WindowGroupLimit (partial top-k, no full sort of all terms)") {
    val p = plan("q_text_tfidf")
    assert(p.contains("WindowGroupLimit"), p.take(900))
  }

  test("PII scrub is map-only: no exchange anywhere in the plan") {
    val p = plan("q_text_pii_scrub")
    assert(!p.contains("Exchange"), "a shuffle appeared in a projection-only scrub")
  }

  test("exact-K sample plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q_sample_exact_k")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("domain cap ranks inside a PARTITIONED window (per-source)") {
    val p = plan("q_sample_domain_cap")
    assert(p.contains("windowspecdefinition(source"), p.take(900))
  }

  test("int8 quantization is map-only: no exchange, no join") {
    val p = plan("q_emb_quantize_int8")
    assert(!p.contains("Exchange"), "quantization shuffled per-row arithmetic")
    assert(!p.contains("Join"), "scale join-back crept in")
  }

  test("length outliers broadcast the per-source stats over a pruned scan") {
    val p = plan("q_text_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    val readSchema = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!readSchema.contains("text"), s"outlier scan reads the text payload: $readSchema")
  }

  test("correlated-average subquery broadcasts the part dim, never a cartesian") {
    val p = plan("q_rel_avg_subquery")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("span-dup stats combine the distinct map-side before any exchange") {
    val p = plan("q_dedup_spans")
    // the (doc_id, span_h) distinct must plan as partial+final HashAggregate
    // around its exchange — shuffling raw span rows without map-side
    // combining moves the whole span stream uncompacted
    assert(p.contains("partial_count"), p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("hot-path scalar queries execute inside WholeStageCodegen") {
    // the custom DotProduct expression and the quantization arithmetic
    // must stay codegen'd — a CodegenFallback in these map-only plans
    // would silently interpret the vector hot path row-by-row
    // `*(n)` prefixes in the executedPlan string are the codegen-stage
    // markers (the literal WholeStageCodegenExec node only prints in
    // formatted mode)
    for (q <- Seq("q_emb_quantize_int8", "q_emb_jl_project", "q_rel_scalar_funcs")) {
      val p = plan(q)
      assert(p.contains("*("), s"$q fell out of codegen: ${p.take(400)}")
    }
  }

  test("PQ ADC scan joins the broadcast LUT and sums integers, no vector re-read") {
    val p = plan("q_emb_pq_adc")
    // the per-query lookup table broadcasts; the candidate scoring is one
    // integer partial+final aggregation over the codes join
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("curation pipeline stays one plan with no pair explosion or global window") {
    val p = plan("q_pipeline_curation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the budget window is PARTITIONED by source (a Window over an empty
    // partition spec would be the global-straggler anti-pattern)
    assert(p.contains("windowspecdefinition(source"), p.take(1200))
  }

  test("multi-scale substring stats keep the span-dedup plan shape at every scale") {
    val p = plan("q_dedup_substrings")
    // same invariants as q_dedup_spans: map-side combine before the span
    // exchange, and no pair explosion anywhere — the extra scales ride the
    // same flatMap, they must not change the plan family
    assert(p.contains("partial_count"), p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("full-gate curation keeps the curation plan shape on the augmented corpus") {
    val p = plan("q_pipeline_curation_full")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("windowspecdefinition(source"), p.take(1200))
  }

  test("IVF-PQ: codes join the broadcast LUT, integer-sum, and never sort-merge") {
    val p = plan("q_sim_ann_ivf_pq")
    // the ADC scan must be codes ⋈ broadcast(LUT) + one integer partial+final
    // agg; the residual encode is map-only so NOTHING in the plan may
    // shuffle the embedding table for a join
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(p.contains("partial_sum"), p.take(900))
    assert(!p.contains("SortMergeJoin"), "a join over the codes/corpus fell back to SMJ")
    assert(!p.contains("CartesianProduct"))
    // the ONE tolerated nested-loop join is the query×centroid probe
    // (5 × nCentroids rows, both sides broadcast-tiny); more than one means
    // a real table picked up a non-equi join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj) in the IVF-PQ plan")
  }

  test("contamination final plan joins tiny checkpointed aggregates, no pair explosion") {
    // the per-doc hits/sizes aggregates are materialized via localCheckpoint
    // (so the big postings cache can be released) — the final plan reads
    // them as ExistingRDD scans and must stay free of any all-pairs join
    val p = plan("q_dedup_contamination")
    assert(p.contains("Scan ExistingRDD"), p.take(900))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("quality-classifier scoring joins the vocab broadcast; weights ride as a literal") {
    // the vocab→bucket table broadcasts under the 2M convention (a gate
    // corpus is far inside it), the weight array is element_at on a plan
    // literal (never a join), and nothing falls back to SMJ or a
    // nested-loop join
    val p = plan("q_text_quality_lr_lit")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("element_at"), "weights should ride the plan as a literal array")
  }

  test("DSIR resample plans as TakeOrderedAndProject; micro-weights ride as a literal") {
    // the Gumbel top-k must be per-partition top-k + k-row driver merge
    // (never a global sort of the corpus), and the bucket→micro-weight
    // table is element_at on a plan literal, never a join
    val p = plan("q_sel_dsir_gumbel")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(!p.contains("Sort "), "global sort snuck into the resample")
    assert(p.contains("element_at"), "DSIR weights should ride the plan as a literal array")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("stupid-backoff scoring joins model tables via broadcast, no SMJ/pair explosion") {
    // both model joins (bigram, unigram) ride the 2M broadcast convention
    // on the gate corpus; the only nested-loop joins are the two 1-row
    // total-count broadcasts (the unigramLogProb discipline)
    val p = plan("q_sel_lm_sbackoff")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
    // the ONE tolerated sort-merge join is the trailing doc-grain totality
    // left join (docs ⟕ per-doc aggregate — the aggregate side is already
    // hash-partitioned on doc_id, so only the thin id column shuffles);
    // a second SMJ would mean a MODEL join fell out of broadcast
    val smj = "SortMergeJoin".r.findAllIn(p).size
    assert(smj <= 1, s"a model join fell back to SMJ ($smj)")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 2, s"unexpected nested-loop joins ($bnlj): only the 1-row totals may BNLJ")
  }

  test("chunking is map-only: no exchange anywhere in the plan") {
    val p = plan("q_text_chunks")
    assert(!p.contains("Exchange"), "chunking must not shuffle at any scale")
    assert(p.contains("Generate"), p.take(400))
  }

  test("selection-rung curation restricts the pool via a broadcast semi-join, no explosion") {
    // the k-row DSIR resample must reach the corpus as TakeOrderedAndProject
    // feeding a BroadcastHashJoin — never a shuffled join of the corpus
    // against the pool, and never any pair explosion
    val p = plan("q_pipeline_curation_select")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("attrition attribution stays one curation-shaped pass: no cartesian, windowed budget") {
    val p = plan("q_pipeline_attrition")
    assert(p.contains("Window"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }
}
