package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{array, posexplode}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Plan-shape assertions — the 100 TB design contract (SURVEY.md §4):
  * filters reach the parquet scan, dimension joins broadcast, top-k
  * per group uses the bounded WindowGroupLimit, metadata passes prune
  * unused columns, and hot paths stay inside WholeStageCodegen.
  */
class PlanShapeSpec extends AnyFunSuite with SparkFixture with Matchers
    with AdaptiveSparkPlanHelper {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("scan_filter_project pushes predicates into the parquet scan") {
    val plan = planOf("scan_filter_project")
    plan should include("PushedFilters: [")
    plan should include("GreaterThan(l_quantity")
  }

  test("predicates reach the parquet scan of a Tables frame") {
    val df = Tables.lineitem(spark, sfDir)
      .where("l_shipdate >= DATE '1994-01-01' AND l_quantity < 24")
    // the temp view behind the frame must not stop the filter; the
    // formatted plan prints the pushed filters unabbreviated
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pushed = plan.split("\n").filter(_.contains("PushedFilters")).toSeq
    pushed should have size 1
    pushed.head should include("GreaterThanOrEqual(l_shipdate,1994-01-01")
    pushed.head should include("LessThan(l_quantity,24")
  }

  test("tpch_q3 broadcasts the customer dimension") {
    planOf("tpch_q3") should include("BroadcastHashJoin")
  }

  test("tpch_q5 star join broadcasts all dimensions") {
    val plan = planOf("tpch_q5")
    plan should include("BroadcastHashJoin")
    // the only shuffle join permitted is lineitem⋈orders
    plan.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin") +
      plan.sliding("ShuffledHashJoin".length).count(_ == "ShuffledHashJoin") should be <= 1
  }

  test("window_topk_per_group uses WindowGroupLimit (bounded per-group state)") {
    planOf("window_topk_per_group") should include("WindowGroupLimit")
  }

  test("limit_topn compiles to TakeOrderedAndProject (no full sort)") {
    val plan = planOf("limit_topn")
    plan should include("TakeOrderedAndProject")
    // a sort under a limit is left to TakeOrderedAndProject by OnePartitionSort
    plan should not include "Coalesce"
  }

  test("metadata-only multimodal pass prunes the payload column") {
    val plan = planOf("mm_resize_meta")
    // payload derives from `text`; a metadata resize must not read it
    plan should include("ReadSchema")
    plan should not include "text"
  }

  test("tpch_q1 uses map-side partial aggregation before the shuffle") {
    val plan = planOf("tpch_q1")
    plan should include("partial_sum")
    // partial + final HashAggregate around one hash exchange
    plan.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 2
  }

  test("global sort uses range partitioning (distributed sort shape)") {
    // sort_multi's sf0.001 input is below OnePartitionSort's bound; the
    // distributed shape is the contract above it
    withDistributedSort {
      planOf("sort_multi") should include("rangepartitioning")
    }
  }

  /** The range exchanges of `plan`'s current physical plan, an AQE
    * plan's query stages included. */
  private def rangeExchanges(plan: SparkPlan): Int =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .count(_.isInstanceOf[RangePartitioning])

  /** Every global sort of `plan` sorts under `Coalesce 1`, and no
    * exchange range-partitions. */
  private def sortsInOnePartition(plan: SparkPlan): Unit = {
    val sortChildren = collect(plan) { case s: SortExec if s.global => s.child match {
      case InputAdapter(c) => c // the codegen boundary of an executed plan
      case c => c
    } }
    sortChildren should not be empty
    all(sortChildren) should matchPattern { case CoalesceExec(1, _) => }
    rangeExchanges(plan) shouldBe 0
  }

  test("a global sort below the one-partition bound sorts under Coalesce 1, no range exchange") {
    for (name <- Seq("sort_multi", "fn_string")) withClue(name) {
      sortsInOnePartition(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
    }
  }

  test("tpch_q1's AQE final plan has no range exchange") {
    val df = SparkEntry.queries("tpch_q1")(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString should include("isFinalPlan=true")
    sortsInOnePartition(df.queryExecution.executedPlan)
  }

  test("runtime statistics drop the range exchange that static estimates keep") {
    // scaled file sizes put the static estimate of q1's aggregate above
    // the bound; the runtime statistics of its shuffle stage are below
    withConf("spark.sql.sources.fileCompressionFactor", "1000") {
      val df = SparkEntry.queries("tpch_q1")(spark, sfDir)
      df.queryExecution.executedPlan.toString should include("rangepartitioning")
      df.collect()
      df.queryExecution.executedPlan.toString should include("isFinalPlan=true")
      sortsInOnePartition(df.queryExecution.executedPlan)
    }
  }

  test("a sort whose range exchange has already run keeps it") {
    // the static estimate keeps the range exchange, and its stage runs
    // first: its small runtime size must not re-plan the sort above it
    withConf("spark.sql.sources.fileCompressionFactor", "1000") {
      val df = SparkEntry.queries("sort_multi")(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      plan.toString should include("isFinalPlan=true")
      rangeExchanges(plan) shouldBe 1
      collect(plan) { case c: CoalesceExec => c } shouldBe empty
    }
  }

  test("a sort over rows Spark's size estimate does not bound keeps its range exchange") {
    val s = spark
    import s.implicits._
    val exploded = Tables.orders(spark, sfDir)
      .select($"o_orderkey", posexplode(array($"o_totalprice", $"o_custkey")))
      .orderBy($"o_orderkey", $"pos")
    exploded.queryExecution.executedPlan.toString should include("rangepartitioning")
    val flatMapped = spark.range(10).as[Long].flatMap(i => Seq.fill(3)(i)).orderBy($"value")
    flatMapped.queryExecution.executedPlan.toString should include("rangepartitioning")
  }

  test("full-corpus LSH dedup has no quadratic operator") {
    val plan = planOf("dedup_minhash_lsh_full")
    plan should not include "CartesianProduct"
    // the only nested-loop allowed is the final single-row × single-row
    // stat combine; clustering itself is hash-shuffle shaped (the
    // per-round propagation plan is asserted in ClusteringSpec)
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("boilerplate filter is equi-join shaped (no pairwise stage)") {
    val plan = planOf("pipeline_boilerplate_ngrams")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("learn_regressor trains as a distributed partial aggregate") {
    // the scale contract vs the reference's buffer-all-rows libsvm
    // train: the Gram-matrix buffer must combine map-side (partial
    // ObjectHashAggregate) before one exchange to the final aggregate
    val plan = planOf("ml_regressor")
    plan.sliding("ObjectHashAggregate".length)
      .count(_ == "ObjectHashAggregate") should be >= 2
    plan should include("partial_learn_regressor")
  }

  test("quality-classifier scoring is one broadcast over one corpus scan") {
    val plan = planOf("ml_quality_classifier")
    // train reduces to a single-row model; scoring must broadcast that
    // row, never shuffle or sort the corpus side against it
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("salted two-stage agg produces two aggregation levels") {
    val plan = planOf("agg_salted_twostage")
    plan.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 3
  }

  test("tpch_q6 projects only needed lineitem columns") {
    val plan = planOf("tpch_q6")
    plan should include("ReadSchema")
    plan should not include "l_orderkey"
  }

  test("bucketed hyperplane ANN joins on signature, never cartesian") {
    val plan = planOf("sim_ann_lsh_bucketed")
    plan should not include "CartesianProduct"
    // candidate generation must be a hash join on the signature with a
    // bounded top-k; the only nested-loop allowed is the final
    // single-row × single-row stat combine (IdentityBroadcastMode)
    plan should include("BroadcastHashJoin")
    plan should include("WindowGroupLimit")
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
    // the hyperplane matrix is a precomputed literal — r2 re-derived
    // every coefficient from xxhash64 inside the signature lambda
    plan.toLowerCase should not include "xxhash64"
  }

  test("join_theta aggregates instead of globally sorting fact-scale output") {
    val plan = planOf("join_theta")
    plan should include("HashAggregate")
    // the only sort allowed is the 16-row bucket ordering, which must
    // sit ABOVE the aggregate, not below it on the joined fact rows
    plan should include("partial_count")
  }

  test("full-corpus embedding near-dup clusters via bucket join, no pairs") {
    val plan = planOf("sim_embed_neardup_full")
    plan should not include "CartesianProduct"
    // single-row stat combine only, as above
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("spatial contains-join broadcasts polygons, never shuffles the fact side") {
    val plan = planOf("join_spatial_contains")
    // ST-predicate join against a broadcast build side — Presto's
    // SpatialJoinOperator regime for small-geometry × big-point
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
    // the only shuffle is the 6-group aggregate above a map-side
    // partial — the point table itself is never exchanged
    plan should include("partial_count")
  }

  test("spatial distance-join is a grid-cell hash join, never quadratic") {
    val plan = planOf("join_spatial_distance_grid")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("bm25 scoring never shuffle-joins the corpus: one broadcast of stats") {
    val plan = planOf("bm25_score")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
    // the only nested-loop join is the broadcast of the 1-row stats
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("LM scoring joins model tables by key, never quadratic") {
    val plan = planOf("lm_train_perplexity")
    plan should not include "CartesianProduct"
    // one 1-row vocab broadcast; bigram/unigram model joins are keyed
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("BPE tokenization broadcasts the vocabulary onto the word stream") {
    // application must be map-side: the (word -> symbol-count) vocab
    // broadcast-joins the exploded corpus words; the corpus is never
    // shuffled on the word key
    val plan = planOf("pipeline_bpe_tokenize")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("BPE encoding broadcasts the symbol vocabulary onto the word stream") {
    // same contract as tokenize (r15): the (word -> symbol-array)
    // vocab broadcast-joins the posexploded corpus words; reassembly
    // groups on the doc grain only, never a word-key shuffle
    val plan = planOf("pipeline_bpe_encode")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("PQ ANN broadcasts codebooks and ADC tables; corpus never shuffles on a vector key") {
    // every join in the PQ pipeline has a tiny build side (seeds M·K,
    // codebook M·K, per-query ADC table M·K·|q|) — all broadcast; the
    // only shuffles are the argmin windows and the (q_id, vec_id)
    // aggregation, both corpus-linear
    val plan = planOf("sim_ann_pq")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("SQ8 ANN: stats and query codes broadcast; corpus scanned once") {
    // the 1-row stats and the bounded query-code set are the only
    // build sides (broadcast); the corpus never shuffles on a vector
    // key. Three nested loops, all broadcast-tiny: the 1-row stats
    // crossJoin appears twice (the query branch re-derives the coded
    // frame) plus the query-batch broadcast — the sim_cosine_topk
    // brute-force precedent
    val plan = planOf("sim_ann_sq8")
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 3
  }

  test("stupid-backoff LM joins model tables by key, never quadratic") {
    // doc trigram stream LEFT JOINs five vocab-bounded model tables
    // by key; the only nested loop is the 1-row (N, V) broadcast
    val plan = planOf("lm_stupid_backoff")
    plan should not include "CartesianProduct"
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("fuzzy ed1 lookup equi-joins on the deletion-variant key") {
    // candidate generation is the variant-key equi-join; the exact
    // levenshtein runs only on candidates — never an all-pairs stage
    val plan = planOf("join_fuzzy_ed1")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("CCNet segment filter joins model tables by key, never quadratic") {
    // segmentation + segment-bigram explode are map-side; the model
    // joins are keyed; the only nested loop is the 1-row vocab
    // broadcast — same contract as lm_train_perplexity
    val plan = planOf("pipeline_ccnet_segment_filter")
    plan should not include "CartesianProduct"
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 1
  }

  test("KDB-partitioned distance join equi-joins on leaf id, never quadratic") {
    val plan = planOf("join_spatial_kdb")
    plan should not include "CartesianProduct"
    // the only nested-loop joins are the two broadcasts of the 1-row
    // learned tree; the big×big pairing itself is an equi-join on pid
    plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") should be <= 2
  }

  test("point codec is cancelled: KDB refine distance is plain arithmetic") {
    // PointCodecSimplification must strip every st_x/st_y-over-st_point
    // regex parse from the refine step (5.9 s -> 1.4 s at sf0.1);
    // without it the join filter regex-parses WKT per candidate pair
    val plan = planOf("join_spatial_kdb").toLowerCase
    plan should not include "regexp_extract"
  }

  test("gopher rules and PII scrub are map-side: no join, no aggregate") {
    // pure filter/transform stages — at 100 TB these must stay a
    // single pass over the corpus with no shuffle beyond output order
    for (q <- Seq("text_gopher_rules", "pipeline_pii_scrub")) {
      withClue(q) {
        val plan = planOf(q)
        plan should not include "Join"
        plan should not include "HashAggregate"
      }
    }
  }

  test("semdedup pairs only within a cluster: equi-join, no cartesian") {
    val plan = planOf("sim_semdedup")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("tpch_q9 broadcasts part/supplier/nation; shuffles only fact edges") {
    val plan = planOf("tpch_q9")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("partitioned source read prunes to the matching partition") {
    val plan = planOf("source_partitioned_pruning")
    plan should include("PartitionFilters: [")
    plan should include("o_orderstatus")
  }

  test("tpch_q2 min-cost supplier via window, no partsupp self-join") {
    val plan = planOf("tpch_q2")
    plan should include("Window")
    plan should not include "CartesianProduct"
  }

  test("correlated-subquery TPC-H shapes decorrelate to hash joins") {
    for (q <- Seq("tpch_q4", "tpch_q17", "tpch_q20", "tpch_q21")) {
      withClue(q) {
        val plan = planOf(q)
        plan should not include "CartesianProduct"
        plan should not include "BroadcastNestedLoopJoin"
      }
    }
  }

  test("decontamination is a single n-gram equi-join, never a pair scan") {
    val plan = planOf("pipeline_decontamination")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // one join between the exploded corpus and the distinct benchmark
    // n-gram set — hash-shaped either way AQE resolves it
    (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin")) shouldBe true
  }

  test("corpus curation pipeline needs only dedup + rollup shuffles") {
    val df = SparkEntry.queries("pipeline_corpus_curation")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // hash exchanges: normalized-text dedup and the language rollup;
    // the trailing orderBy adds one range exchange above
    // OnePartitionSort's bound and none below it. Anything more
    // means a stage recomputes or re-partitions needlessly.
    plan.sliding("hashpartitioning".length)
      .count(_ == "hashpartitioning") should be <= 4
    plan should not include "CartesianProduct"
  }

  test("stratified sample is one window pass over one stratum shuffle") {
    val plan = planOf("pipeline_stratified_sample")
    plan should include("Window")
    plan should not include "CartesianProduct"
  }

  test("tpcds_q3 star join broadcasts the derived dims") {
    val plan = planOf("tpcds_q3")
    plan should include("BroadcastHashJoin")
    // date_dim/item derive small and must broadcast; no shuffle joins
    plan should not include "SortMergeJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q51's only shuffle join is the full-outer channel merge") {
    val plan = planOf("tpcds_q51")
    // FULL OUTER can't broadcast — exactly one sort-merge join, and
    // the per-channel aggregations broadcast nothing cartesian
    plan.sliding("SortMergeJoin".length)
      .count(_ == "SortMergeJoin") shouldBe 1
    plan should not include "CartesianProduct"
  }

  test("tpcds_q67 rollup + rank stays broadcast-only") {
    val plan = planOf("tpcds_q67")
    plan should include("Expand") // the ROLLUP grouping-set expansion
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("tpcds_q1's correlated scalar subquery decorrelates to an agg + join") {
    // the per-(customer,store) threshold subquery must become one
    // per-store aggregate joined back — never a per-row re-execution
    // (no subquery node survives to the physical plan) and never a
    // nested-loop over the fact
    val plan = planOf("tpcds_q1")
    plan.toLowerCase should not include "scalarsubquery"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("HashAggregate")
  }

  test("tpcds_q95's double EXISTS lowers to semi joins, never nested-loop") {
    // both correlated EXISTS decorrelate to equi semi-joins on the
    // high-cardinality ticket key (shuffle or broadcast, AQE's call at
    // this SF) — the at-scale shape; a BroadcastNestedLoopJoin or
    // cartesian here would be quadratic in the fact
    val plan = planOf("tpcds_q95")
    plan should include("Semi")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q14's INTERSECT-feeding-IN lowers to semi joins") {
    // INTERSECT of the two channel item sets → semi join between the
    // aggregated sides; the IN-subquery over the fact → another semi
    // join on ss_item_sk. No nested-loop anywhere.
    val plan = planOf("tpcds_q14")
    plan should include("Semi")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q11's year-over-year compare is one pivoted fact pass") {
    // the published four-way CTE self-join would inline to four fact
    // aggregations; the conditional-sum pivot is one shuffle on
    // customer_sk and no join beyond the date dim
    val plan = planOf("tpcds_q11")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should include("partial_sum")
  }

  test("domain curation broadcasts the per-domain table; docs never shuffle on domain") {
    // the only shuffle over raw docs is the domain-grain aggregate
    // (map-side combinable); the blocklist anti-join and the
    // frequency-cap filter see the per-domain counts via BROADCAST
    // joins, so the skewed domain key never partitions the corpus
    val plan = planOf("pipeline_domain_curation")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("paragraph dedup is one window shuffle over segments, no joins") {
    // segmentation is map-side; the first-occurrence decision is ONE
    // row_number window keyed on the segment text; a join of the
    // segment stream against itself (the naive dedup) would shuffle
    // the corpus twice and blow up on duplicate-heavy keys
    val plan = planOf("pipeline_paragraph_dedup")
    plan should include("Window")
    plan should not include "Join"
    plan should not include "CartesianProduct"
  }

  test("hybrid rrf: bounded top-k windows, corpus never shuffles on a term") {
    // both ranker cuts compile to WindowGroupLimit (partial top-k per
    // partition before the shuffle); the only nested-loop joins are
    // the bounded query-batch / 1-row stats broadcasts; postings join
    // query terms via broadcast, so no corpus-sized term-key shuffle
    val plan = planOf("search_hybrid_rrf")
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan.linesIterator.count(
      _.contains("BroadcastNestedLoopJoin")) should be <= 2
  }

  test("hard-negative mining is one corpus pass with bounded windows") {
    // broadcast anchor batch (the only nested-loop join), one scan,
    // the pos/neg split is a partition key of the same window — both
    // rank cuts must be WindowGroupLimit-bounded
    val plan = planOf("sim_hard_negatives")
    plan should include("WindowGroupLimit")
    plan should not include "CartesianProduct"
    plan.linesIterator.count(
      _.contains("BroadcastNestedLoopJoin")) should be <= 1
  }

  test("materialized IVF serve plan reads only the index, never the corpus") {
    // index build is a side effect of the builder; the SERVE plan must
    // scan the written assignments/centroids parquet and do no index
    // recomputation — no embeddings scan, no per-dimension centroid
    // aggregation (posexplode) anywhere in the serving query
    val plan = planOf("sim_ann_ivf_materialized")
    plan should include("graft_ivf_")
    plan should not include "embeddings.parquet"
    plan should not include "posexplode"
  }

  test("incremental dedup probes the standing index; one documents scan") {
    // r18 (VERDICT r17 wrong #3): the indexed half's band buckets are
    // served from the graft_neardup_* warehouse asset, so the only
    // documents scan — and the only signature computation — is the
    // probe batch; the index join is keyed on DISTINCT buckets (each
    // probe row matches at most one), never on (bucket, indexed doc),
    // which would enumerate candidate pairs (measured ~100x growth
    // for 10x data on this corpus's dense near-dup tail)
    val plan = planOf("pipeline_incremental_dedup")
    plan should not include "CartesianProduct"
    plan should include("graft_neardup_")
    plan.sliding("documents.parquet".length)
      .count(_ == "documents.parquet") shouldBe 1
  }

  test("tpcds_q4's three-channel chain aggregates each fact exactly once") {
    // the published SQL references year_total six ways, which CTE
    // inlining would turn into SIX fact aggregations; the per-channel
    // conditional-sum pivot keeps it at the three-channel floor —
    // exactly one partial aggregation per fact — and every join
    // thereafter moves customer-grain aggregate sides only
    val plan = planOf("tpcds_q4")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan.linesIterator.count(
      _.contains("partial_sum(CASE WHEN")) shouldBe 3
  }

  test("tpcds_q97's overlap is one full-outer join of two distinct sets") {
    // each channel side collapses to a HashAggregate(distinct) on the
    // composite (customer, item) key, then exactly ONE join — the
    // full-outer set reconciliation — feeds the single-row count;
    // no nested-loop shape and no second fact-sized join
    val plan = planOf("tpcds_q97")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("FullOuter")
    plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") && l.contains("FullOuter")) shouldBe 1
  }

  test("tpcds_q71's union interleaves three facts, dim join broadcasts") {
    // UNION ALL is free interleaving (Union exec, no shuffle of its
    // own); the item dim must broadcast; the only fact-sized exchange
    // is the brand aggregate's partial→final pair
    val plan = planOf("tpcds_q71")
    plan should include("Union")
    plan should include("BroadcastHashJoin")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q38's intersect chain never goes nested-loop") {
    // three distinct aggregates reconciled by INTERSECT (left-semi
    // chain on the shared customer key); the count is one row
    val plan = planOf("tpcds_q38")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("LeftSemi")
  }

  test("tpcds_q16's probes lower to semi/anti joins on the order key") {
    // the EXISTS self-probe must be a semi join and the returns probe
    // an anti join — both keyed on cs_order_number, the same key the
    // outer fact shuffles on (one exchange partitioning serves all
    // three sides); no nested-loop, no pairwise stage
    val plan = planOf("tpcds_q16")
    plan should not include "CartesianProduct"
    plan should include("LeftSemi")
    plan should include("LeftAnti")
  }

  test("tpcds_q60 pre-aggregates each channel before the union") {
    // the q33/q56/q60 family shape: per-channel item-grain partial
    // aggregation (3 legs), category dim broadcast INSIDE each leg,
    // union of aggregate-sized sides only
    val plan = planOf("tpcds_q60")
    plan should include("Union")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan.linesIterator.count(
      _.contains("partial_sum")) should be >= 3
  }

  test("tpcds_q32's threshold joins the fact to its item-grain aggregate") {
    // the decorrelated correlated-scalar-average: one item-bounded
    // aggregate of the fact joined back on the item key — never a
    // per-row subquery loop, no nested-loop shape
    val plan = planOf("tpcds_q32")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("partial_sum")
  }

  test("tpcds_q54's audience and bands stay aggregate-sized") {
    // distinct channel-probe union (customer grain) joins the store
    // fact once; the band histogram aggregates the customer-grain
    // revenue — no fact-to-fact join, no nested loop
    val plan = planOf("tpcds_q54")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should include("Union")
  }

  test("tpcds_q77's rollup re-aggregates the tiny per-store pass") {
    // one combinable fact aggregation to ~channels×stores rows, then
    // Expand (×3 for the two-level ROLLUP) over ONLY that small set —
    // the fact is never expanded
    val plan = planOf("tpcds_q77")
    plan should include("Expand")
    plan should not include "BroadcastNestedLoopJoin"
    // exactly two aggregation layers around the expand: per-store,
    // then the rollup groups
    plan.linesIterator.count(_.contains("Expand")) shouldBe 1
  }

  test("text_stem_terms takes top-k without a full corpus sort") {
    // explode → map-side partial count per stem → one |vocab| shuffle
    // → TakeOrderedAndProject; an Exchange-then-global-Sort here
    // would sort every token of the corpus at scale
    val plan = planOf("text_stem_terms")
    plan should include("TakeOrderedAndProject")
    plan should include("partial_count")
  }

  test("tpcds_q47's neighbor lookup is one window pass, no self-join") {
    // the lag/lead form: one fact shuffle to the monthly grain, one
    // WindowExec over (item, store) — the published TPC-DS self-join
    // at rank±1 would recompute the inlined CTE three times (measured
    // 19.9 s vs ~3 s at sf1)
    val plan = planOf("tpcds_q47")
    plan should include("Window")
    plan should not include "SortMergeJoin(item_sk"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q35's OR-of-EXISTS lowers to existence-join marks") {
    // the conjunctive EXISTS lowers to a semi join; the OR of two
    // correlated EXISTS cannot (a row must survive when either side
    // is empty), so Spark plans ExistenceJoin marks — both stay equi
    // on customer, never a nested loop over the fact
    val plan = planOf("tpcds_q35")
    plan should include("ExistenceJoin")
    plan should include("Semi")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q31's ratio chain is one pivoted fact pass") {
    // the published six-way CTE self-join would inline to six fact
    // aggregations; the conditional-sum pivot is one shuffle on
    // store_sk and no join beyond the date dim
    val plan = planOf("tpcds_q31")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
    plan should include("partial_sum")
  }

  test("tpcds_q93's returns join stays equi-shaped") {
    // fact LEFT JOIN returns on (ticket, item) — an equi join either
    // way AQE sizes it, never a nested loop over the fact
    val plan = planOf("tpcds_q93")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q78's channel self-join is equi on (item, year)") {
    val plan = planOf("tpcds_q78")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q87's EXCEPT chain lowers to anti joins") {
    val plan = planOf("tpcds_q87")
    plan should include("Anti")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q23's IN-subqueries lower to semi joins") {
    // frequent-items and best-customers each become an equi semi join
    // against the fact; the max-spend threshold is an uncorrelated
    // 1-row scalar subquery (a broadcastable scalar, not a re-executed
    // per-row probe)
    val plan = planOf("tpcds_q23")
    plan should include("Semi")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q5's two-fact union expands only the per-store rows") {
    // UNION ALL of the two facts is map-side; one shuffle to
    // ~|stores| rows, then the ROLLUP Expand over only that tiny set
    val plan = planOf("tpcds_q5")
    plan should include("Union")
    plan should include("Expand")
    plan should not include "CartesianProduct"
    // the Expand must sit above the per-store aggregate, not the fact:
    // in the top-down plan text, the region between "Expand" and the
    // first leaf "Scan" below it must contain the per-store
    // HashAggregate (Expand directly over the union would reach a
    // Scan with no aggregate in between)
    val below = plan.substring(plan.indexOf("Expand"))
    val firstScan = below.indexOf("Scan")
    firstScan should be > 0
    below.substring(0, firstScan) should include("HashAggregate")
  }

  test("tpcds_q17's buy-return-repurchase chain joins equi only") {
    val plan = planOf("tpcds_q17")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q58's channel band compare self-joins the aggregate") {
    // the rev CTE aggregates to (item, channel) grain before the
    // three-way self-join on item_sk — equi all the way, no nested
    // loop over fact rows
    val plan = planOf("tpcds_q58")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q49's ratio rank joins two aggregates, never the facts") {
    // both sides aggregate before the (store, item) equi join, so the
    // join moves per-(store,item) rows, not fact rows; the rank is one
    // window shuffle on the store key
    val plan = planOf("tpcds_q49")
    plan should include("Window")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q23_materialized derives the fact zero times at query time") {
    // tpcds_q23 faithfully reproduces Presto 0.216's CTE inlining —
    // FOUR lineitem⋈orders derivations per run; the materialized
    // pairing is the 100 TB answer: the star is written once as
    // upstream ETL output and the query plan only ever scans the
    // parquet back (no lineitem reference may survive)
    val plan = planOf("tpcds_q23_materialized")
    plan should include("graft_store_sales")
    plan should not include "lineitem"
  }

  test("tpcds_q64's returns restriction is a semi join; self-join is aggregate-sized") {
    // the EXISTS must lower to a semi join (duplicate (ticket, item)
    // return rows can never fan the fact out), and the cross-year
    // self-join joins two (item, store, year) aggregates, not facts
    val plan = planOf("tpcds_q64")
    plan should include("Semi")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q72's shortage join is equi on both facts, never a date cross-join") {
    // the classic q72 hazard: sales joined to inventory through a
    // date-dim traversal explodes rows; here both facts key on
    // (item, warehouse, month) so the join is pure equi with the
    // quantity shortage as residual — nothing nested-loop-shaped
    // may appear anywhere in the plan
    val plan = planOf("tpcds_q72")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q39's cov self-join moves aggregate-sized sides only") {
    // the fact shuffles ONCE to the (warehouse, item, period) stats
    // grain; the consecutive-period self-join joins two filtered
    // aggregates, so no join in the plan touches raw inventory rows
    val plan = planOf("tpcds_q39")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("tpcds_q21's dims broadcast onto the inventory fact") {
    val plan = planOf("tpcds_q21")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("substring-span dedup is two window shuffles, never pairwise") {
    // shingle occurrence count = one window shuffle on the gram;
    // island merge = one window chain on doc_id; no join at all
    // (the duplicated-gram filter is the window count, not a
    // self-join), so nothing can go quadratic in the corpus
    val plan = planOf("dedup_substring_spans")
    plan should include("Window")
    plan should not include "CartesianProduct"
    plan should not include "Join"
  }

  test("dsir scoring broadcasts the bucket stats onto the token stream") {
    // the <=256-row leaning table must broadcast-join the exploded
    // token stream (never shuffle the fact side on bucket); the only
    // nested-loop is the 1-row totals broadcast onto the 256-row
    // stats — constant-size, not fact-scale
    val plan = planOf("pipeline_dsir_sample")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("materialized leakage split serves fixpoint-free from the standing asset") {
    // the fixpoint build is a side effect of the builder; the SERVE
    // plan must scan the written (id, cluster) parquet and apply the
    // md5 draw — never re-derive signatures (no documents scan) and
    // never aggregate (zero fixpoint rounds in the plan)
    val plan = planOf("pipeline_leakage_split_materialized")
    plan should include("graft_neardup_")
    plan should not include "documents.parquet"
    plan should not include "HashAggregate"
    plan should not include "Join"
  }

  test("unigram tokenize: vocab-bounded lattice, units broadcast, no pair stage") {
    // one corpus aggregate builds the word-frequency table; the EM
    // lattice runs on DISTINCT words with the unit table broadcast
    // into the scoring join — never a shuffle of the corpus on a
    // piece key, never a pairwise stage
    val plan = planOf("pipeline_unigram_tokenize")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("unigram encode broadcasts the model onto the doc stream") {
    // the vocabulary-sized (word → pieces) model broadcasts onto the
    // posexploded word stream; the only corpus shuffle is the per-doc
    // reassembly aggregate at the grain the corpus already lives at
    val plan = planOf("pipeline_unigram_encode")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "SortMergeJoin"
  }

  test("corrected SQ8 serves from codes: map-side decode, top-k window only") {
    // encode and reconstruction-decode are map-side over one corpus
    // pass (the stats row broadcasts); the only corpus aggregation is
    // the bounded top-k window — no pairwise stage, no shuffle join
    val plan = planOf("sim_ann_sq8_corrected")
    plan should not include "CartesianProduct"
    plan should include("WindowGroupLimit")
    plan should not include "SortMergeJoin"
  }

  test("ann recall harness adds no pairwise stage beyond the tiers' own") {
    // r20: the tier shortlists materialize ONCE through a
    // localCheckpoint (the 561-Exchange union was referenced twice —
    // hits + retrieved; VERDICT r19 next #2). It is `eager = false`,
    // but under AQE it runs every shuffle stage of the tier pipelines
    // while the builder runs and defers only the final stage. So the
    // harness plan is id-sized scans of the checkpointed rows
    // (ExistingRDD leaves). Each tier's own WindowGroupLimit-bounded top-k cut is
    // pinned by that tier's plan test above. Everything the harness
    // ADDS — the overlap semi-join, the per-tier counts, the possible
    // scalar — stays id-sized; no CartesianProduct anywhere.
    val plan = planOf("sim_ann_recall")
    plan should not include "CartesianProduct"
    plan should include("ExistingRDD")
  }

  test("pq rescored: broadcast shortlist rescore, no pairwise stage") {
    // the ADC shortlist is the pinned PQ ranking; the rescore joins
    // exact vectors BY ID and broadcasts the query batch — never a
    // pair enumeration of the corpus
    val plan = planOf("sim_ann_pq_rescored")
    plan should not include "CartesianProduct"
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
  }

  test("lsh multiprobe: probe keys broadcast into the bucket equi-join") {
    // the perturbed probe list is a broadcast explode of the QUERY
    // side only; candidates still come from the (band, sig)
    // equi-join, and only (id, band, sig) passes through it
    val plan = planOf("sim_ann_lsh_multiprobe")
    plan should not include "CartesianProduct"
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
  }

  test("ivf geo: Lloyd cells broadcast, serve is the multiprobe equi-join") {
    // both assign passes broadcast the 20-cell table; the serve joins
    // the corpus to the broadcast probe list on the cell key
    val plan = planOf("sim_ann_ivf_geo")
    plan should not include "CartesianProduct"
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
  }

  test("materialized IVFPQ serve reads the index and never retrains") {
    // the serve plan must contain no Lloyd/codebook training
    // aggregate (those ran at BUILD time, into the warehouse); the
    // corpus appears only as the query batch and the id-keyed exact
    // rescore of the shortlist — the ADC stage itself is served
    // entirely from the read-back cells/codes/codebook/centroids
    val plan = planOf("sim_ann_ivfpq_materialized")
    plan should include("graft_ivfpq_")
    plan should not include "partial_avg" // no centroid/codebook retrain
    plan should not include "posexplode(v" // no corpus-side re-slicing
    plan should not include "CartesianProduct"
    // embeddings appears only as vec_id<10 query-batch branches and
    // the one id-keyed rescore join — never as an ADC-stage scan
    // (that stage reads graft_ivfpq_ assets exclusively)
    plan.sliding("embeddings.parquet".length)
      .count(_ == "embeddings.parquet") should be <= 5
  }

  test("ivfpq: candidate scan bounded to probed cells, all small sides broadcast") {
    // the composed index must not reintroduce a full-corpus score:
    // codes join cell assignments BY ID (equi), the probe list and
    // the M·K ADC table broadcast against them, and the only
    // corpus-grain aggregation is the (q_id, vec_id) ADC sum — the
    // shortlist and top-3 cuts are bounded windows. Nothing pairwise.
    val plan = planOf("sim_ann_ivfpq")
    plan should not include "CartesianProduct"
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
    // probe semi-join present: the cell key appears as a join key
    plan.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") should be >= 3
  }
}
