package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Connected components over a bipartite (id, bucket) edge list by
  * min-label propagation — the clustering stage of five registry rows:
  * `dedup_minhash_lsh_full` and `dedup_lsh_recall_verified` (over
  * star-verified minhash edges), `sim_embed_neardup_full` (hyperplane
  * band buckets), and `pipeline_leakage_split` and
  * `pipeline_leakage_split_materialized` (strict minhash bands).
  * `pipeline_incremental_dedup` reads the bucket table the materialized
  * split writes, but runs no fixpoint.
  *
  * An LSH bucket links every pair of its members, so near-dup CLUSTERS
  * are the connected components of the id↔bucket graph. One propagation
  * round (id → min over its buckets → min over each bucket's members)
  * collapses stars but not chains (A~B~C with A,C never sharing a
  * bucket). Each round is two hash shuffles (groupBy bucket, groupBy
  * id) — O(edges), never quadratic.
  *
  * A call contracts the graph until it fits on the driver, at two
  * levels. Each level checkpoints its graph hash-partitioned by id,
  * with the row count observed on that action, and collects the
  * checkpoint when the count is at most [[driverBound]]; above the
  * bound nothing is read. The finish that ran is
  * [[FixpointStats.path]]:
  *  1. `whole-graph`: the edge list itself fits. Union-find over the
  *     collected edges gives every id its component minimum — exact,
  *     no round, 3 actions (the checkpoint, the collect, the output).
  *  2. Otherwise the edges are checkpointed by bucket too, and one
  *     action runs three rounds and checkpoints the labels. That
  *     collapses every star, so what is left only needs the contracted
  *     graph: each edge as (cluster(id), bucket), deduped. A cluster →
  *     component-minimum map is joined onto the labels, and the result
  *     checkpointed. The map comes from one of two finishes:
  *     - `contracted-driver`: the contracted graph fits, and union-find
  *       over its collected rows gives the map — exact, no further
  *       round;
  *     - `distributed`: above the bound, propagation iterates on the
  *       contracted graph from its by-id checkpoint, two rounds per
  *       action. Labels only decrease, so the label sum is stationary
  *       exactly at the fixpoint, and convergence costs one sum per
  *       double round, observed on the action that materializes it.
  *       Chain diameter bounds the round count; `maxIters` is a safety
  *       valve.
  *
  * Reference semantics: presto-ads has no clustering operator — this is
  * the dedup completion the 100 TB pipeline needs (VERDICT r2 §3).
  * Every materialization is a localCheckpoint: a flat LogicalRDD
  * leaf, so a later round's plan never embeds the rounds before it.
  * (A persist() wraps the round in an InMemoryRelation whose plan
  * embeds the whole child tree; at sf0.1 that cost 1.5-4.6 s of driver
  * re-planning per action by round 5, against 0.04-0.16 s for the flat
  * leaves — OPTIMIZATION_r20.md, BENCH_NOTES.md.) Storage follows
  * [[Checkpoints]].
  */
object Clustering {

  /** [[FixpointStats.path]] values: the finish that ran. */
  val WholeGraphPath = "whole-graph"
  val ContractedPath = "contracted-driver"
  val DistributedPath = "distributed"

  /** What one fixpoint run did: the propagation rounds (0 on the
    * whole-graph finish, which runs none), whether the labels settled
    * (always on the two driver finishes; within `maxIters` on the
    * distributed one), the rows of the edge list vs the graph the
    * finish works on (the contracted cluster graph, or the edge list
    * itself on the whole-graph finish), and which finish ran. */
  final case class FixpointStats(rounds: Int, converged: Boolean,
      edgeRows: Long, contractedEdgeRows: Long, path: String)

  /** Stats of the most recently finished fixpoint, published in one
    * write per call, so harnesses that reach the fixpoint only through
    * a query builder (ScaleProbe) can record them without log scraping.
    * Callers that hold the call read [[fixpointWithStats]]' result. */
  @volatile var lastStats: FixpointStats = FixpointStats(0, false, 0L, 0L, "")

  /** One propagation round: label(id) ← min over id's buckets of the
    * bucket's member-label minimum. Monotone non-increasing per id.
    * The same edges are held twice, hash-partitioned by id (`byId`, for
    * the labels join) and by bucket (`byBucket`, for the join back), so
    * neither join re-shuffles the edge side. The SHUFFLE_HASH hints
    * keep the label side from being broadcast: labels are one row per
    * doc, corpus-sized at cluster scale. */
  private def round(byId: DataFrame, byBucket: DataFrame)(
      labels: DataFrame): DataFrame = {
    val bucketMin = byId.join(labels.hint("shuffle_hash"), "id")
      .groupBy("bucket").agg(min("cluster").as("bmin"))
    byBucket.join(bucketMin.hint("shuffle_hash"), "bucket")
      .groupBy("id").agg(min("bmin").as("cluster"))
  }

  /** Round 1 folded into initialization: with cluster(id)=id the bucket
    * minimum is just min(id) per bucket — no labels join yet (and on
    * the bucket-partitioned edges the aggregate + join are
    * exchange-free: only the final groupBy(id) moves data). */
  private def foldedInit(byBucket: DataFrame): DataFrame =
    byBucket.join(byBucket.groupBy("bucket").agg(min("id").as("bmin"))
        .hint("shuffle_hash"), "bucket")
      .groupBy("id").agg(min("bmin").as("cluster"))

  /** One [[round]] over an edge list held once, on both sides. */
  def propagateRound(edges: DataFrame, labels: DataFrame): DataFrame =
    round(edges, edges)(labels)

  /** Lazily unrolled n-round propagation — pure plan, no actions; used
    * by plan-shape tests to assert the per-round shuffle shape. */
  def propagateRounds(edges: DataFrame, rounds: Int): DataFrame = {
    val init = edges.select(col("id")).distinct()
      .withColumn("cluster", col("id"))
    (1 to rounds).foldLeft(init)((l, _) => propagateRound(edges, l))
  }

  /** The most (id, bucket) rows a driver finish takes:
    * `spark.sql.autoBroadcastJoinThreshold` over the graph's per-row
    * size estimate. The contracted finish broadcasts a map of that many
    * rows, so this is the size Spark already accepts for a broadcast.
    * -1 (always distributed) when the threshold is ≤ 0, or unless the
    * ids are bigint and the buckets strings or integers: the driver
    * keys ids as longs and buckets by value equality, which agree with
    * Spark's grouping for those types. */
  private def driverBound(graph: DataFrame): Long = {
    val threshold =
      graph.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val schema = graph.schema
    val keyed = schema("id").dataType == LongType &&
      Set[DataType](StringType, LongType, IntegerType)(schema("bucket").dataType)
    if (threshold <= 0 || !keyed) -1L
    else (BigInt(threshold) /
      EstimationUtils.getSizePerRow(graph.queryExecution.analyzed.output))
      .min(Int.MaxValue - 1).toLong
  }

  /** A (id, component minimum) row for every id of the (id, bucket)
    * rows, by union-find over ids that share a bucket. The smaller root
    * wins each union, so every root is its component's minimum id.
    * Rows with a null id or bucket are skipped, as the distributed
    * rounds' inner joins drop them. */
  private def componentMinima(rows: Array[Row]): Seq[Row] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    val firstOfBucket = scala.collection.mutable.HashMap.empty[Any, Long]
    for (row <- rows if !row.isNullAt(0) && !row.isNullAt(1)) {
      val id = row.getLong(0)
      parent.getOrElseUpdate(id, id)
      firstOfBucket.get(row.get(1)) match {
        case None => firstOfBucket(row.get(1)) = id
        case Some(first) =>
          val (a, b) = (find(first), find(id))
          if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    parent.keys.toSeq.map(id => Row(id, find(id)))
  }

  /** Iterate propagation until the label assignment is stable.
    * Returns (id, cluster) with cluster = component-minimum id, as a
    * localCheckpoint leaf that stays stored for the caller's actions.
    *
    * `maxIters` and `requireConverged` govern only the distributed
    * finish; below [[driverBound]] a driver finish is exact and
    * neither applies.
    *
    * `requireConverged` (r17; ADVICE r16 #1): when true, hitting the
    * maxIters valve with the label sum still moving THROWS instead of
    * returning the non-converged assignment. pipeline_leakage_split
    * sets it — a silently unconverged clustering there could put
    * near-dup docs in different splits, the exact leakage the query
    * exists to prevent, with no error raised. Dedup callers keep the
    * default: an early-cut clustering merely under-merges (keeps an
    * extra survivor), which degrades recall, not correctness of the
    * guarantee the operator advertises. */
  def propagateToFixpoint(edges: DataFrame, maxIters: Int = 10,
      requireConverged: Boolean = false): DataFrame =
    fixpointWithStats(edges, maxIters, requireConverged)._1

  /** [[propagateToFixpoint]] together with the call's own stats. Holds
    * no state across calls: every intermediate checkpoint is released
    * before it returns (or throws), and only the returned frame's
    * blocks stay stored, so concurrent calls never touch each other's
    * storage. */
  def fixpointWithStats(edges: DataFrame, maxIters: Int = 10,
      requireConverged: Boolean = false): (DataFrame, FixpointStats) = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Spark actions the call runs, for the [clustering] line
    var actions = 0
    // every intermediate checkpoint, released when the call ends
    val intermediates = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def intermediate(df: DataFrame): DataFrame = {
      actions += 1
      intermediates += df.localCheckpoint()
      intermediates.last
    }
    // materialize `df` with one aggregate `metric` observed on the
    // materializing action itself: the eager checkpoint runs the plan
    // (via withAction, so the Observation fires during it), where a
    // separate count()/sum action would cost a second job (two under
    // AQE) per value
    def observed(df: DataFrame, metric: Column): (DataFrame, Long) = {
      val obs = new Observation
      val m = intermediate(df.observe(obs, metric.as("v")))
      (m, obs.get("v").asInstanceOf[Long])
    }
    // Optimization r19 (guide §2.4 — two operations keyed the same way
    // share one exchange): each graph is hash-partitioned ONCE on each
    // of its two join keys and checkpointed — a flat leaf that keeps
    // its hash partitioning — so no fixpoint round ever re-shuffles
    // it: each round's two joins run exchange-free on the edge side and
    // only the label-sized aggregate streams move. The by-id copy
    // observes the graph's row count, which decides the finish; the
    // by-bucket copy is made only when rounds run on the graph.
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def byId(g: DataFrame): (DataFrame, Long) =
      observed(g.repartition(nParts, $"id"), count(lit(1)))
    def byBucket(gById: DataFrame): DataFrame =
      intermediate(gById.repartition(nParts, $"bucket"))
    // the rows of a graph checkpointed by id, when they fit
    // [[driverBound]]; above it nothing is read
    def onDriver(gById: DataFrame, rows: Long): Option[Array[Row]] =
      if (rows > driverBound(gById)) None
      else { actions += 1; Some(gById.collect()) }
    // convergence sum rides the materializing action as an observed
    // metric — one job materializes the round AND yields the sum
    def sumOnce(df: DataFrame): (DataFrame, Long) = observed(df, sum($"cluster"))
    // the distributed finish: propagation on the contracted graph until
    // the label sum settles or maxIters; returns (cluster, cmin) and
    // the call's stats
    def distributed(cById: DataFrame, contractedRows: Long,
        edgeRows: Long): (DataFrame, FixpointStats) = {
      val cByBucket = byBucket(cById)
      val cRound = round(cById, cByBucket) _
      // contracted folded init + double round, as on the full graph
      var (cLabels, prevSum) = sumOnce(cRound(cRound(foldedInit(cByBucket))))
      var it = 1
      var converged = false
      while (!converged && it < maxIters) {
        // two rounds per convergence action: labels are monotone
        // non-increasing, so a stationary sum across the DOUBLE round
        // implies both sub-rounds were stationary — same fixpoint,
        // half the driver round-trips (each action is the latency
        // floor on an iterative job, locally and on a cluster)
        val (next, nextSum) = sumOnce(cRound(cRound(cLabels)))
        converged = nextSum == prevSum
        prevSum = nextSum
        cLabels = next
        it += 1
      }
      // how close the corpus comes to the maxIters valve (VERDICT r3
      // #3): the full graph's action and the contracted init each run
      // three rounds (folded init + one double round); each later loop
      // iteration is a DOUBLE round
      (cLabels.select($"id".as("cluster"), $"cluster".as("cmin")).hint("shuffle_hash"),
        FixpointStats(6 + 2 * (it - 1), converged, edgeRows, contractedRows,
          DistributedPath))
    }
    // the contracted graph's finish: the full graph's first action runs
    // three rounds, then the contracted graph finishes on the driver or
    // distributed; returns the (id, cluster) result, not yet
    // materialized, and the call's stats
    def contractedFinish(eById: DataFrame, edgeRows: Long): (DataFrame, FixpointStats) = {
      val eByBucket = byBucket(eById)
      val fullRound = round(eById, eByBucket) _
      // the first action runs three rounds (the folded init + one double
      // round): measured components converge in 5-7 rounds, so a deeper
      // first plan saves one whole action — the per-action latency
      // (stage scheduling + checkpoint materialization + convergence
      // check) is the fixpoint's floor, locally and on a cluster
      val (labels, _) = sumOnce(fullRound(fullRound(foldedInit(eByBucket))))
      // --- label-graph contraction (optimization r20; VERDICT r19 next
      // #4, guide §2.3 "shuffle keys and metadata instead of payloads"):
      // the first action collapses every star, so the finish only needs
      // the CLUSTER graph — each edge projected to (cluster(id), bucket)
      // and deduped. Components are preserved (two ids sharing a bucket
      // implies their cluster labels share it), and every label value
      // is itself an original id with cluster(M) = M for a component
      // minimum M, so the contracted graph's component minima ARE the
      // original components' minima. At scale the finish works on
      // ~|components| rows instead of the corpus (contractedEdgeRows vs
      // edgeRows records the ratio for the scale probes).
      val (cById, contractedRows) = byId(eById.join(labels.hint("shuffle_hash"), "id")
        .select($"cluster".as("id"), $"bucket").distinct())
      val (minima, stats) = onDriver(cById, contractedRows) match {
        case Some(rows) =>
          // nullable columns, as the distributed finish's min() gives
          val map = spark.createDataFrame(componentMinima(rows).asJava,
            StructType(Seq(StructField("cluster", LongType), StructField("cmin", LongType))))
          (map.hint("broadcast"),
            FixpointStats(3, converged = true, edgeRows, contractedRows, ContractedPath))
        case None => distributed(cById, contractedRows, edgeRows)
      }
      // re-attach the component minima to the full id set: each id's
      // post-star label maps to its component minimum
      (labels.join(minima, "cluster").select($"id", $"cmin".as("cluster")), stats)
    }
    try {
      val (eById, edgeRows) = byId(edges.select($"id", $"bucket"))
      // the whole-graph finish (Presto's SINGLE-distribution final
      // stage): when the edge list itself fits a broadcast, every
      // round would pay the per-action floor on a few thousand rows,
      // so union-find over the collected edges gives every id its
      // component minimum at once
      val (result, stats) = onDriver(eById, edgeRows) match {
        case Some(rows) =>
          // the other finishes' schema: the input's id field and a
          // nullable cluster, as their min() gives
          (spark.createDataFrame(componentMinima(rows).asJava,
            StructType(Seq(eById.schema("id"), StructField("cluster", LongType)))),
            FixpointStats(0, converged = true, edgeRows, edgeRows, WholeGraphPath))
        case None => contractedFinish(eById, edgeRows)
      }
      lastStats = stats
      if (requireConverged && !stats.converged)
        sys.error(s"label propagation still moving after maxIters=$maxIters " +
          "rounds — refusing to return a non-converged clustering " +
          "(requireConverged=true)")
      val out = result.localCheckpoint()
      actions += 1
      System.err.println(
        s"[clustering] fixpoint after ${stats.rounds} rounds " +
          s"($actions actions, ${stats.path} finish, maxIters=$maxIters, " +
          s"converged=${stats.converged}, edges=$edgeRows " +
          s"contracted=${stats.contractedEdgeRows})")
      (out, stats)
    } finally intermediates.foreach(Checkpoints.release(_))
  }
}
