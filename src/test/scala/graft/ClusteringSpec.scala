package graft

import graft.queries.Clustering
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Fixpoint min-label propagation (the LSH dedup clustering stage). */
class ClusteringSpec extends AnyFunSuite with SparkFixture with Matchers {

  test("chained components need >1 round and converge to one cluster") {
    import spark.implicits._
    // chain 1—5—9 through buckets b1, b2 with ascending ids: after one
    // round 9's label is 5 (not yet 1) — transitivity requires the loop
    val edges = Seq((1L, "b1"), (5L, "b1"), (5L, "b2"), (9L, "b2"))
      .toDF("id", "bucket")
    val oneRound = Clustering.propagateRounds(edges, 1)
      .orderBy($"id").as[(Long, Long)].collect()
    oneRound shouldBe Array((1L, 1L), (5L, 1L), (9L, 5L))
    val fixed = Clustering.propagateToFixpoint(edges)
      .orderBy($"id").as[(Long, Long)].collect()
    fixed shouldBe Array((1L, 1L), (5L, 1L), (9L, 1L))
  }

  test("disjoint components stay separate at the fixpoint") {
    import spark.implicits._
    val edges = Seq((1L, "a"), (2L, "a"), (7L, "z"), (8L, "z"), (3L, "solo"))
      .toDF("id", "bucket")
    val fixed = Clustering.propagateToFixpoint(edges)
      .orderBy($"id").as[(Long, Long)].collect()
    fixed shouldBe Array((1L, 1L), (2L, 1L), (3L, 3L), (7L, 7L), (8L, 7L))
  }

  test("propagation round is hash-shuffle shaped — no quadratic operator") {
    import spark.implicits._
    val edges = Seq((1L, "b1"), (5L, "b1")).toDF("id", "bucket")
    val plan = Clustering.propagateRounds(edges, 2)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("long chain (diameter 5) converges within maxIters") {
    import spark.implicits._
    // path 1—2—3—4—5—6, each adjacent pair sharing one bucket
    val edges = (1 to 5).flatMap(i =>
      Seq((i.toLong, s"e$i"), ((i + 1).toLong, s"e$i"))).toDF("id", "bucket")
    val fixed = Clustering.propagateToFixpoint(edges)
      .as[(Long, Long)].collect().toMap
    fixed.values.toSet shouldBe Set(1L)
  }

  test("checkpointed rounds truncate lineage and leave labels unchanged") {
    // every round localCheckpoints — the returned frame's plan is a
    // leaf scan of checkpointed blocks, never a join chain back through
    // rounds 1..r-1 — and the fixpoint labels equal the lazily unrolled
    // reference propagation's
    import spark.implicits._
    val edges = (1 to 5).flatMap(i =>
      Seq((i.toLong, s"e$i"), ((i + 1).toLong, s"e$i"))).toDF("id", "bucket")
    val reference = Clustering.propagateRounds(edges, 6)
      .orderBy($"id").as[(Long, Long)].collect()
    val ckpt = Clustering.propagateToFixpoint(edges)
    ckpt.orderBy($"id").as[(Long, Long)].collect() shouldBe reference
    val logical = ckpt.queryExecution.logical.toString
    logical should not include "Join"
    logical should include("LogicalRDD")
  }

  test("edge and contracted-edge row counts ride the materializations") {
    // both counts are observed on the by-id checkpoints of the edge
    // list and of the contracted graph. Under a bound between the two
    // the contracted driver finish records both; by default the whole
    // edge list fits the driver, which contracts nothing. The values
    // must not move. sf0.1 gives 16024 / 2033 and 19246 / 5016 for the
    // same two rows.
    Seq("sim_embed_neardup_full" -> (4024L, 1681L),
      "dedup_minhash_lsh_full" -> (2040L, 504L)).foreach {
      case (q, (edgeRows, contractedRows)) => withClue(s"$q: ") {
        // the builder runs the fixpoint
        withDriverBound(contractedRows)(SparkEntry.queries(q)(spark, sfDir))
        val c = Clustering.lastStats
        (c.edgeRows, c.contractedEdgeRows, c.path) shouldBe
          ((edgeRows, contractedRows, Clustering.ContractedPath))
        SparkEntry.queries(q)(spark, sfDir)
        val w = Clustering.lastStats
        (w.edgeRows, w.contractedEdgeRows, w.rounds, w.path) shouldBe
          ((edgeRows, edgeRows, 0, Clustering.WholeGraphPath))
      }
    }
  }

  /** A path graph 0—1—…—n through buckets b_i = {i, i+1}. */
  private def pathEdges(n: Long) = {
    import spark.implicits._
    (0L until n).flatMap(i => Seq((i, s"b$i"), (i + 1, s"b$i")))
      .toDF("id", "bucket")
  }

  private def storedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("only the returned frame's checkpoint stays stored after the fixpoint") {
    import spark.implicits._
    // the edge caches and every superseded round are released in the
    // call; the returned frame's own LogicalRDD blocks are all it keeps
    val before = storedRdds
    val out = Clustering.propagateToFixpoint(pathEdges(5))
    val kept = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    kept should have size 1
    (storedRdds -- before) shouldBe kept.toSet
    // the released intermediates are not needed to read the result
    out.select(countDistinct($"cluster"), count(lit(1))).as[(Long, Long)]
      .head() shouldBe ((1L, 6L))
    // a requireConverged throw (distributed finish only) releases
    // everything it stored
    val beforeThrow = storedRdds
    withDistributedFixpoint {
      intercept[RuntimeException] {
        Clustering.propagateToFixpoint(pathEdges(11), maxIters = 3,
          requireConverged = true)
      }
    }
    (storedRdds -- beforeThrow) shouldBe empty
  }

  /** The stats of one call on each finish — the default (the whole
    * edge list fits the driver), a bound of the contracted graph's rows
    * (the contracted driver finish) and the threshold at -1
    * (distributed) — after checking that they agree. */
  private def threeFinishes(edges: org.apache.spark.sql.DataFrame,
      maxIters: Int): Seq[Clustering.FixpointStats] = {
    import spark.implicits._
    def run() = {
      val (labels, stats) = Clustering.fixpointWithStats(edges, maxIters)
      (labels.schema, labels.orderBy($"id").as[(Long, Long)].collect().toSeq, stats)
    }
    val (sSchema, sLabels, s) = withDistributedFixpoint(run())
    // any bound in [contracted rows, edge rows) takes the contracted
    // finish; the lowest one also pins that the bound is inclusive
    s.contractedEdgeRows should be < s.edgeRows
    val (cSchema, cLabels, c) = withDriverBound(s.contractedEdgeRows)(run())
    val (wSchema, wLabels, w) = run()
    Seq(wLabels, cLabels) shouldBe Seq(sLabels, sLabels)
    Seq(wSchema, cSchema) shouldBe Seq(sSchema, sSchema)
    val stats = Seq(w, c, s)
    stats.map(_.path) shouldBe
      Seq(Clustering.WholeGraphPath, Clustering.ContractedPath, Clustering.DistributedPath)
    stats.map(_.edgeRows) shouldBe Seq.fill(3)(s.edgeRows)
    stats.map(_.converged) shouldBe Seq(true, true, true)
    c.contractedEdgeRows shouldBe s.contractedEdgeRows
    (w.rounds, w.contractedEdgeRows) shouldBe ((0, w.edgeRows))
    stats
  }

  test("the three finishes agree on every fixture") {
    import spark.implicits._
    val fixtures = Seq(
      Seq((1L, "b1"), (5L, "b1"), (5L, "b2"), (9L, "b2")),
      Seq((1L, "a"), (2L, "a"), (7L, "z"), (8L, "z"), (3L, "solo")),
      Seq((1L, "b1"), (5L, "b1")),
      (1 to 5).flatMap(i => Seq((i.toLong, s"e$i"), ((i + 1).toLong, s"e$i"))),
      Seq((10L, "x"), (11L, "x"), (11L, "y"), (12L, "y"), (20L, "z")),
      // the rounds' inner joins drop null buckets: 3 has no other
      // bucket and gets no label, and 2 keeps only bucket a
      Seq((1L, "a"), (2L, "a"), (2L, null), (3L, null), (4L, "b"))
    ).map(_.toDF("id", "bucket")) ++ Seq(5L, 7L, 11L).map(pathEdges)
    // a 41-node path leaves a 38-node contracted path: 37 rounds to
    // settle, then one double round to see the sum stand still
    for ((edges, i) <- fixtures.zipWithIndex) withClue(s"fixture $i: ") {
      threeFinishes(edges, maxIters = 25)
    }
    threeFinishes(pathEdges(40), maxIters = 25).map(_.rounds) shouldBe
      Seq(0, 3, 6 + 2 * 18)
  }

  test("the three finishes agree on the sf0.001 fixpoint rows") {
    // the five rows that run the fixpoint in their builder, and
    // pipeline_incremental_dedup, which reads the bucket table the
    // materialized split writes (its output only; the bound it runs
    // under is the last fixpoint's and changes nothing for it)
    val fixpointRows = Seq("dedup_minhash_lsh_full", "dedup_lsh_recall_verified",
      "sim_embed_neardup_full", "pipeline_leakage_split",
      "pipeline_leakage_split_materialized")
    for (q <- fixpointRows :+ "pipeline_incremental_dedup") withClue(s"$q: ") {
      def run() = {
        val df = SparkEntry.queries(q)(spark, sfDir)
        (df.schema, df.collect().toSeq.sortBy(_.toString), Clustering.lastStats)
      }
      val (sSchema, sRows, s) = withDistributedFixpoint(run())
      val (cSchema, cRows, c) = withDriverBound(s.contractedEdgeRows)(run())
      val (wSchema, wRows, w) = run()
      sRows should not be empty
      Seq(wRows, cRows) shouldBe Seq(sRows, sRows)
      Seq(wSchema, cSchema) shouldBe Seq(sSchema, sSchema)
      if (fixpointRows.contains(q)) {
        Seq(w, c, s).map(_.path) shouldBe Seq(Clustering.WholeGraphPath,
          Clustering.ContractedPath, Clustering.DistributedPath)
        Seq(w.edgeRows, c.edgeRows) shouldBe Seq(s.edgeRows, s.edgeRows)
        c.contractedEdgeRows shouldBe s.contractedEdgeRows
        (w.rounds, w.contractedEdgeRows) shouldBe ((0, w.edgeRows))
      }
    }
  }

  test("concurrent fixpoints return what they return one after the other") {
    import spark.implicits._
    // no state is shared across calls: two fixpoints over different
    // edge sets on two threads give the same labels and stats as run
    // sequentially, and the published record is one of the two whole
    val a = pathEdges(7)
    val b = Seq((10L, "x"), (11L, "x"), (11L, "y"), (12L, "y"), (20L, "z"))
      .toDF("id", "bucket")
    def run(e: org.apache.spark.sql.DataFrame) = {
      val (labels, stats) = Clustering.fixpointWithStats(e)
      (labels.orderBy($"id").as[(Long, Long)].collect().toSeq, stats)
    }
    val sequential = Seq(run(a), run(b))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val concurrent = Await.result(
      Future.sequence(Seq(Future(run(a)), Future(run(b)))), 5.minutes)
    concurrent shouldBe sequential
    sequential.map(_._2) should contain(Clustering.lastStats)
  }
}
