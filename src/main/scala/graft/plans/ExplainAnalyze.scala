package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types.{LongType, IntegerType, StringType, StructField, StructType}

/** EXPLAIN ANALYZE analog (reference: `ExplainAnalyzeOperator.java` —
  * executes the query, then reports the plan annotated with ACTUAL
  * per-operator runtime statistics, not estimates).
  *
  * Spark's physical operators already maintain SQLMetrics
  * (numOutputRows, spill sizes, build/probe times...) during
  * execution; this walks the post-execution plan — descending through
  * AQE's AdaptiveSparkPlanExec final plan and into materialized
  * QueryStageExec subtrees, which are leaf nodes to the usual
  * traversal — and surfaces each operator's metrics as rows. At
  * cluster scale these are the same metrics the Spark UI aggregates
  * across executors; nothing here is local-mode-only.
  */
object ExplainAnalyze {
  /** Execute `df` and return one row per (operator, metric):
    * (op_id, operator, metric, value), as [[operatorMetrics]] reads
    * them off the plan that ran.
    */
  def analyze(spark: SparkSession, df: DataFrame): DataFrame = {
    // drive THIS DataFrame's own physical plan (df.count() would build
    // and execute a separate count plan, leaving these metrics at 0)
    df.queryExecution.toRdd.foreach(_ => ())
    val rows = operatorMetrics(df.queryExecution.executedPlan).map(Row.fromTuple)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("op_id", IntegerType, nullable = false),
        StructField("operator", StringType, nullable = false),
        StructField("metric", StringType, nullable = false),
        StructField("value", LongType, nullable = false))))
  }

  /** One (op_id, operator, metric, value) tuple per metric of each
    * operator of an executed `plan`. op_id is a stable pre-order index
    * into the final executed plan. A plan that has not run reads 0. */
  def operatorMetrics(plan: SparkPlan): Seq[(Int, String, String, Long)] =
    walk(plan).zipWithIndex.flatMap { case (p, i) =>
      p.metrics.toSeq.sortBy(_._1).map { case (name, m) =>
        (i, p.nodeName, name, m.value)
      }
    }

  /** Pre-order walk that crosses the two boundaries `collect` stops
    * at: AQE's final plan and materialized query-stage subtrees. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case q: QueryStageExec => p +: walk(q.plan)
    case other => other +: other.children.flatMap(walk)
  }
}
