package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local session for specs (getOrCreate reuses one JVM-wide). */
trait SparkFixture extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = GraftSession.build("graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the session conf `key` at `value` and restores
    * the setting afterwards. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withThreshold[T](value: String)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", value)(body)

  /** Runs `body` with the threshold at -1, which sends every clustering
    * fixpoint down its distributed finish. */
  def withDistributedFixpoint[T](body: => T): T = withThreshold("-1")(body)

  /** Runs `body` with the threshold at `rows` × Spark's per-row size
    * estimate of (bigint id, string bucket) edges, so that a clustering
    * fixpoint over such edges finishes a graph on the driver exactly
    * when it has at most `rows` rows. */
  def withDriverBound[T](rows: Long)(body: => T): T = {
    val perRow = EstimationUtils.getSizePerRow(Seq(
      AttributeReference("id", LongType)(), AttributeReference("bucket", StringType)()))
    withThreshold((perRow * rows).toString)(body)
  }

  /** Runs `body` with AQE's one-partition coalescing size at one byte,
    * so that every global sort is above the bound of
    * [[graft.plans.OnePartitionSort]] and plans its range exchange. */
  def withDistributedSort[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")(body)
}
