package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local session for specs (getOrCreate reuses one JVM-wide). */
trait SparkFixture extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = GraftSession.build("graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at -1,
    * which sends every clustering fixpoint down its distributed finish,
    * and restores the setting afterwards. */
  def withDistributedFixpoint[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
