package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Tables` takes each table's schema from a driver-side footer read
  * instead of Spark's schema-inference job: the schema must be the one
  * inference yields, and registering the tables must run no job. */
class FooterSchemaSpec extends AnyFunSuite with SparkFixture with Matchers {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  // the fixture's scale and its sf0.1 sibling
  private val sf01 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.1").getPath
  private val dirs = Seq(sfDir, sf01)

  test("the footer schema is the schema Spark's inference yields, on every table") {
    for (dir <- dirs; t <- tables) {
      val path = s"$dir/$t.parquet"
      val inferred = spark.read.parquet(path).schema
      withClue(s"$path: ") {
        Tables.read(spark, path).schema shouldBe inferred
        val footer = FooterSchema(spark, path).getOrElse(fail("no footer schema"))
        footer.map(f => (f.name, f.dataType)) shouldBe inferred.map(f => (f.name, f.dataType))
      }
    }
  }

  test("registering every table of a directory starts no Spark job") {
    val s = spark.newSession()
    val sc = s.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      Tables.registerAll(s, sf01)
      tables.foreach(t => s.sessionState.catalog.getTempView(t) should not be empty)
      // listener events arrive in order: every job started before the
      // sentinel job started during registerAll
      sc.setJobDescription("sentinel")
      try s.range(1).count() finally sc.setJobDescription(null)
      val before = Iterator.continually(Option(started.poll(60, TimeUnit.SECONDS))
          .getOrElse(fail("the sentinel job was never reported")))
        .takeWhile(_ != "sentinel").toList
      before shouldBe empty
    } finally sc.removeSparkListener(listener)
  }
}
