package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class RegistrySpec extends AnyFunSuite with SparkFixture with Matchers {

  test("query names are globally unique across groups") {
    val perGroup = Registry.groups.map(_.defs.size).sum
    Registry.all.size shouldBe perGroup
  }

  test("no duplicate query names in source (Map literals dedupe silently)") {
    // a duplicate key inside one group's Map literal would silently
    // drop the earlier definition before runtime can see it
    import scala.jdk.CollectionConverters._
    val pattern = """"([a-z0-9_]+)" -> QueryDef""".r
    val names = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala/graft/queries"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => pattern.findAllMatchIn(
        new String(java.nio.file.Files.readAllBytes(p))).map(_.group(1)))
      .toSeq
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    withClue(s"duplicated: ${dups.mkString(", ")}") {
      names.distinct.size shouldBe names.size
    }
  }

  test("every oracle SQL is non-empty and references no stray quoting") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      withClue(name) {
        sql.trim should not be empty
        sql.toUpperCase should include("SELECT")
      }
    }
  }

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("every registered query produces a resolvable plan") {
    // and follows the storage rule of graft.queries.Checkpoints: its
    // build leaves stored only what its frame reads
    val sc = spark.sparkContext
    def stored = sc.getPersistentRDDs.keySet.toSet
    def reads(df: DataFrame): Set[Int] = {
      val qe = df.queryExecution
      val checkpoints = qe.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
      // ddl_view_cache's CACHE TABLE entry, read through the CacheManager
      val cached = qe.withCachedData.collectWithSubqueries {
        case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
          m.cacheBuilder.cachedColumnBuffers.id
      }
      (checkpoints ++ cached).toSet
    }
    val freed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = freed.add(e.rddId)
    }
    sc.addSparkListener(listener)
    val leaks =
      try SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
        withClue(name) {
          ListenerBus.drain(sc)
          freed.clear()
          val before = stored
          val df = fn(spark, sfDir)
          noException should be thrownBy df.schema
          val created = stored -- before
          ListenerBus.drain(sc)
          // a build that stored anything, kept or freed, must still read
          // its result: the checkpoints it freed are not needed for that
          if (created.nonEmpty || !freed.isEmpty) df.collect()
          val unread = created -- reads(df)
          if (unread.isEmpty) None else Some(s"$name: ${unread.size} unread")
        }
      } finally sc.removeSparkListener(listener)
    leaks shouldBe empty
  }
}
