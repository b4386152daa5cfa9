package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings. At 100 TB these would be partitioned/bucketed
  * catalog tables; `spark.read.parquet` on a directory keeps the same
  * plan shape (FileSourceScanExec with pushed filters + pruned columns),
  * so everything downstream is scale-transparent.
  *
  * Schemas come from a driver-side read of the one parquet footer that
  * Spark's schema inference would read ([[read]]), not from inference
  * itself, which runs one Spark job per table: loading and registering
  * the tables runs no job.
  */
object Tables {
  /** Analyzed-relation cache, keyed by (session, dir, table).
    *
    * Every `spark.read.parquet` call yields a FRESH unresolved relation,
    * and the analyzer's ResolveDataSource re-lists files and re-reads
    * parquet footers for each one — measured at 0.99 s of the 1.3 s
    * total rule time on tpch_q22 (10 resolutions of the same two
    * tables). Reusing one analyzed DataFrame per table resolves each
    * table once per session; self-joins on the shared plan are
    * disambiguated by DeduplicateRelations as usual. This is exactly a
    * metastore's cached table metadata on a real cluster — re-listing
    * 100 TB of files per table reference would dominate planning.
    * Testdata dirs are read-only, so entries can never go stale.
    *
    * The cache lives INSIDE each session's own temp-view catalog (a
    * hidden `__graft_rel_<dirhash>_<table>` view holding the analyzed
    * plan) rather than in any JVM-global map. A global map keyed by
    * session — even a WeakHashMap — would pin sessions forever, because
    * the cached DataFrames strongly reference their session (value →
    * key keeps weak keys reachable). Session-owned state has none of
    * that: entries die with the session, distinct sessions can never
    * collide, and a long-lived JVM running many sessions accumulates
    * nothing.
    */
  private[graft] def cacheViewName(dir: String, name: String): String = {
    // SHA-256/128-bit of the path, not raw path hex: the identifier
    // stays bounded (48 chars + table name) no matter how deep the
    // data directory nests, instead of doubling the path length into
    // every plan/catalog listing. 128 bits keeps cross-dir collision
    // probability out of physical reach (~2^-64 at even 2^32 dirs),
    // so a collision can never serve the wrong directory's data.
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8"))
    val h = digest.take(16).map(b => f"${b & 0xff}%02x").mkString
    s"__graft_rel_${h}_$name"
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val v = cacheViewName(dir, name)
    if (spark.sessionState.catalog.getTempView(v).isEmpty) {
      load(spark, dir, name).createOrReplaceTempView(v)
    }
    spark.table(v)
  }

  /** Test hook: whether this session has a cached relation for (dir, name). */
  private[graft] def isCached(spark: SparkSession, dir: String, name: String): Boolean =
    spark.sessionState.catalog.getTempView(cacheViewName(dir, name)).isDefined

  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) — which
    * Spark's reader rejects unless spark.sql.legacy.parquet.nanosAsLong
    * =true (set in [[GraftSession]]) surfaces it as BIGINT nanos — and as
    * plain timestamp[us]. The events branch switches on the surfaced type
    * so both vintages of the testdata produce the same
    * TimestampType column.
    */
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      val raw = read(spark, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        // parquet TIMESTAMP(NANOS) surfaced as BIGINT via
        // spark.sql.legacy.parquet.nanosAsLong. `div` (integer division) —
        // a double division here would lose precision above 2^53 ns and
        // shift timestamps by ±1 µs.
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // parquet timestamp[us] arrives as a timestamp type directly
        // (NTZ when isAdjustedToUTC=false); normalize to session-TZ
        // TimestampType so downstream schemas are stable either way.
        case _: TimestampNTZType | _: TimestampType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case other =>
          throw new IllegalStateException(
            s"events.ts: unexpected parquet-surfaced type $other")
      }
    } else read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema taken from a driver-side
    * footer read ([[FooterSchema]]) instead of Spark's schema-inference
    * job: same footer, same conversion, so the same schema, and loading
    * a table runs no job. With schema merging on (inference then touches
    * every file), or with no file to read, Spark infers as before. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(path)
    else FooterSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register every table as a temp view so queries can use spark.sql —
    * mirrors Presto's catalog.schema.table resolution (SURVEY.md §3).
    *
    * Failure-isolated: one unreadable table must not poison queries that
    * never reference it (at 100 TB-catalog scale a single corrupt table
    * taking down the whole SQL surface is an outage, not an error). A
    * table that fails to load is skipped with a warning; a query that
    * actually references it then fails at resolution with
    * TABLE_OR_VIEW_NOT_FOUND — scoped to that query alone.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    // NOTE (optimization r19): wrapping these views in a round-robin
    // repartition up to the session's parallelism was MEASURED and
    // REJECTED — twice (all tables, then fact-sized only). Isolated
    // single-pipeline rows improved (tpcds_q67
    // 1.93→1.27 s: the scan-fused ROLLUP ran 32-way), but the full
    // suite regressed ~+20 s because every one of the 64 SQL rows pays
    // one extra exchange + AQE stage per fact reference, and the
    // multi-reference queries (q23/q14/q39) pay it per scan branch
    // (branch-specific pushed filters defeat exchange reuse).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      try table(spark, dir, n).createOrReplaceTempView(n)
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"graft: skipping unloadable table '$n' in $dir: $e")
      }
    }
  }
}
