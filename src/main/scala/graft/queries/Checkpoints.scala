package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The storage rule every builder follows for its `localCheckpoint`s.
  *
  * A builder frees every checkpoint its result does not read, before it
  * returns: a checkpoint superseded by a later one, or read only by a
  * write or a collect the builder has already run, is freed with
  * [[release]]. The result's own checkpoints stay stored until the
  * caller drops them ([[graft.Bench.dropStorage]]) or a driver GC lets
  * the ContextCleaner reclaim them.
  *
  * Every checkpoint is eager (`localCheckpoint()`): it is materialized
  * when the call returns, so the checkpoints it was computed from can be
  * freed right after it. Checkpoint blocks live on executors: a lost
  * executor fails the query instead of recomputing them, the trade every
  * corpus-sized checkpoint (the tokenized corpus of `hybridRawPerTerm`,
  * the fixpoint's edge lists) makes for a flat plan.
  *
  * Spark logs one WARN ("RDD n was locally checkpointed, its lineage has
  * been truncated ...") per freed local checkpoint; that is expected. */
object Checkpoints {
  /** Frees every checkpoint `df` reads, except those that some frame in
    * `keep` reads. Each `LogicalRDD` leaf of the analyzed plan holds the
    * stored RDD itself (`df.rdd` would be a fresh mapped RDD whose
    * unpersist frees nothing). `df` must not be read afterwards. */
  def release(df: DataFrame, keep: DataFrame*): Unit = {
    def stored(f: DataFrame) =
      f.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }
    val kept = keep.flatMap(stored).map(_.id).toSet
    stored(df).filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
  }
}
