package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet schema inference without a Spark job, through Spark's own
  * package-private helpers. */
object FooterSchema {
  /** The schema `spark.read.parquet(path)` infers with schema merging
    * off: from the footer of the first summary file, else of the first
    * data file in path order. Spark reads that one footer inside a
    * one-task job; this reads it on the driver, with the same functions.
    * The listing goes through the session's file-status cache, which the
    * reader's own listing of `path` then hits. */
  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val index = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None,
      FileStatusCache.getOrCreate(spark))
    // ParquetUtils.inferSchema's choice (its splitFiles is private)
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val toTouch = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !isSummary(f.getPath.getName))).toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), toTouch, spark.sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE
}
