package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // extra args (local iteration only; the driver passes two) restrict
    // the dump to the named queries
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only.contains).toMap
    // Oracle-side materializations that are NOT part of any gated
    // query (VERDICT r14 wrong #1): text_stem_terms' oracle joins a
    // corpus-derived (token → stem) dict that DuckDB cannot compute
    // itself; export it once, before the dump, so the gate row
    // measures only the aggregation.
    if (selected.contains("text_stem_terms"))
      try queries.TextPipeline.materializeStemDict(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] stem-dict export failed: ${e.getMessage}")
      }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    import BenchFormat.jsonString
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
