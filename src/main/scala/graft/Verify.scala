package graft
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir>; with SPARK_GRAFT_ONLY
  * set (Harness.only semantics, shared with Bench) only the named queries
  * run and oracle_sql.json holds only their oracles — the targeted
  * compare for partial-table fixtures (the GenScaledCorpus dirs carry
  * only documents+embeddings) and for a few queries at a large sf. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val only = Harness.only
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val selected = only.fold(SparkEntry.queries)(p =>
      SparkEntry.queries.filter(kv => p(kv._1)))
    dump(spark, sfDir, outDir, selected)
    // oracle SQL dumped AFTER the queries ran — the IVF oracles are
    // built from the centroid model each query pins at run time
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleJson(names = only.map(_ => selected.keySet),
        dir = Some(sfDir)))
    spark.stop()
  }

  /** Writes each query's result to `$outDir/$name` as one parquet file.
    * The directory is deleted before the query runs, so a query that
    * crashes leaves no directory (the compare reports it missing) instead
    * of the previous run's output, which could pass. Returns each crash
    * as name → [[Bench.crashName]], also printed on stderr. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, Harness.Query]): Map[String, String] =
    queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val dir = new Path(outDir, name)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      val crash =
        try { fn(spark, sfDir).coalesce(1).write.parquet(dir.toString); None }
        catch { case e: Throwable =>
          val c = Bench.crashName(e)
          System.err.println(s"[verify] $name failed: $c")
          Some(name -> c)
        }
      Harness.release(spark)
      crash
    }.toMap
}
