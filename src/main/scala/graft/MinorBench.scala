package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.CorpusStore

/** Measured evidence for MINOR (delta-level) compaction: at streaming
  * append cadence the store accumulates one delta dir AND one manifest
  * part per append, so the read path pays O(appends) listing + window
  * input width + manifest-part union between major compacts.
  * [[CorpusStore.compactDeltas]] folds them to ONE delta + ONE part
  * without the O(corpus) base rewrite — this tool lands a store with K
  * small appends, times read()/changesSince()/prunedRead() before and
  * after the fold (per-op min over N reps, one warm JVM), and prints
  * one JSON line.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_APPENDS
  * (default 64), SPARK_GRAFT_BENCH_RUNS (default 3).
  */
object MinorBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val appends = sys.env.getOrElse("SPARK_GRAFT_APPENDS", "64").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = Harness.session()

    val store = s"${System.getProperty("java.io.tmpdir")}/graft_minorbench"
    val sp = new Path(store)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)

    // base: the documents table keyed by doc_id; appends: K small
    // disjoint-by-construction mod-slices with fresh fingerprints plus a
    // sprinkle of tombstones — the streaming-refresh shape
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("source"))
    CorpusStore.init(docs.repartitionByRange(8, col("doc_id")), store,
      statsCols = Seq("doc_id"))
    val mods = 4L * appends // each append touches ~1/(4K) of the keys
    (0 until appends).foreach { i =>
      CorpusStore.append(spark, store, i.toLong, "doc_id",
        docs.filter(col("doc_id") % mods === i.toLong)
          .withColumn("fp", md5(concat(col("fp"), lit(s"r$i")))),
        deleteKeys = Some(docs
          .filter(col("doc_id") % mods === (appends + i).toLong)
          .select(col("doc_id"))))
    }
    def parts(): Int = {
      val mp = new Path(s"$store/manifest")
      mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(mp).count(_.getPath.getName.endsWith(".parquet"))
    }
    def liveDeltas(): Long = CorpusStore.describe(spark, store)
      .filter(col("kind") === "delta").count()

    def readAgg(): Long = CorpusStore.read(spark, store, "doc_id").count()
    def feedAgg(): Long =
      CorpusStore.changesSince(spark, store, "doc_id", -1L).count()
    def prunedAgg(): Long = {
      val keep = graft.sources.ScanPruning.boxPredicate(
        Seq(("doc_id", 0L, 1000000L)))
      CorpusStore.prunedRead(spark, store, "doc_id", keep)
        .filter(col("doc_id").between(0L, 1000000L)).count()
    }
    // warm-up (JIT + codegen), then the before-fold stats
    readAgg(); feedAgg(); prunedAgg()
    val partsBefore = parts()
    val deltasBefore = liveDeltas()
    val (readB, rowsB) = Harness.minOf(reps)(readAgg())
    val (feedB, feedRowsB) = Harness.minOf(reps)(feedAgg())
    val (prunedB, _) = Harness.minOf(reps)(prunedAgg())

    val (foldSec, folded) = Harness.timed(CorpusStore.compactDeltas(spark, store, "doc_id"))
    require(folded, "fold must run")

    val partsAfter = parts()
    val deltasAfter = liveDeltas()
    val (readA, rowsA) = Harness.minOf(reps)(readAgg())
    val (feedA, feedRowsA) = Harness.minOf(reps)(feedAgg())
    val (prunedA, _) = Harness.minOf(reps)(prunedAgg())
    require(rowsB == rowsA, s"fold changed the read answer: $rowsB -> $rowsA")
    require(feedRowsA <= feedRowsB,
      s"netted feed must not grow: $feedRowsB -> $feedRowsA")

    println(Harness.jsonLine(spark, "store_minor_compaction", "sf" -> sfDir, "appends" -> appends,
      "reps" -> reps, "rows" -> rowsB, "live_deltas_before" -> deltasBefore,
      "live_deltas_after" -> deltasAfter, "manifest_parts_before" -> partsBefore,
      "manifest_parts_after" -> partsAfter, "read_sec_before" -> readB, "read_sec_after" -> readA,
      "changes_feed_sec_before" -> feedB, "changes_feed_sec_after" -> feedA,
      "pruned_read_sec_before" -> prunedB, "pruned_read_sec_after" -> prunedA,
      "fold_sec" -> foldSec, "feed_rows_before" -> feedRowsB, "feed_rows_after" -> feedRowsA))
    spark.stop()
  }
}
