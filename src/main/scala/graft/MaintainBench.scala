package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.CorpusStore

/** Measured evidence for STREAMING self-maintenance
  * ([[CorpusStore.appendStream]]'s `maintainEvery`): two identical
  * ingestion runs — a real Structured Streaming query over a
  * MemoryStream, one microbatch per append — differing only in the
  * maintenance knob. The unmaintained arm ends with one live delta dir
  * per microbatch (the O(appends) read-path degradation minor
  * compaction exists to bound); the maintained arm folds every
  * `maintainEvery` batches ON THE WRITER'S OWN foreachBatch THREAD and
  * ends with a bounded live set. Reports per-arm ingest wall (the
  * maintained arm PAYS its folds here — the honest cost side),
  * post-ingest read()/changesSince() times (per-op min over N reps),
  * live delta dir counts, and cross-arm answer equality (hard
  * require — a maintenance bug that changes content aborts the
  * artifact). One warm JVM, one JSON line.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_BATCHES
  * (default 96), SPARK_GRAFT_MAINTAIN_EVERY (default 8),
  * SPARK_GRAFT_BENCH_RUNS (default 3).
  */
object MaintainBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "96").toInt
    val every = sys.env.getOrElse("SPARK_GRAFT_MAINTAIN_EVERY", "8").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = Harness.session()
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"), col("source"))
    // one slice per microbatch, disjoint by construction, collected ONCE
    // and replayed identically into both arms (MemoryStream feeds from
    // driver-local rows by design — this is fixture prep, not a data path)
    val mods = 2L * batches
    val slices: IndexedSeq[Seq[(Long, String, String)]] =
      (0 until batches).map { i =>
        docs.filter(col("doc_id") % mods === i.toLong)
          .withColumn("fp", md5(concat(col("fp"), lit(s"r$i"))))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .toSeq
      }

    // (the arm's JSON fields, live delta dirs, rows, content checksum)
    def runArm(tag: String, maintainEvery: Int): (Harness.Obj, Long, Long, Long) = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val store = s"${System.getProperty("java.io.tmpdir")}/graft_maintbench_$tag"
      val ckpt = s"$store-ckpt"
      Seq(store, ckpt).foreach { p =>
        val hp = new Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      CorpusStore.init(docs.repartitionByRange(8, col("doc_id")), store)
      val ms = MemoryStream[(Long, String, String)](spark)
      val q = CorpusStore.appendStream(
        ms.toDF().toDF("doc_id", "fp", "source"), store, "doc_id",
        checkpointLocation = ckpt, maintainEvery = maintainEvery,
        maxLiveDeltas = math.max(every, 2),
        // ratio effectively off: minor-only maintenance keeps the two
        // arms comparable (no O(corpus) rewrite hiding in one of them)
        maxDeltaToBaseRatio = 1e9).start()
      val (ingestSec, _) = Harness.timed {
        try slices.foreach { s => ms.addData(s); q.processAllAvailable() }
        finally q.stop()
      }
      def readAgg(): Long = CorpusStore.read(spark, store, "doc_id").count()
      def feedAgg(): Long =
        CorpusStore.changesSince(spark, store, "doc_id", -1L).count()
      readAgg(); feedAgg() // warm
      val (readSec, rows) = Harness.minOf(reps)(readAgg())
      val (feedSec, _) = Harness.minOf(reps)(feedAgg())
      // CONTENT checksum, not just cardinality: a fold bug resolving the
      // wrong VERSION per key keeps the row count — only a value hash
      // makes the cross-arm equality require mean "answer-preserving"
      val chk = CorpusStore.read(spark, store, "doc_id")
        .agg(sum(pmod(xxhash64(col("doc_id"), col("fp"), col("source")),
          lit(1000000007L)))).head().getLong(0)
      val live = CorpusStore.describe(spark, store)
        .filter(col("kind") === "delta").count()
      (Harness.Obj("ingest_sec" -> ingestSec, "read_sec" -> readSec,
        "changes_feed_sec" -> feedSec, "live_deltas" -> live), live, rows, chk)
    }

    val un = runArm("unmaintained", 0)
    val mt = runArm("maintained", every)
    require(un._3 == mt._3 && un._4 == mt._4,
      s"maintenance changed the read answer: ${un._3}/${un._4} vs ${mt._3}/${mt._4}")
    require(mt._2 <= math.max(every, 2).toLong + 1,
      s"maintained live-delta count must be bounded, got ${mt._2}")

    println(Harness.jsonLine(spark, "stream_self_maintenance", "sf" -> sfDir,
      "batches" -> batches, "maintain_every" -> every, "reps" -> reps,
      "rows" -> un._3, "unmaintained" -> un._1, "maintained" -> mt._1))
    spark.stop()
  }
}
