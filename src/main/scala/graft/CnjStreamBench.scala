package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cnj.{MetasJob, Reader, ResultParity}

/** Corpus-scale benchmark of the streaming CNJ ingest (SURVEY §2.9):
  * [[Reader.readDirStream]] -> the SAME Resumo aggregation as the batch
  * pipeline, run incrementally over the court files with
  * `maxFilesPerTrigger` bounding each microbatch, complete-mode output.
  * Asserts stream-vs-batch parity on the full corpus (the contract
  * `CnjStreamSpec` locks at fixture scale; here byte-identical up to
  * rare 0.01 rounding-boundary flips from float-sum merge order — see
  * the inline note) and records wall time, the
  * per-microbatch input rows, and the streaming-aggregation state rows
  * per batch (`StateOperatorProgress.numRowsTotal`) — the evidence that
  * state is bounded by the GROUP cardinality (courts), not the corpus:
  * a 10x bigger corpus grows batches, never state.
  *
  * Usage: runMain graft.CnjStreamBench <inDir> [filesPerTrigger] [restartAfter]
  *
  * With `restartAfter = k > 0` the run becomes the FAULT-TOLERANCE
  * measurement instead: the stream runs against a checkpoint, is
  * STOPPED after k completed microbatches (mid-corpus), and a second
  * incarnation recovers from the checkpoint — offsets and aggregation
  * state restore, only the unconsumed files replay — timed to
  * completion and parity-checked against the batch truth. Emits
  * `cnj_stream_recovery` with both incarnations' walls and batch
  * counts: the evidence that recovery cost is proportional to the
  * REMAINING corpus, not a from-scratch rerun.
  */
object CnjStreamBench {

  /** The fixture both code paths warm up on. */
  private val WarmupDir = "src/test/resources/cnj/dados"

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val filesPerTrigger = if (args.length > 1) args(1).toInt else 10
    val restartAfter = if (args.length > 2) args(2).toInt else 0
    val spark = Harness.session()
    // same split sizing as CnjBench: the largest court file (~119 MB)
    // must not be one task
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")

    // Symmetric fixture-scale warm-up of BOTH code paths before timing
    // either: the first Spark action in a JVM absorbs JIT + codegen
    // compilation, so without this the batch truth (which runs first)
    // would pay the cold-start and the published stream/batch comparison
    // would flatter streaming. Streaming additionally warms its own
    // machinery (microbatch planner, state store).
    try {
      MetasJob.stringlyOutput(
        MetasJob.resumoTyped(spark, Reader.readDir(spark, WarmupDir))).collect()
      drain(start(spark, WarmupDir, filesPerTrigger, "cnj_stream_warmup"))
    } catch { case e: Throwable =>
      System.err.println(s"WARNING: warm-up on $WarmupDir failed " +
        s"(${e.getMessage}); the first timed pass will include JIT/codegen")
    }

    // batch truth, timed like CnjBench's resumo phase
    val (batchSec, batch) = Harness.timed(MetasJob.stringlyOutput(
      MetasJob.resumoTyped(spark, Reader.readDir(spark, inDir))).collect().toIndexedSeq)

    if (restartAfter > 0) {
      recoveryBench(spark, inDir, filesPerTrigger, restartAfter, batch, batchSec)
      spark.stop()
      return
    }

    val (streamSec, q) =
      Harness.timed(drain(start(spark, inDir, filesPerTrigger, "cnj_stream_bench")))
    val (parity, parityFields) = compare(spark, "cnj_stream_bench", batch)

    // per-microbatch evidence: input rows + streaming-agg state rows
    val perBatch = q.recentProgress.toIndexedSeq
      .filter(_.numInputRows > 0)
      .map { p =>
        val state = p.stateOperators.map(_.numRowsTotal).sum
        (p.batchId, p.numInputRows, state)
      }
    val maxState = if (perBatch.isEmpty) -1L else perBatch.map(_._3).max

    println(Harness.jsonLine(spark, "cnj_stream_bench", Seq("stream_sec" -> streamSec,
      "batch_sec" -> batchSec) ++ parityFields ++ Seq("files_per_trigger" -> filesPerTrigger,
      "n_batches" -> perBatch.size, "max_state_rows" -> maxState,
      "batches" -> perBatch.map { case (id, in, st) =>
        Harness.Obj("batch" -> id, "input_rows" -> in, "state_rows" -> st) }): _*))
    spark.stop()
    if (!parity) sys.exit(1)
  }

  /** The streamed Resumo of `dir` into the memory table `name`, complete
    * mode, at most `filesPerTrigger` court files per microbatch. */
  private def start(spark: SparkSession, dir: String, filesPerTrigger: Int,
      name: String, checkpoint: Option[String] = None): StreamingQuery = {
    val w = MetasJob.stringlyOutput(
        MetasJob.resumoTyped(spark, Reader.readDirStream(spark, dir,
          Map("maxFilesPerTrigger" -> filesPerTrigger.toString))))
      .writeStream.format("memory").queryName(name).outputMode("complete")
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Runs `q` to the end of its input, then stops it. */
  private def drain(q: StreamingQuery): StreamingQuery = {
    try q.processAllAvailable() finally q.stop()
    q
  }

  /** Cell-level parity of the memory table `table` with the batch truth,
    * under the float-determinism contract documented (and unit-tested)
    * on graft.cnj.ResultParity: byte-identical except counted-and-bounded
    * 0.01 rounding-boundary flips. Each differing cell is printed on
    * stderr. Returns the verdict and the report's JSON fields. */
  private def compare(spark: SparkSession, table: String,
      batch: IndexedSeq[Row]): (Boolean, Seq[(String, Any)]) = {
    val got = spark.table(table).collect()
    val r = ResultParity.compare(got.toIndexedSeq, batch)
    r.details.foreach(d => System.err.println(s"DIFF $d"))
    (r.parity(), Seq("parity" -> r.parity(), "hard_diff_cells" -> r.hardDiffs,
      "rounding_boundary_cells" -> r.boundaryCells, "total_cells" -> r.totalCells,
      "result_rows" -> got.length))
  }

  /** The kill-and-recover measurement (see object doc). */
  private def recoveryBench(spark: SparkSession, inDir: String,
      filesPerTrigger: Int, restartAfter: Int, batch: IndexedSeq[Row],
      batchSec: Double): Unit = {
    val ckpt = Some(java.nio.file.Files
      .createTempDirectory("cnj_recovery_ckpt").toString)

    // incarnation 1: run to the kill point (k completed input batches)
    val (preKillSec, q1) = Harness.timed {
      val q1 = start(spark, inDir, filesPerTrigger, "cnj_recovery_1", ckpt)
      val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
      while (q1.recentProgress.count(_.numInputRows > 0) < restartAfter &&
          System.nanoTime() < deadline) Thread.sleep(100)
      q1.stop()
      q1
    }
    val preBatches = q1.recentProgress.filter(_.numInputRows > 0)
    require(preBatches.length >= restartAfter,
      s"kill point never reached: ${preBatches.length} < $restartAfter batches")

    // incarnation 2: recover from the checkpoint, drain to completion
    val (recoverSec, q2) =
      Harness.timed(drain(start(spark, inDir, filesPerTrigger, "cnj_recovery_2", ckpt)))
    val postBatches = q2.recentProgress.filter(_.numInputRows > 0)
    val postState = q2.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).lastOption.getOrElse(-1L)

    val (parity, parityFields) = compare(spark, "cnj_recovery_2", batch)

    println(Harness.jsonLine(spark, "cnj_stream_recovery", Seq("batch_sec" -> batchSec,
      "pre_kill_sec" -> preKillSec, "recover_sec" -> recoverSec,
      "killed_after_batches" -> preBatches.length, "recovery_batches" -> postBatches.length,
      "recovery_input_rows" -> postBatches.map(_.numInputRows).sum,
      "pre_kill_input_rows" -> preBatches.map(_.numInputRows).sum,
      "state_rows_after_recovery" -> postState,
      "files_per_trigger" -> filesPerTrigger) ++ parityFields: _*))
    if (!parity) sys.exit(1)
  }
}
