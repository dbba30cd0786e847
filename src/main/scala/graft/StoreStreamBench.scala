package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._

import graft.operators.CorpusStore

/** Cross-JVM kill-and-recover measurement for
  * [[graft.operators.CorpusStore.appendStream]] — the store-side analogue
  * of CnjStreamBench's `cnj_stream_recovery`. The in-JVM idempotent-replay
  * contract is spec-locked (CorpusStoreSpec); this tool proves it across a
  * REAL process death at corpus scale: the victim JVM is `Runtime.halt`ed
  * mid-batch with a PARTIAL delta on disk and the batch's offset
  * uncommitted, and a second JVM restarts the stream from the checkpoint.
  * Structured Streaming replays the interrupted batch under the SAME
  * batchId, CorpusStore.append's same-seq overwrite replaces the partial
  * delta with the full batch, and the drained store must read identically
  * to an uninterrupted control run over the same input.
  *
  * Three phases, each its own JVM (sbt `run / fork` makes every runMain a
  * fresh process; the halt in `victim` kills only that process):
  *
  *   prep <work> [scale] [chunks]   stage the corpus: gen-model documents
  *     (GenScaledCorpus, scale x 5k docs) split into a base snapshot
  *     (CorpusStore.init) plus `chunks` OVERLAPPING single-file upsert
  *     chunks under <work>/input for the file stream source — overlap
  *     exercises cross-delta last-writer-wins, a `rev` column makes which
  *     write won observable.
  *   victim <work> <killAfter>      stream the chunks into the store
  *     (maxFilesPerTrigger=1, one delta per batch, appendStream's exact
  *     append call); on batchId == killAfter append only HALF the batch's
  *     rows — the on-disk state of a writer that died mid-delta — then
  *     halt(137) before foreachBatch returns, so the checkpoint never
  *     commits the batch. Exits 137 by design.
  *   recover <work>                 restart the REAL appendStream against
  *     the same checkpoint and drain; assert the killed batch replayed
  *     under its original batchId and its delta now holds the FULL chunk;
  *     then run the uninterrupted control (fresh store + checkpoint, same
  *     input) and compare CorpusStore.read row-for-row. Emits one
  *     `store_stream_recovery` JSON line; exit 1 on any parity failure.
  *
  * A second protocol (`repl-prep` / `repl-victim` / `repl-recover`) does
  * the same for the DOWNSTREAM half — [[CorpusStore.replicateTo]], the
  * changesStream -> second-store replica — killing the REPLICATOR
  * mid-apply and asserting the recovered replica reads identically to
  * both an uninterrupted control replica and the primary itself. See the
  * section comment below.
  */
object StoreStreamBench {

  private val Key = "doc_id"

  private def inputStream(spark: SparkSession, work: String): DataFrame = {
    val schema = spark.read.parquet(s"$work/input").schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/input")
  }

  /** `count` overlapping key windows over `n` rows: window i covers
    * [i*step, i*step + rows) with rows = n / count and step = 0.8*rows,
    * so each window overwrites the tail of the previous one. Returns
    * (rows, step, windows). */
  private def overlapping(n: Long, count: Int): (Long, Long, IndexedSeq[Column]) = {
    val rows = n / count
    val step = math.max(1L, (rows * 4) / 5)
    (rows, step, (0 until count).map(i => col(Key) >= i * step && col(Key) < i * step + rows))
  }

  /** The numbers a victim recorded under `name` in its JSON note at
    * `path` (one number, or an array of them). */
  private def victimNote(path: String): String => IndexedSeq[Long] = {
    val json = Files.readString(Paths.get(path))
    name => s""""$name":\\[?([0-9, ]*)""".r.findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toIndexedSeq)
      .filter(_.nonEmpty)
      .getOrElse(sys.error(s"$path missing $name"))
  }

  /** Drains a restarted stream to the end of its input and stops it;
    * returns the ids of the batches that read input. */
  private def drain(q: StreamingQuery): IndexedSeq[Long] = {
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.toIndexedSeq.filter(_.numInputRows > 0).map(_.batchId)
  }

  /** Rows only in `a` and rows only in `b`, as multisets. */
  private def diff(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.exceptAll(b).count(), b.exceptAll(a).count())

  def main(args: Array[String]): Unit = {
    lazy val scale = args.lift(2).fold(100)(_.toInt)
    lazy val windows = args.lift(3).fold(8)(_.toInt)
    args(0) match {
      case "prep"    => prep(args(1), scale, windows)
      case "victim"  => victim(args(1), args(2).toLong)
      case "recover" => recover(args(1))
      case "repl-prep"    => replPrep(args(1), scale, windows)
      case "repl-victim"  => replVictim(args(1), args(2).toLong)
      case "repl-recover" => replRecover(args(1))
      case other => sys.error(
        s"unknown phase '$other' (prep|victim|recover|repl-prep|repl-victim|repl-recover)")
    }
  }

  /** Stage base + overlapping upsert chunks ([[overlapping]] windows):
    * the replayed batch must win against its predecessor and lose to its
    * successor exactly as the uninterrupted run does. Each chunk is ONE
    * parquet file so maxFilesPerTrigger=1 maps one chunk to one
    * microbatch. */
  private def prep(work: String, scale: Int, chunks: Int): Unit = {
    val spark = Harness.session()
    val docs = GenScaledCorpus.documentsDf(spark, scale)
      .withColumn("rev", lit(0L))
    docs.write.mode(SaveMode.Overwrite).parquet(s"$work/base")
    val n = spark.read.parquet(s"$work/base").count()
    val (chunkRows, step, windows) = overlapping(n, chunks)
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$work/input"), true)
    fs.mkdirs(new Path(s"$work/input"))
    val base = spark.read.parquet(s"$work/base")
    windows.zipWithIndex.foreach { case (window, i) =>
      val chunk = base.filter(window)
        .withColumn("rev", lit(i + 1L))
        .coalesce(1)
      val stage = s"$work/stage_chunk"
      chunk.write.mode(SaveMode.Overwrite).parquet(stage)
      val part = fs.listStatus(new Path(stage))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      require(fs.rename(part, new Path(f"$work/input/chunk_$i%05d.parquet")),
        s"staging rename failed for chunk $i")
      fs.delete(new Path(stage), true)
    }
    println(Harness.jsonLine(spark, "store_stream_prep", "base_rows" -> n,
      "chunks" -> chunks, "chunk_rows" -> chunkRows, "step" -> step))
    spark.stop()
  }

  private def victim(work: String, killAfter: Long): Unit = {
    val spark = Harness.session()
    CorpusStore.init(spark.read.parquet(s"$work/base"), s"$work/store")
    val q = inputStream(spark, work).writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId == killAfter) {
          // a writer dying mid-delta: half the rows land, the offset
          // commit for this batch never happens
          val half = batch.filter(pmod(col(Key), lit(2L)) === 0)
          val halfRows = half.count()
          val fullRows = batch.count()
          CorpusStore.append(batch.sparkSession, s"$work/store", batchId,
            Key, half)
          Files.writeString(Paths.get(s"$work/victim.json"),
            s"""{"killed_batch":$batchId,"partial_rows":$halfRows,"full_rows":$fullRows}""")
          Console.out.flush(); Console.err.flush()
          Runtime.getRuntime.halt(137)
        } else CorpusStore.append(batch.sparkSession, s"$work/store", batchId,
          Key, batch)
      }
      .start()
    q.awaitTermination() // never returns normally: halt() kills the JVM
  }

  private def recover(work: String): Unit = {
    val spark = Harness.session()
    // the victim died holding (or having just released) the writer lease;
    // crashed-writer recovery breaks it explicitly instead of waiting out
    // the staleness bound — the documented appendStream restart step
    CorpusStore.breakLock(spark, s"$work/store")
    val note = victimNote(s"$work/victim.json")
    val killedBatch = note("killed_batch").head
    val partialRows = note("partial_rows").head
    val fullRows = note("full_rows").head
    val deltaDir = f"$work/store/delta_$killedBatch%019d"
    // the partial delta the victim left behind — evidence the crash
    // window is the one under test
    val beforeRows = spark.read.parquet(deltaDir).count()

    // incarnation 2: the REAL appendStream against the victim's checkpoint
    val (recoverSec, replayed) = Harness.timed(drain(CorpusStore.appendStream(
      inputStream(spark, work), s"$work/store", Key, s"$work/ckpt").start()))
    val afterRows = spark.read.parquet(deltaDir).count()

    // uninterrupted control: fresh store + checkpoint, same input
    val (controlSec, controlIds) = Harness.timed {
      CorpusStore.init(spark.read.parquet(s"$work/base"), s"$work/store_control")
      drain(CorpusStore.appendStream(inputStream(spark, work),
        s"$work/store_control", Key, s"$work/ckpt_control").start())
    }

    // parity: the recovered store must read exactly as the control
    val got = CorpusStore.read(spark, s"$work/store", Key)
    val want = CorpusStore.read(spark, s"$work/store_control", Key)
    val gotRows = got.count()
    val wantRows = want.count()
    val (onlyGot, onlyWant) = diff(got, want)
    val parity = gotRows == wantRows && onlyGot == 0L && onlyWant == 0L
    val overwrote = beforeRows == partialRows && afterRows == fullRows
    val replayedKilled = replayed.contains(killedBatch)

    println(Harness.jsonLine(spark, "store_stream_recovery", "killed_batch" -> killedBatch,
      "partial_delta_rows_before" -> beforeRows, "delta_rows_after_replay" -> afterRows,
      "full_chunk_rows" -> fullRows, "partial_overwritten" -> overwrote,
      "replayed_batch_ids" -> replayed, "replayed_killed_batch" -> replayedKilled,
      "recover_sec" -> recoverSec, "control_sec" -> controlSec,
      "control_batches" -> controlIds.size, "store_rows" -> gotRows, "control_rows" -> wantRows,
      "rows_only_in_recovered" -> onlyGot, "rows_only_in_control" -> onlyWant, "parity" -> parity))
    spark.stop()
    if (!(parity && overwrote && replayedKilled)) sys.exit(1)
  }

  // --------------------------------------------------------------------
  // CDC replication kill-and-recover: changesStream -> replicateTo into a
  // SECOND store, the downstream half composed with the upstream one.
  // Same three-JVM shape as the ingest protocol above; the victim is the
  // REPLICATOR this time (the primary is fully written in repl-prep), the
  // recover phase restarts the REAL CorpusStore.replicateTo against the
  // victim's checkpoint, and parity is judged BOTH against an
  // uninterrupted control replica and against the primary itself (the
  // operator's actual contract: replica.read == primary.read once
  // synced). maxFilesPerTrigger=3 deliberately MISALIGNS microbatches
  // with the primary's delta dirs (~4 files each), so the run also
  // proves per-key netting keeps a straddled seq correct.
  // --------------------------------------------------------------------

  private val ReplOpts = Map("maxFilesPerTrigger" -> "3")

  /** Stage the PRIMARY: a base snapshot plus `appends` overlapping
    * upsert+tombstone deltas (window i overwrites the tail of window
    * i-1 with rev = i+1; mod-13 keys inside each window are tombstoned
    * in the SAME append — the delete-wins tie-break — and partially
    * re-added by the next window's overlap). Each delta is written with
    * 4 part files so maxFilesPerTrigger=3 straddles seqs across
    * microbatches. */
  private def replPrep(work: String, scale: Int, appends: Int): Unit = {
    val spark = Harness.session()
    val docs = GenScaledCorpus.documentsDf(spark, scale)
      .withColumn("rev", lit(0L))
    CorpusStore.init(docs, s"$work/primary")
    val base = spark.read.parquet(s"$work/primary/base")
    val n = base.count()
    val (chunkRows, step, windows) = overlapping(n, appends)
    windows.zipWithIndex.foreach { case (window, i) =>
      CorpusStore.append(spark, s"$work/primary", i.toLong, Key,
        base.filter(window).withColumn("rev", lit(i + 1L)).repartition(4),
        deleteKeys = Some(base.filter(window && col(Key) % 13 === 0)
          .select(col(Key))))
    }
    val deltaFiles = spark.read.parquet(s"$work/primary/delta_*").inputFiles.length
    println(Harness.jsonLine(spark, "store_repl_prep", "base_rows" -> n,
      "appends" -> appends, "chunk_rows" -> chunkRows, "step" -> step,
      "delta_files" -> deltaFiles))
    spark.stop()
  }

  /** The replicator that dies: the REAL per-seq apply
    * ([[CorpusStore.applyChangeSlice]]) for every batch before
    * killAfter; on batchId == killAfter it applies only the even-key
    * HALF of the batch's rows (all seqs), then halts before foreachBatch
    * returns — a replicator dead mid-apply with partial replica deltas
    * on disk and the batch's offset uncommitted. */
  private def replVictim(work: String, killAfter: Long): Unit = {
    val spark = Harness.session()
    CorpusStore.init(spark.read.parquet(s"$work/primary/base"), s"$work/replica")
    val q = CorpusStore.changesStream(spark, s"$work/primary", ReplOpts)
      .writeStream
      .option("checkpointLocation", s"$work/rckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId == killAfter) {
          val half = batch.filter(pmod(col(Key), lit(2L)) === 0)
          val halfRows = half.count()
          val fullRows = batch.count()
          val seqs = batch.select(col("seq")).distinct().collect()
            .map(_.getLong(0)).sorted
          CorpusStore.applyChangeSlice(batch.sparkSession, s"$work/replica",
            Key, half)
          Files.writeString(Paths.get(s"$work/repl_victim.json"),
            s"""{"killed_batch":$batchId,"partial_rows":$halfRows,"full_rows":$fullRows,"killed_seqs":${seqs.mkString("[", ",", "]")}}""")
          Console.out.flush(); Console.err.flush()
          Runtime.getRuntime.halt(137)
        } else CorpusStore.applyChangeSlice(batch.sparkSession,
          s"$work/replica", Key, batch)
      }
      .start()
    q.awaitTermination() // never returns normally: halt() kills the JVM
  }

  private def replRecover(work: String): Unit = {
    val spark = Harness.session()
    // break the dead replicator's lease before restarting (see recover)
    CorpusStore.breakLock(spark, s"$work/replica")
    val note = victimNote(s"$work/repl_victim.json")
    val killedBatch = note("killed_batch").head
    val partialRows = note("partial_rows").head
    val fullRows = note("full_rows").head
    val killedSeqs = note("killed_seqs")
    // replica deltas are keyed by PRIMARY seq; the killed batch's seqs are
    // in a partial merged state right now. Row count alone is not enough
    // evidence — a skipped slice can be pure tombstone FLIPS for keys
    // already present (count unchanged, op values wrong) — so track the
    // netted tombstone count too.
    val rfs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def killedDeltaState(): (Long, Long) = killedSeqs.map { s =>
      val d = f"$work/replica/delta_$s%019d"
      if (!rfs.exists(new Path(d))) (0L, 0L)
      else {
        val df = spark.read.parquet(d)
        (df.count(), df.filter(col("__op") === "d").count())
      }
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    // the fully-synced expectation from the PRIMARY: one netted row per
    // distinct key, op 'd' for every key the primary append tombstoned
    val (expectedRows, expectedTombs) = killedSeqs.map { s =>
      val p = spark.read.parquet(f"$work/primary/delta_$s%019d")
      (p.select(Key).distinct().count(),
        p.filter(col("__op") === "d").select(Key).distinct().count())
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val (beforeRows, beforeTombs) = killedDeltaState()

    // incarnation 2: the REAL replicateTo against the victim's checkpoint
    val (recoverSec, replayed) = Harness.timed(drain(CorpusStore.replicateTo(
      spark, s"$work/primary", s"$work/replica", Key, s"$work/rckpt", ReplOpts).start()))
    val (afterRows, afterTombs) = killedDeltaState()

    // uninterrupted control replica: fresh store + checkpoint, same feed
    val (controlSec, controlIds) = Harness.timed {
      CorpusStore.init(spark.read.parquet(s"$work/primary/base"),
        s"$work/replica_control")
      drain(CorpusStore.replicateTo(spark, s"$work/primary",
        s"$work/replica_control", Key, s"$work/rckpt_control", ReplOpts).start())
    }

    // parity 1 (the operator contract): replica.read == primary.read
    val primary = CorpusStore.read(spark, s"$work/primary", Key)
    val replica = CorpusStore.read(spark, s"$work/replica", Key)
    val primRows = primary.count()
    val replRows = replica.count()
    val (onlyRepl, onlyPrim) = diff(replica, primary)
    val parityPrimary = primRows == replRows && onlyRepl == 0L && onlyPrim == 0L
    // parity 2: recovered replica == uninterrupted control replica
    val control = CorpusStore.read(spark, s"$work/replica_control", Key)
    val (onlyGotC, onlyCtlC) = diff(replica, control)
    val parityControl = onlyGotC == 0L && onlyCtlC == 0L
    // crash-state evidence: the killed seqs' replica deltas were short of
    // the primary's netted state (fewer keys OR fewer tombstones) before
    // the replay, and match it exactly after the merge-replay
    val overwrote = (beforeRows < expectedRows || beforeTombs < expectedTombs) &&
      afterRows == expectedRows && afterTombs == expectedTombs
    val replayedKilled = replayed.contains(killedBatch)

    println(Harness.jsonLine(spark, "store_replication_recovery", "killed_batch" -> killedBatch,
      "killed_seqs" -> killedSeqs, "victim_partial_rows" -> partialRows,
      "victim_batch_rows" -> fullRows, "killed_delta_rows_before" -> beforeRows,
      "killed_delta_tombs_before" -> beforeTombs, "killed_delta_rows_after" -> afterRows,
      "killed_delta_tombs_after" -> afterTombs, "killed_delta_rows_expected" -> expectedRows,
      "killed_delta_tombs_expected" -> expectedTombs, "partial_merged_to_full" -> overwrote,
      "replayed_batch_ids" -> replayed, "replayed_killed_batch" -> replayedKilled,
      "recover_sec" -> recoverSec, "control_sec" -> controlSec,
      "control_batches" -> controlIds.size, "primary_rows" -> primRows, "replica_rows" -> replRows,
      "rows_only_in_replica" -> onlyRepl, "rows_only_in_primary" -> onlyPrim,
      "parity_vs_primary" -> parityPrimary, "rows_only_vs_control" -> (onlyGotC + onlyCtlC),
      "parity_vs_control" -> parityControl))
    spark.stop()
    if (!(parityPrimary && parityControl && overwrote && replayedKilled)) sys.exit(1)
  }
}
