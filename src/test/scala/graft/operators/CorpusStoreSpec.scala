package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Merge-on-read corpus store: last-writer-wins resolution, tombstones,
  * idempotent same-seq replay, compaction equivalence, and the scale
  * contract — the base side of a read must reach the anti-join as a
  * broadcast, never an exchange.
  */
class CorpusStoreSpec extends SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft-test-store-$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  test("read resolves upserts, tombstones, and last-writer-wins across deltas") {
    val dir = freshDir("basic")
    CorpusStore.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "B1"), (4L, "d")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
    CorpusStore.append(spark, dir, 2L, "id",
      Seq((2L, "B2")).toDF("id", "fp"))
    val got = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "B2"), (4L, "d")))
  }

  test("same-seq re-append overwrites (idempotent replay); delete then re-add wins") {
    val dir = freshDir("replay")
    CorpusStore.init(Seq((1L, "a")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((1L, "WRONG")).toDF("id", "fp"))
    CorpusStore.append(spark, dir, 1L, "id", Seq((1L, "right")).toDF("id", "fp"))
    assert(CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "right")))
    // tombstone at seq 2, re-add at seq 3: latest wins
    CorpusStore.append(spark, dir, 2L, "id",
      Seq.empty[(Long, String)].toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    CorpusStore.append(spark, dir, 3L, "id", Seq((1L, "back")).toDF("id", "fp"))
    assert(CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "back")))
  }

  test("a key upserted AND tombstoned in one append resolves to the tombstone, deterministically") {
    val dir = freshDir("tie")
    CorpusStore.init(Seq((1L, "a"), (5L, "e")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((5L, "E-new"), (6L, "f")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(5L)).toDF("id")))
    // repeat the read: the winner must be stable run to run
    (1 to 3).foreach { _ =>
      val got = CorpusStore.read(spark, dir, "id")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(got.toSeq === Seq((1L, "a"), (6L, "f")),
        "within one seq the tombstone must win")
    }
  }

  test("compact folds deltas into the base and preserves the read exactly") {
    val dir = freshDir("compact")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 5L, "id", Seq((2L, "B"), (9L, "z")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    val before = CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    CorpusStore.compact(spark, dir, "id")
    val after = CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(after.toSeq === before.toSeq)
    // deltas are gone; appends continue from the compacted base
    CorpusStore.append(spark, dir, 6L, "id", Seq((9L, "z2")).toDF("id", "fp"))
    val next = CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(next.toSeq === Seq((2L, "B"), (9L, "z2")))
  }

  test("scale contract: the base side reads through a broadcast anti-join, no exchange") {
    val dir = freshDir("plan")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B")).toDF("id", "fp"))
    val plan = CorpusStore.read(spark, dir, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"base must anti-join via broadcast:\n$plan")
  }

  test("appendStream applies one delta per microbatch; batch replay is exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir("stream")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    val stream = MemoryStream[(Long, String)](spark)
    val q = CorpusStore.appendStream(
      stream.toDF().toDF("id", "fp"), dir, "id",
      checkpointLocation = freshDir("stream-ckpt")).start()
    try {
      // one processAllAvailable per addData: distinct microbatches, so
      // the (3L, ...) rewrite exercises cross-DELTA last-writer-wins
      // (within one delta, keys are contract-unique)
      stream.addData(Seq((2L, "B"), (3L, "c")))
      q.processAllAvailable()
      stream.addData(Seq((3L, "C2")))
      q.processAllAvailable()
    } finally q.stop()
    val got = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "C2")))
    // simulate the post-failure replay of the LAST batch under its own
    // batchId (what Structured Streaming does on restart): same-seq
    // overwrite keeps the state identical instead of double-applying
    CorpusStore.append(spark, dir, 1L, "id", Seq((3L, "C2")).toDF("id", "fp"))
    val replayed = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(replayed.toSeq === got.toSeq)
  }

  test("over-threshold delta mass falls back to a shuffled anti-join with identical output") {
    val dir = freshDir("bigdelta")
    CorpusStore.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "B"), (4L, "d")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
    val fast = CorpusStore.read(spark, dir, "id")
    val guarded = CorpusStore.read(spark, dir, "id", maxBroadcastKeys = 0L)
    // the guard must strip the hint from the LOGICAL plan (AQE may still
    // choose broadcast at runtime for tiny test data — that is its call,
    // bounded by the session threshold, not an unconditional forced hint)
    assert(fast.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "within-bound read should place the broadcast hint")
    assert(!guarded.queryExecution.optimizedPlan.toString.contains("strategy=broadcast"),
      "over-bound read must not force a broadcast")
    val a = fast.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val b = guarded.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq === b.toSeq && a.toSeq === Seq((1L, "a"), (2L, "B"), (4L, "d")))
  }

  test("a fold that died mid-write (no _SUCCESS) is invisible; reads stay pre-compact; next compact purges the debris") {
    val dir = freshDir("crashmid")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B")).toDF("id", "fp"))
    // simulate compact dying mid-fold-write: a base_gen_1 dir exists but
    // its write never committed (_SUCCESS absent)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val debris = f"$dir/base_gen_${1L}%019d"
    spark.read.parquet(s"$dir/base").write.parquet(debris)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$debris/_SUCCESS"), false))
    val got = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "B")),
      "an uncommitted generation must never be selected")
    // the next compact clears the debris and commits a real generation
    CorpusStore.compact(spark, dir, "id")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      f"$dir/base_gen_${1L}%019d/_SUCCESS")),
      "the retry reuses the generation number with a committed write")
    val after = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSeq === got.toSeq)
  }

  test("a compact committing while a reader loads its snapshot never pairs the old base with retired deltas") {
    import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path}
    val dir = freshDir("torn")
    CorpusStore.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B"), (9L, "z")).toDF("id", "fp"))
    CorpusStore.append(spark, dir, 2L, "id", Seq((2L, "BB")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    CorpusStore.append(spark, dir, 3L, "id", Seq((3L, "C")).toDF("id", "fp"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val expect = rows(CorpusStore.read(spark, dir, "id"))
    // compact's crash state 2: the fold is written but not committed
    val local = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen1 = new Path(f"$dir/base_gen_${1L}%019d")
    CorpusStore.read(spark, dir, "id").write.parquet(gen1.toString)
    val success = new Path(gen1, "_SUCCESS")
    assert(local.delete(success, false))
    val marks = local.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("delta_")).sortBy(_.getName).toSeq
      .map(new Path(_, "_folded"))
    // the rest of that compact, in its own order: commit, then ascending marks
    val steps: Seq[() => Unit] = (() => local.create(success, true).close()) +:
      marks.map(m => () => {
        val out = local.create(m, true)
        try out.write("1".getBytes("UTF-8")) finally out.close()
      })
    // `local`, running the remaining steps once k FS calls of the load are
    // done: all at once, or (stride) one per later call
    class Interleaved(k: Int, stride: Boolean) extends FilterFileSystem(local) {
      var calls = 0
      private var pending = steps
      def finish(): Unit = { pending.foreach(_()); pending = Nil }
      private def tick(): Unit = {
        if (calls >= k && pending.nonEmpty) {
          val n = if (stride) 1 else pending.size
          pending.take(n).foreach(_())
          pending = pending.drop(n)
        }
        calls += 1
      }
      override def listStatus(p: Path): Array[FileStatus] = { tick(); super.listStatus(p) }
      override def getFileStatus(p: Path): FileStatus = { tick(); super.getFileStatus(p) }
      override def open(p: Path, n: Int) = { tick(); super.open(p, n) }
    }
    val calls = { val f = new Interleaved(Int.MaxValue, false)
      CorpusStore.Snapshot.load(f, dir); f.calls }
    assert(calls == 1 + marks.size + 1, "one listing, one probe per marker")
    for (k <- 0 to calls; stride <- Seq(false, true)) {
      (success +: marks).foreach(local.delete(_, false))
      val f = new Interleaved(k, stride)
      val s = CorpusStore.Snapshot.load(f, dir)
      f.finish() // the compact completes before the reader's plan runs
      // the two ends of the loop see the two whole states
      if (k == 0 && !stride) assert(s.base.num == 1L && s.live.isEmpty)
      if (k == calls) assert(s.base.num == 0L && s.live.size == marks.size)
      assert(rows(CorpusStore.readSnapshot(spark, s, "id")) === expect,
        s"snapshot loaded with the compact landing after FS call $k " +
          s"(stride=$stride): base ${s.base.name}, live ${s.live.map(_.name)}")
    }
  }

  test("a fold committed before marking its deltas re-resolves them idempotently; next compact purges") {
    val dir = freshDir("crashpost")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 3L, "id", Seq((2L, "B"), (9L, "z")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    val expect = CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // simulate dying right after the new generation's _SUCCESS: the fold
    // is committed (written with _SUCCESS by the spark write below) but
    // every delta is still LIVE — re-resolving them must be idempotent
    CorpusStore.read(spark, dir, "id").write
      .parquet(f"$dir/base_gen_${1L}%019d")
    val got = CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === expect.toSeq,
      "live deltas over the folded generation must resolve to the same state")
    // gen-0 base and the stale delta survive until the NEXT compact (the
    // grace window), which purges them and folds whatever is live
    CorpusStore.compact(spark, dir, "id")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/base")),
      "the expired gen-0 base is purged by the next compact")
    val after = CorpusStore.read(spark, dir, "id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(after.toSeq === expect.toSeq)
  }

  test("compactIfNeeded is a checked cadence: folds past the ratio, not before") {
    val dir = freshDir("cadence")
    CorpusStore.init((1L to 100L).map(i => (i, s"v$i")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((1L, "V1")).toDF("id", "fp"))
    assert(!CorpusStore.compactIfNeeded(spark, dir, "id", maxDeltaToBaseRatio = 0.2),
      "1 delta row over 100 base rows is under a 0.2 cadence")
    CorpusStore.append(spark, dir, 2L, "id",
      (101L to 140L).map(i => (i, s"v$i")).toDF("id", "fp"))
    val before = CorpusStore.read(spark, dir, "id").count()
    assert(CorpusStore.compactIfNeeded(spark, dir, "id", maxDeltaToBaseRatio = 0.2))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // folded deltas are retired from plans (marked) but retained on disk
    // for the grace window; the cadence math must count LIVE deltas only
    val deltaDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("delta_"))
    assert(deltaDirs.forall(st => fs.exists(
      new org.apache.hadoop.fs.Path(st.getPath, "_folded"))),
      "every folded delta must carry the marker")
    assert(!CorpusStore.compactIfNeeded(spark, dir, "id", maxDeltaToBaseRatio = 0.2),
      "retained folded deltas must not re-trigger the cadence")
    assert(CorpusStore.read(spark, dir, "id").count() === before)
  }

  test("manifest maintenance: appends extend it in O(batch), prunedRead skips base files, compact rebuilds") {
    val dir = freshDir("manifest")
    // two well-separated id ranges -> at least two base files with
    // disjoint min/max boxes after a range repartition
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "fp")
      .repartitionByRange(4, col("id"))
    CorpusStore.init(base, dir, statsCols = Seq("id"))
    // O(batch) manifest contract: an append adds ONE new manifest part
    // and never reads or rewrites the existing parts (multi-part layout)
    val mfs = new org.apache.hadoop.fs.Path(s"$dir/manifest")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mParts() = mfs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/manifest"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getModificationTime, st.getLen)).sortBy(_._1)
    val mBefore = mParts()
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "V2"), (1000L, "new")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
    val mAfter = mParts()
    assert(mAfter.length === mBefore.length + 1,
      "append must extend the manifest by exactly one part")
    assert(mAfter.filter(p => mBefore.exists(_._1 == p._1)).toSeq === mBefore.toSeq,
      "append must leave every pre-existing manifest part byte-identical")
    // the composed read: box on low ids; answer-transparent under the
    // caller's row filter vs the full merge-on-read resolution
    val keep = graft.sources.ScanPruning.boxPredicate(Seq(("id", 1L, 50L)))
    val pruned = CorpusStore.prunedRead(spark, dir, "id", keep)
      .filter(col("id").between(1L, 50L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val full = CorpusStore.read(spark, dir, "id")
      .filter(col("id").between(1L, 50L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(pruned.toSeq === full.toSeq)
    assert(pruned.exists(_ == (2L, "V2")) && !pruned.exists(_._1 == 3L),
      "pruned read must still see delta overrides and tombstones")
    // structural evidence: the box kept strictly fewer base files
    val m = spark.read.parquet(s"$dir/manifest")
    val baseFiles = m.filter(col("file").contains("/base/"))
    assert(baseFiles.filter(keep).count() < baseFiles.count(),
      "box should prune at least one base file")
    // manifest covers the delta files too (appendManifest ran)
    assert(m.filter(col("file").contains("/delta_")).count() > 0)
    // replayed append must not leave stale manifest entries
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "V2"), (1000L, "new")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
    val files = spark.read.parquet(s"$dir/manifest")
      .select("file").collect().map(_.getString(0))
    assert(files.distinct.length === files.length)
    files.foreach { f =>
      assert(new java.io.File(f).exists(), s"manifest points at a deleted file: $f")
    }
    // compact folds deltas and rebuilds the manifest over the new base
    // GENERATION — no stale entries for deltas or the old base remain
    CorpusStore.compact(spark, dir, "id")
    val m2 = spark.read.parquet(s"$dir/manifest")
    assert(m2.filter(!col("file").contains("/base_gen_")).count() === 0)
    val prunedAfter = CorpusStore.prunedRead(spark, dir, "id", keep)
      .filter(col("id").between(1L, 50L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(prunedAfter.toSeq === full.toSeq)
    // compact crash state 5: manifest still points at the PREVIOUS
    // generation. prunedRead must detect the stale manifest (zero entries
    // under the current base) and self-heal by rebuilding — silent empty
    // pruning would LOSE the whole base
    graft.sources.ScanPruning.writeManifest(spark, s"$dir/base",
      s"$dir/manifest", Seq("id")) // the retained gen-0 dir = stale target
    val healed = CorpusStore.prunedRead(spark, dir, "id", keep)
      .filter(col("id").between(1L, 50L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(healed.toSeq === full.toSeq,
      "stale-manifest detection must rebuild, not prune to empty")
    assert(spark.read.parquet(s"$dir/manifest")
      .filter(!col("file").contains("/base_gen_")).count() === 0,
      "the self-heal leaves a manifest over the current generation")
  }

  test("readAt time-travels to every seq boundary; compact truncates history to the fold") {
    val dir = freshDir("timetravel")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B"), (4L, "d")).toDF("id", "fp"))
    CorpusStore.append(spark, dir, 2L, "id",
      Seq.empty[(Long, String)].toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    CorpusStore.append(spark, dir, 3L, "id", Seq((1L, "A2")).toDF("id", "fp"))
    def at(seq: Long) = CorpusStore.readAt(spark, dir, "id", seq)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(at(0L) === Seq((1L, "a"), (2L, "b")), "asOf before every delta is the base")
    assert(at(1L) === Seq((1L, "a"), (2L, "B"), (4L, "d")))
    assert(at(2L) === Seq((2L, "B"), (4L, "d")), "seq-2 tombstone visible, seq-3 re-add not")
    assert(at(99L) === Seq((1L, "A2"), (2L, "B"), (4L, "d")))
    assert(at(99L) === CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    // newer deltas are excluded by DIR NAME — readAt(1) must not open them
    assert(CorpusStore.readAt(spark, dir, "id", 1L).inputFiles
      .forall(f => !f.contains("delta_") || f.contains("0000000000000000001")),
      "readAt must not open newer delta dirs")
    CorpusStore.compact(spark, dir, "id")
    assert(at(0L) === at(99L), "compaction folds history: pre-fold seqs read as the folded state")
  }

  test("changesSince is the net per-key op from the newer deltas alone; the base is never read") {
    val dir = freshDir("cdc")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B"), (4L, "d")).toDF("id", "fp"))
    CorpusStore.append(spark, dir, 2L, "id",
      Seq.empty[(Long, String)].toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    CorpusStore.append(spark, dir, 3L, "id", Seq((1L, "A2")).toDF("id", "fp"))
    def feed(since: Long) = CorpusStore.changesSince(spark, dir, "id", since)
    val f0 = feed(0L).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2), r.getLong(3)))
    // key 1: deleted at 2, re-added at 3 -> net 'u' A2; 2 and 4 upserted at 1
    assert(f0.toSeq === Seq((1L, Some("A2"), "u", 3L),
      (2L, Some("B"), "u", 1L), (4L, Some("d"), "u", 1L)))
    val f1 = feed(1L).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2), r.getLong(3)))
    assert(f1.toSeq === Seq((1L, Some("A2"), "u", 3L)),
      "a sync at seq 1 nets delete-then-re-add to the re-add alone")
    // a consumer synced at seq 2 sees only the re-add
    val f2 = feed(2L).collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(f2.toSeq === Seq((1L, "A2", "u")))
    // fully-synced consumer: empty feed, schema intact
    val f3 = feed(3L)
    assert(f3.count() === 0 && f3.columns.toSeq === Seq("id", "fp", "op", "seq"))
    // O(changes) contract: the feed never opens the base
    assert(feed(0L).inputFiles.forall(!_.contains("/base")),
      "changesSince must read deltas only")
  }

  test("changesStream emits each append as change rows in its next microbatch; base untouched") {
    val dir = freshDir("cdcstream")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    val q = CorpusStore.changesStream(spark, dir).writeStream
      .format("memory").queryName("cdc_feed")
      .option("checkpointLocation", freshDir("cdcstream-ckpt")).start()
    try {
      CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B"), (4L, "d")).toDF("id", "fp"))
      q.processAllAvailable()
      val after1 = spark.table("cdc_feed").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(after1.toSeq === Seq((2L, "B", "u", 1L), (4L, "d", "u", 1L)))
      // a later tombstone append is discovered as a NEW microbatch
      CorpusStore.append(spark, dir, 2L, "id",
        Seq.empty[(Long, String)].toDF("id", "fp"),
        deleteKeys = Some(Seq(Tuple1(4L)).toDF("id")))
      q.processAllAvailable()
      val after2 = spark.table("cdc_feed").orderBy("seq", "id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2), r.getLong(3)))
      assert(after2.toSeq === Seq((2L, Some("B"), "u", 1L), (4L, Some("d"), "u", 1L),
        (4L, None, "d", 2L)), "raw rows in seq order, tombstone carries null payload")
    } finally q.stop()
  }

  test("lookup prunes base files via per-file key blooms on a HASH layout and answers exactly") {
    val dir = freshDir("bloomkv")
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "fp")
      .repartition(8, col("id")) // hash layout: min/max boxes span everything
    CorpusStore.init(base, dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "V2"), (1000L, "new")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
    val keys: Seq[Any] = Seq(1L, 2L, 3L, 1000L, 9999L)
    val got = CorpusStore.lookup(spark, dir, "id", keys)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "v1"), (2L, "V2"), (1000L, "new")),
      "override visible, tombstone gone, absent key absent")
    val full = CorpusStore.read(spark, dir, "id").filter(col("id").isin(keys: _*))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === full.toSeq, "lookup must equal the unpruned read")
    // structural: the box CANNOT prune this layout, the bloom can
    val m = spark.read.parquet(s"$dir/manifest")
    val baseFiles = m.filter(col("file").contains("/base/"))
    assert(baseFiles.filter(graft.sources.ScanPruning.boxPredicate(
      Seq(("id", 1L, 200L)))).count() === baseFiles.count(),
      "hash layout: every file's min/max box intersects a half-domain range")
    val pred = graft.sources.ScanPruning.keyLookupPredicate(
      spark, s"$dir/manifest", "id", keys)
    assert(baseFiles.filter(pred).count() < baseFiles.count(),
      "the bloom must skip at least one base file for a 5-key lookup")
    // compact rebuilds the manifest WITH its blooms; lookup still exact
    CorpusStore.compact(spark, dir, "id")
    assert(graft.sources.ScanPruning.manifestBloomCols(spark, s"$dir/manifest")
      === Seq("id"))
    val after = CorpusStore.lookup(spark, dir, "id", keys)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSeq === got.toSeq)
  }

  test("vacuum purges the grace window early; describe reports the store's state") {
    val dir = freshDir("vacuum")
    CorpusStore.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B")).toDF("id", "fp"))
    CorpusStore.append(spark, dir, 2L, "id", Seq((4L, "d")).toDF("id", "fp"))
    // nothing expired yet: vacuum is a no-op on a pre-compact store
    assert(CorpusStore.vacuum(spark, dir) === 0)
    val before = CorpusStore.describe(spark, dir)
      .collect().map(r => (r.getString(0), r.getBoolean(4))).toSeq
    assert(before.count(_._1 == "delta") === 2 && before.contains(("base", true)))
    CorpusStore.compact(spark, dir, "id")
    // grace window: the gen-0 base + 2 folded deltas survive the compact
    val mid = CorpusStore.describe(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(mid.count(_._1 == "folded_delta") === 2 &&
      mid.count(_._1 == "expired_gen") === 1 && mid.count(_._1 == "base") === 1)
    // early purge frees exactly those 3 dirs; reads are unchanged
    assert(CorpusStore.vacuum(spark, dir) === 3)
    assert(CorpusStore.vacuum(spark, dir) === 0, "vacuum is idempotent")
    val after = CorpusStore.describe(spark, dir).collect()
      .map(r => (r.getString(0), if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // post-compact state: the folded base (generation 1) plus the
    // replay fence (horizon seq 2 = the newest folded seq); no lease
    assert(after === Seq(("base", 4L, 1L), ("horizon", -1L, 2L)))
    assert(CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("lookupJoin: a keys FRAME prunes base files via blooms; fallback past the bound is identical") {
    val dir = freshDir("lookupjoin")
    val base = (1L to 400L).map(i => (i, s"v$i")).toDF("id", "fp")
      .repartition(8, col("id")) // hash layout: only blooms can prune
    CorpusStore.init(base, dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "V2"), (1000L, "new")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
    // probe side: duplicates and misses included — semi-join semantics
    val keys = Seq(1L, 2L, 2L, 3L, 1000L, 9999L).toDF("id")
    val want = CorpusStore.read(spark, dir, "id")
      .join(keys.distinct(), Seq("id"), "left_semi")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val pruned = CorpusStore.lookupJoin(spark, dir, "id", keys)
    assert(pruned.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    assert(want === Seq((1L, "v1"), (2L, "V2"), (1000L, "new")),
      "override visible, tombstone gone, absent key absent")
    // structural: the pruned plan lists FEWER base files than a full read
    val fullBaseFiles = CorpusStore.read(spark, dir, "id").inputFiles
      .count(_.contains("/base/"))
    val prunedBaseFiles = pruned.inputFiles.count(_.contains("/base/"))
    assert(prunedBaseFiles < fullBaseFiles,
      s"blooms must skip base files: $prunedBaseFiles/$fullBaseFiles opened")
    // big probe side (> OrChainMaxKeys distinct keys): array-probe path,
    // same answer contract
    val bigKeys = (1L to 120L).toDF("id")
    val bigWant = CorpusStore.read(spark, dir, "id")
      .join(bigKeys, Seq("id"), "left_semi")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(CorpusStore.lookupJoin(spark, dir, "id", bigKeys).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq === bigWant)
    // past maxPruneKeys: full-read fallback, identical answer
    assert(CorpusStore.lookupJoin(spark, dir, "id", keys, maxPruneKeys = 1L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    // empty probe side: empty result, store schema
    val none = CorpusStore.lookupJoin(spark, dir, "id",
      Seq.empty[Long].toDF("id"))
    assert(none.count() === 0L && none.columns.toSeq === Seq("id", "fp"))
    // as-of lookup: at seq 0 the delta is invisible — pre-batch versions
    // return for changed keys, the tombstoned key is still alive, the
    // inserted key does not exist yet
    val at0 = CorpusStore.lookupJoin(spark, dir, "id",
      Seq(2L, 3L, 1000L).toDF("id"), asOfSeq = Some(0L))
    assert(at0.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((2L, "v2"), (3L, "v3")))
    // no bloom manifest for the key: fallback still answers
    val plainDir = freshDir("lookupjoin-plain")
    CorpusStore.init((1L to 50L).map(i => (i, s"v$i")).toDF("id", "fp"), plainDir)
    assert(CorpusStore.lookupJoin(spark, plainDir, "id", Seq(7L, 8L).toDF("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((7L, "v7"), (8L, "v8")))
  }

  test("schema evolution: widened deltas read/feed their new column; compact folds a widened base") {
    val dir = freshDir("evolve")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    // seq 1 ADDS a column; seq 2 is an old-schema writer (no lang)
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "B", "en"), (3L, "c", "pt")).toDF("id", "fp", "lang"))
    CorpusStore.append(spark, dir, 2L, "id", Seq((4L, "d")).toDF("id", "fp"))
    val evolved = CorpusStore.read(spark, dir, "id", evolveSchema = true)
    assert(evolved.columns.toSeq === Seq("id", "fp", "lang"))
    val got = evolved.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq === Seq((1L, "a", None), (2L, "B", Some("en")),
      (3L, "c", Some("pt")), (4L, "d", None)),
      "base rows and old-schema delta rows read null in the added column")
    // the CDC feed merges schemas across heterogeneous deltas too
    val feed = CorpusStore.changesSince(spark, dir, "id", 0L)
    assert(feed.columns.contains("lang"))
    assert(feed.filter(col("id") === 2L).head().getAs[String]("lang") === "en")
    // compact(evolveSchema) pays the one O(corpus) widening write;
    // PLAIN reads carry the new column from then on
    CorpusStore.compact(spark, dir, "id", evolveSchema = true)
    val after = CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(after.toSeq === got.toSeq)
  }

  test("compact(clusterBy) re-lays the base: boxes tighten, pruning resumes, content unchanged") {
    val dir = freshDir("recluster")
    // hash layout: every file's min/max box spans the id domain
    CorpusStore.init((1L to 400L).map(i => (i, s"v$i")).toDF("id", "fp")
      .repartition(8, col("id")), dir, statsCols = Seq("id"))
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "V2"), (1000L, "x")).toDF("id", "fp"))
    val before = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val keep = graft.sources.ScanPruning.boxPredicate(Seq(("id", 1L, 50L)))
    val preSurv = spark.read.parquet(s"$dir/manifest")
      .filter(col("file").contains("/base/")).filter(keep).count()
    CorpusStore.compact(spark, dir, "id", clusterBy = Seq("id"),
      clusterFiles = 8) // tiny corpus: pin the file count (AQE would coalesce to 1)
    val after = CorpusStore.read(spark, dir, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSeq === before.toSeq, "re-clustering must not change content")
    val m = spark.read.parquet(s"$dir/manifest")
    assert(m.filter(keep).count() < m.count(),
      "the re-laid base must have prunable boxes")
    assert(m.filter(keep).count() <= preSurv,
      "clustering must not make pruning worse than the hash layout")
    val pruned = CorpusStore.prunedRead(spark, dir, "id", keep)
      .filter(col("id").between(1L, 50L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(pruned.toSeq === after.filter(t => t._1 >= 1L && t._1 <= 50L).toSeq)
    // multi-column clusterBy goes through the z-order writer (plumbing +
    // content check; pruning quality is ZOrderSpec's subject)
    val dir2 = freshDir("recluster2")
    CorpusStore.init((1L to 100L).map(i => (i, i % 7, s"v$i"))
      .toDF("id", "grp", "fp"), dir2)
    CorpusStore.append(spark, dir2, 1L, "id", Seq((5L, 5L, "V5")).toDF("id", "grp", "fp"))
    val want2 = CorpusStore.read(spark, dir2, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    CorpusStore.compact(spark, dir2, "id", clusterBy = Seq("id", "grp"))
    val got2 = CorpusStore.read(spark, dir2, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got2.toSeq === want2.toSeq)
  }

  test("a widened base over old-schema deltas stays readable on EVERY path (evolve-compact crash state)") {
    // simulate compact(evolveSchema=true) dying right after its base swap:
    // the new base is WIDENED, the old-schema deltas are still present —
    // the "every crash point leaves a readable store" invariant must hold
    // for plain read/prunedRead/lookup, not only evolve reads
    val dir = freshDir("evolvecrash")
    val wide = Seq((1L, "a", "en"), (2L, "b", "pt")).toDF("id", "fp", "lang")
      .repartitionByRange(2, col("id"))
    CorpusStore.init(wide, dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    // an old-schema writer's delta (no lang), exactly what a pre-widening
    // append leaves behind
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B2")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
    val got = CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq === Seq((2L, "B2", None)),
      "old-schema delta rows must read null in the widened column, not throw")
    val pruned = CorpusStore.prunedRead(spark, dir, "id",
        graft.sources.ScanPruning.boxPredicate(Seq(("id", 0L, 100L)))).collect()
    assert(pruned.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "B2")))
    val looked = CorpusStore.lookup(spark, dir, "id", Seq(1L, 2L)).collect()
    assert(looked.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "B2")))
  }

  test("changesStream's start-time schema covers already-widened deltas; restart-to-widen documented") {
    val dir = freshDir("cdcwide")
    CorpusStore.init(Seq((1L, "a"), (2L, "b")).toDF("id", "fp"), dir)
    // the widening append lands BEFORE the stream starts — its added
    // column must arrive in the feed (r12 pinned the schema to the BASE,
    // silently dropping it; the batch feed changesSince carried it, so
    // the two CDC forms disagreed on the same store)
    CorpusStore.append(spark, dir, 1L, "id",
      Seq((2L, "B", "en"), (3L, "c", "pt")).toDF("id", "fp", "lang"))
    val q = CorpusStore.changesStream(spark, dir).writeStream
      .format("memory").queryName("cdc_wide")
      .option("checkpointLocation", freshDir("cdcwide-ckpt")).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cdc_wide").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getAs[String]("lang")),
          r.getAs[String]("op"), r.getAs[Long]("seq")))
      assert(rows.toSeq === Seq((2L, "B", Some("en"), "u", 1L),
        (3L, "c", Some("pt"), "u", 1L)),
        "the stream must carry the widened column with its values")
      // an old-schema delta appended while running still fits the schema
      CorpusStore.append(spark, dir, 2L, "id", Seq((4L, "d")).toDF("id", "fp"))
      q.processAllAvailable()
      val after = spark.table("cdc_wide").filter(col("seq") === 2L).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getAs[String]("lang"))))
      assert(after.toSeq === Seq((4L, "d", None)))
      // stream schema == batch feed schema on the same store (the r12 gap)
      assert(spark.table("cdc_wide").columns.toSeq ===
        CorpusStore.changesSince(spark, dir, "id", 0L).columns.toSeq)
    } finally q.stop()
  }

  test("a reader plan overlapping ONE compact completes on its snapshot; overlapping TWO loses to the purge") {
    val dir = freshDir("readerrace")
    CorpusStore.init((1L to 100L).map(i => (i, s"v$i")).toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B")).toDF("id", "fp"))
    // the reader lists its files at plan time (read() builds the file
    // index eagerly); the compact then commits a NEW generation and only
    // MARKS the folded deltas — nothing this plan holds is touched
    val overlapping = CorpusStore.read(spark, dir, "id")
    CorpusStore.compact(spark, dir, "id")
    val got = overlapping.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 100 && got.exists(_ == (2L, "B")),
      "a plan listed before the compact must complete on its snapshot")
    // a post-compact plan reads the same content from the new generation
    val fresh = CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(fresh.toSeq === got.toSeq)
    assert(CorpusStore.read(spark, dir, "id").inputFiles
      .forall(_.contains("base_gen_")), "new plans read the new generation only")
    // the grace window is ONE cycle: a plan still holding the PRE-compact
    // snapshot across a SECOND compact loses its files to the purge
    CorpusStore.append(spark, dir, 2L, "id", Seq((1000L, "C")).toDF("id", "fp"))
    CorpusStore.compact(spark, dir, "id")
    val e = intercept[Exception] { overlapping.count() }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
      String.valueOf(c.getMessage).contains("does not exist") ||
      String.valueOf(c.getMessage).contains("FileNotFound")),
      s"a two-cycle-old plan must fail loudly on the purge, got: $e")
    // the documented recovery: re-run — the fresh plan reads the current state
    val rerun = CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rerun.length === 101 && rerun.exists(_ == (1000L, "C")))
  }

  test("replicateTo keeps a replica read-equivalent through upserts, tombstones, and netted batches") {
    val primary = freshDir("repl-primary")
    val replica = freshDir("repl-replica")
    CorpusStore.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp"), primary)
    CorpusStore.init(spark.read.parquet(s"$primary/base"), replica)
    val q = CorpusStore.replicateTo(spark, primary, replica, "id",
      checkpointLocation = freshDir("repl-ckpt")).start()
    try {
      CorpusStore.append(spark, primary, 1L, "id",
        Seq((2L, "B"), (4L, "d")).toDF("id", "fp"),
        deleteKeys = Some(Seq(Tuple1(3L)).toDF("id")))
      q.processAllAvailable()
      def state(dir: String) = CorpusStore.read(spark, dir, "id")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(state(replica) === state(primary))
      assert(state(replica) === Seq((1L, "a"), (2L, "B"), (4L, "d")))
      // a key upserted and tombstoned in ONE primary append nets to the
      // tombstone on the replica (same tie-break as read)
      CorpusStore.append(spark, primary, 2L, "id",
        Seq((4L, "D2"), (5L, "e")).toDF("id", "fp"),
        deleteKeys = Some(Seq(Tuple1(4L)).toDF("id")))
      q.processAllAvailable()
      assert(state(replica) === state(primary))
      assert(!state(replica).exists(_._1 == 4L), "netted tombstone must win")
      // delete-then-re-add ACROSS seqs nets to the re-add even when both
      // land in the same replication microbatch
      CorpusStore.append(spark, primary, 3L, "id",
        Seq.empty[(Long, String)].toDF("id", "fp"),
        deleteKeys = Some(Seq(Tuple1(1L)).toDF("id")))
      CorpusStore.append(spark, primary, 4L, "id", Seq((1L, "A2")).toDF("id", "fp"))
      q.processAllAvailable()
      assert(state(replica) === state(primary))
      assert(state(replica).exists(_ == (1L, "A2")))
    } finally q.stop()
  }

  test("replication outcome is independent of slice arrival order within a seq (merge re-resolves the tie-break)") {
    // one primary append can put a key's 'u' and 'd' rows in DIFFERENT
    // files; a rate-limited change stream (maxFilesPerTrigger) can then
    // deliver them in separate microbatches, in either order. Applying
    // slices in arrival order would let the LAST-arrived op win; the
    // per-seq merge must re-resolve to the tombstone both ways.
    def run(firstOp: String, secondOp: String): Seq[(Long, String)] = {
      val replica = freshDir(s"slice-$firstOp$secondOp")
      CorpusStore.init(Seq((1L, "a")).toDF("id", "fp"), replica)
      def slice(op: String) = {
        val base = Seq((5L, if (op == "u") "V5" else null))
          .toDF("id", "fp").withColumn("op", lit(op)).withColumn("seq", lit(1L))
        if (op == "d") base.select(col("id"), lit(null).cast("string").as("fp"),
          col("op"), col("seq")) else base
      }
      CorpusStore.applyChangeSlice(spark, replica, "id", slice(firstOp))
      CorpusStore.applyChangeSlice(spark, replica, "id", slice(secondOp))
      CorpusStore.read(spark, replica, "id").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    assert(run("u", "d") === Seq((1L, "a")), "d after u: tombstone wins")
    assert(run("d", "u") === Seq((1L, "a")),
      "u after d: tombstone must STILL win — arrival order is not resolution order")
    // redelivery of the same slice is idempotent by content
    val replica = freshDir("slice-redeliver")
    CorpusStore.init(Seq((1L, "a")).toDF("id", "fp"), replica)
    val s = Seq((2L, "B")).toDF("id", "fp")
      .withColumn("op", lit("u")).withColumn("seq", lit(1L))
    CorpusStore.applyChangeSlice(spark, replica, "id", s)
    CorpusStore.applyChangeSlice(spark, replica, "id", s)
    assert(CorpusStore.read(spark, replica, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "B")))
  }

  test("read without deltas is the base; store survives an empty upsert batch") {
    val dir = freshDir("nodelta")
    CorpusStore.init(Seq((1L, "a")).toDF("id", "fp"), dir)
    assert(CorpusStore.read(spark, dir, "id").count() === 1)
    CorpusStore.append(spark, dir, 1L, "id",
      Seq.empty[(Long, String)].toDF("id", "fp"))
    assert(CorpusStore.read(spark, dir, "id").count() === 1)
  }

  test("deleteWhere tombstones exactly the matching keys and returns the count") {
    val dir = freshDir("dml-del")
    CorpusStore.init(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "fp"), dir)
    CorpusStore.append(spark, dir, 1L, "id", Seq((5L, "e")).toDF("id", "fp"))
    val n = CorpusStore.deleteWhere(spark, dir, "id", 2L, col("id") % 2 === 0)
    assert(n === 2L) // ids 2, 4
    assert(CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (3L, "c"), (5L, "e")))
    // the matched set saw the delta-1 upsert (state as of seq 1)
    val n2 = CorpusStore.deleteWhere(spark, dir, "id", 3L, col("fp") === "e")
    assert(n2 === 1L)
    assert(CorpusStore.read(spark, dir, "id").count() === 2)
  }

  test("deleteWhere same-seq replay recomputes the identical tombstone set (idempotent)") {
    val dir = freshDir("dml-del-replay")
    CorpusStore.init((1L to 10L).map(i => (i, s"v$i")).toDF("id", "fp"), dir)
    val n1 = CorpusStore.deleteWhere(spark, dir, "id", 1L, col("id") <= 4)
    // replay under the SAME seq: a current-state match would see its own
    // tombstones, shrink to 0 matches, and overwrite the delta with an
    // empty one — resurrecting ids 1-4. The pre-seq snapshot contract
    // must recompute the identical set instead.
    val n2 = CorpusStore.deleteWhere(spark, dir, "id", 1L, col("id") <= 4)
    assert(n1 === 4L && n2 === 4L)
    assert(CorpusStore.read(spark, dir, "id").count() === 6)
    // a DML seq OLDER than a live delta is misuse, not time travel
    CorpusStore.append(spark, dir, 5L, "id", Seq((20L, "x")).toDF("id", "fp"))
    intercept[IllegalArgumentException] {
      CorpusStore.deleteWhere(spark, dir, "id", 3L, col("id") === 20L)
    }
  }

  test("updateWhere rewrites only matching rows; all SET exprs see the pre-update row") {
    val dir = freshDir("dml-upd")
    CorpusStore.init(Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .toDF("id", "fp", "tag"), dir)
    // swap fp and tag on matched rows: a withColumn CHAIN would make
    // both columns equal; one projection must swap
    val n = CorpusStore.updateWhere(spark, dir, "id", 1L, col("id") <= 2,
      Map("fp" -> col("tag"), "tag" -> col("fp")))
    assert(n === 2L)
    assert(CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "c", "z")))
    // same-seq replay: recomputes from the pre-seq snapshot, so the swap
    // does NOT swap back
    CorpusStore.updateWhere(spark, dir, "id", 1L, col("id") <= 2,
      Map("fp" -> col("tag"), "tag" -> col("fp")))
    assert(CorpusStore.read(spark, dir, "id").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "c", "z")))
  }

  test("updateWhere rejects setting the key; DML composes with compact and manifest") {
    val dir = freshDir("dml-compose")
    CorpusStore.init((1L to 100L).map(i => (i, s"v$i")).toDF("id", "fp"),
      dir, statsCols = Seq("id"))
    intercept[IllegalArgumentException] {
      CorpusStore.updateWhere(spark, dir, "id", 1L, lit(true),
        Map("id" -> (col("id") + 1000L)))
    }
    CorpusStore.updateWhere(spark, dir, "id", 1L, col("id") <= 10,
      Map("fp" -> concat(col("fp"), lit("-u"))))
    CorpusStore.deleteWhere(spark, dir, "id", 2L, col("id") > 90,
      prune = Some(graft.sources.ScanPruning.boxPredicate(
        Seq(("id", 91L, Long.MaxValue)))))
    CorpusStore.compact(spark, dir, "id")
    val got = CorpusStore.read(spark, dir, "id")
    assert(got.count() === 90)
    assert(got.filter(col("fp").endsWith("-u")).count() === 10)
    // post-compact prunedRead still works (manifest rebuilt over new base)
    assert(CorpusStore.prunedRead(spark, dir, "id",
        graft.sources.ScanPruning.boxPredicate(Seq(("id", 1L, 5L))))
      .filter(col("id") <= 5).count() === 5)
  }
}
