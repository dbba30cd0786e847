package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.ScanPruning

/** Merge-on-read corpus store: the incremental-refresh layout that makes
  * [[Versioning.upsert]] affordable as a CONTINUOUS process. A plain
  * upsert rewrites the corpus per batch — O(corpus) writes for an
  * O(batch) change. This store keeps an immutable `base/` plus small
  * `delta_<seq>/` parquet dirs (upserts and tombstones), so:
  *
  *   - [[append]] costs O(batch): one delta dir written, nothing read.
  *   - [[read]] resolves last-writer-wins at scan time: the delta union
  *     (small) takes one window for latest-per-key; the base — the
  *     100 TB side — streams through a LEFT ANTI join on the distinct
  *     delta keys. The anti side is broadcast ONLY when the delta mass
  *     is counted small (parquet footer counts — a metadata read), so a
  *     store past its compaction cadence degrades to a shuffled
  *     anti-join instead of OOMing an executor on an unbounded
  *     broadcast (plan-asserted both ways in CorpusStoreSpec).
  *   - [[compact]] folds deltas into a new base when their mass warrants
  *     it, amortizing the O(corpus) rewrite over many appends — the
  *     LSM / merge-on-read pattern of the lakehouse table formats,
  *     expressed in plain parquet. [[compactIfNeeded]] makes the cadence
  *     a checked contract rather than an advisory comment.
  *   - An optional per-file stats manifest ([[graft.sources.ScanPruning]])
  *     is maintained INCREMENTALLY: [[init]] builds it, [[append]]
  *     extends it with one O(batch) aggregate over the new delta files,
  *     [[compact]] rebuilds it over the new base — so [[prunedRead]] can
  *     skip base files by min/max box (and [[lookup]] by per-file key
  *     bloom, layout-free) at any point in the append lifecycle without
  *     an O(corpus) manifest rescan.
  *   - [[readAt]] time-travels to any seq not yet folded by compaction;
  *     [[changesSince]] is the O(changes) CDC feed — the net per-key op
  *     since a consumer's last sync, read from the newer deltas alone.
  *
  * Sequence numbers are CALLER-supplied (a stream's batchId, a crawl
  * drop id): re-appending the same seq OVERWRITES that delta, so replays
  * after a failure are idempotent — and seqs must land NONDECREASING
  * across the store's life (checked: a seq at or below the fold horizon
  * fails loudly, see the guard in the append path). Contracts: keys
  * unique within base and within each delta. Single-writer is ENFORCED,
  * not promised: every mutation ([[append]], [[compact]],
  * [[compactDeltas]], [[vacuum]], DML) takes a create-exclusive lease
  * file (`_writer_lock`) and a second concurrent writer fails loudly
  * instead of corrupting silently; a lease abandoned by a crashed
  * writer is taken over after [[DefaultStaleLockMs]] (or immediately
  * via [[breakLock]] — the operator-intervention verb every table
  * format's lock story has).
  *
  * SNAPSHOT ISOLATION for readers: a compact never renames or deletes
  * what the current snapshot's readers hold — it writes the fold as a
  * NEW base generation (`base_gen_<n>`, committed by its `_SUCCESS`
  * marker), retires folded deltas with an in-dir marker new plans skip,
  * and purges the previous generation's files only at the START of the
  * NEXT compact. Readers therefore get a one-compact-cycle grace
  * window (the VACUUM-retention contract of the table formats,
  * expressed in plain parquet); a plan overlapping TWO compacts loses
  * its files and must re-run. See [[compact]]'s crash-state and
  * retention notes.
  *
  * ONE SNAPSHOT PER VERB: every verb reads the on-disk state once — a
  * [[Snapshot]] lists the store root a single time and classifies each
  * child (generations, deltas, manifest, lease, horizon) — and runs
  * every step against it. Writers load it AFTER taking the lease and
  * derive their post-purge and post-mark views in memory; [[maintain]]
  * decides on one snapshot and the fold it triggers loads its own under
  * the lease. The loader probes markers in the REVERSE of the writers'
  * commit order (the probe-order invariant): delta `_folded` markers
  * newest-first, then the `_SUCCESS` of minor folds and generations.
  * A fold committing while the probes run is therefore seen either
  * before its commit (old base, every delta live) or after it with a
  * NEWEST suffix of its deltas live — both resolve to the same rows
  * ([[compact]]'s crash states 3 and 4) — never as the old base with
  * its deltas already retired. One window stays open, next to the
  * two-compact limit above: a fold that creates, commits AND marks its
  * target entirely between the listing and the probes retires deltas
  * whose target the listing never saw, so that one read misses the
  * folded deltas and must re-run.
  */
object CorpusStore {

  private val SeqCol = "__seq"
  private val OpCol = "__op"

  /** Bound on the delta rows [[read]] will broadcast as an anti-join key
    * set. Footer row count, not distinct keys — a cheap upper bound.
    * Same order as [[Dedup]]'s maxBroadcastCandidates: ~2M ids is tens
    * of MB on the wire, safely under the 64 MB session threshold. */
  val DefaultMaxBroadcastKeys = 2000000L

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- writer lease -------------------------------------------------

  /** Lease file every store MUTATION holds for its duration: created
    * create-exclusive (the atomic primitive plain filesystems offer), so
    * a second concurrent writer fails loudly instead of silently
    * interleaving with a compact — the optimistic-commit/lock-file
    * discipline of the table formats, in its simplest sound form. */
  private val LockFile = "_writer_lock"

  /** Age past which an existing lease is presumed abandoned (its writer
    * crashed without the release running) and may be taken over. Ten
    * minutes bounds how long a crash can wedge the store; a LIVE writer
    * legitimately holding the lock longer (a multi-hour 100 TB compact)
    * should re-touch the lease or raise the bound via `staleLockMs`. */
  val DefaultStaleLockMs: Long = 600000L

  /** Run `body` holding the store's writer lease. Acquisition order:
    * create-exclusive; on conflict, take over a lease older than
    * `staleLockMs` (one delete + one retry — two racers both seeing a
    * stale lease still serialize on the exclusive create); otherwise
    * fail loudly with the holder's age. While `body` runs, a daemon
    * heartbeat re-touches the lease every staleLockMs/3, so a LIVE
    * long-running mutation (a multi-hour 100 TB compact) never ages
    * past the stale bound and loses its lock to a takeover — staleness
    * then means "no heartbeat for the bound", a crash signal, not a
    * duration cap on honest work. Released on every exit path; a
    * crashed JVM stops heartbeating and leaks the lease until
    * staleness or [[breakLock]]. Package-private for the spec. */
  /** ONE shared daemon timer for every lease heartbeat: a
    * java.util.Timer spawns its thread at construction, and a
    * per-acquisition timer would churn an OS thread per microbatch on a
    * streaming writer. Tasks are scheduled/cancelled per lock. */
  private lazy val LeaseTimer = new java.util.Timer("graft-writer-lease", true)

  private[operators] def withWriterLock[T](spark: SparkSession, dir: String,
      staleLockMs: Long = DefaultStaleLockMs)(body: => T): T = {
    val d = fs(spark, dir)
    d.mkdirs(new Path(dir))
    val p = new Path(dir, LockFile)
    val content =
      s"${java.util.UUID.randomUUID()} ${System.currentTimeMillis()}"
    def tryAcquire(): Boolean = {
      val uri = p.toUri
      if (uri.getScheme == null || uri.getScheme == "file") {
        // Hadoop's LOCAL create(overwrite = false) is exists-then-create
        // (a TOCTOU race two same-box writers can both win — observed as
        // doubled rows when two compacts' committers merged one
        // generation dir); O_EXCL via CREATE_NEW is the atomic form
        try {
          java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath),
            content.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: java.io.IOException => false }
      } else try {
        // HDFS/object-store create(overwrite = false) is atomic server-side
        val out = d.create(p, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
    if (!tryAcquire()) {
      val ageMs =
        try System.currentTimeMillis() - d.getFileStatus(p).getModificationTime
        catch { case _: java.io.IOException => Long.MaxValue } // vanished: retry
      if (ageMs > staleLockMs) d.delete(p, false)
      if (ageMs <= staleLockMs || !tryAcquire())
        throw new IllegalStateException(
          s"another writer holds $p (age ${ageMs / 1000}s <= stale bound " +
            s"${staleLockMs / 1000}s): the store is single-writer — wait, " +
            "or breakLock() if the holder is known dead")
    }
    val period = math.max(staleLockMs / 3, 50L)
    // release and heartbeat serialize on this monitor: Timer.cancel()
    // does not stop a task already MID-RUN, so an unsynchronized release
    // could delete the lease between the task's existence check and its
    // rewrite — the task would then re-create the file after release,
    // leaking a lease no one deletes that blocks every writer for the
    // whole stale bound
    val releaseGate = new Object
    @volatile var released = false
    val heartbeat = new java.util.TimerTask {
      override def run(): Unit = releaseGate.synchronized {
        // REWRITE, not setTimes: FileSystem.setTimes is a silent no-op in
        // the base class (object-store connectors inherit it, and object
        // mtime is creation time anyway) — an overwrite PUT refreshes the
        // lease's mtime on every filesystem. Guarded on existence so a
        // broken lock is not resurrected (the next verb's acquire
        // surfaces that conflict instead).
        try {
          if (!released && d.exists(p)) {
            val out = d.create(p, true)
            try out.write(content.getBytes("UTF-8")) finally out.close()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    LeaseTimer.schedule(heartbeat, period, period)
    try body finally {
      heartbeat.cancel()
      releaseGate.synchronized {
        released = true
        d.delete(p, false)
      }
    }
  }

  /** Remove an abandoned writer lease NOW (a crashed [[appendStream]]
    * writer's restart, a killed compact) instead of waiting out
    * [[DefaultStaleLockMs]]. Caller asserts the holder is dead — breaking
    * a LIVE writer's lease reintroduces exactly the double-writer
    * corruption the lease exists to prevent. Returns whether a lease
    * file was removed. */
  def breakLock(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).delete(new Path(dir, LockFile), false)

  // ---- on-disk layout -----------------------------------------------

  /** Store-root file recording the newest FOLDED seq (major or minor
    * compaction) — the replay fence: an append or DML at a seq at or
    * below it would overwrite a retired delta dir (destroying
    * grace-window files concurrent readers may hold) or silently give a
    * "current-state" verb a post-fold snapshot, so the write path
    * rejects it loudly. Monotonic; absent on a never-compacted store. */
  private val HorizonFile = "_horizon"

  /** Marker file a [[compact]] drops inside each delta it folded: the
    * delta's content now lives in the new base generation, so every NEW
    * plan skips the dir, while its FILES stay on disk until the next
    * compact for the benefit of plans that listed them earlier (the
    * snapshot grace window). Underscore-prefixed, so parquet readers and
    * the [[changesStream]] file source ignore the marker itself. Its
    * content is the RETIRING generation, so retention-aware [[vacuum]]
    * can age folded deltas by cycle. */
  private val FoldedMarker = "_folded"

  /** A Spark write's commit marker: the commit point of a base
    * generation and of a minor fold. */
  private val Committed = "_SUCCESS"

  /** Suffix of a MINOR-compaction delta dir (`delta_<seq>.m`): the
    * level-0 → level-1 fold of [[compactDeltas]] — many small live
    * deltas netted into ONE delta, base untouched. The suffix keeps the
    * fold's name distinct from the plain `delta_<seq>` it supersedes
    * (which stays on disk, retired, for the grace window) while parsing
    * and string-sorting to the same seq position. */
  private val MinorSuffix = ".m"

  /** Compacted base generations live in `base_gen_<n>` dirs; [[init]]'s
    * original snapshot is generation 0 at `base`. */
  private val GenPrefix = "base_gen_"

  private val ManifestDir = "manifest"

  private def deltaDirOf(dir: String, seq: Long): String =
    f"$dir/delta_$seq%019d"

  /** A small decimal state file's value (`_horizon`, `_folded`); None
    * when absent, empty (pre-retention markers) or torn. */
  private def readDecimal(d: FileSystem, p: Path): Option[Long] =
    try {
      val in = d.open(p)
      try {
        val buf = new Array[Byte](32) // a decimal Long is <= 20 bytes
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8").trim.toLong)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeDecimal(d: FileSystem, p: Path, v: Long): Unit = {
    val out = d.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** One base generation dir (gen-0 `base` or `base_gen_<n>`).
    * `committedAt` is its `_SUCCESS` mtime, None while the write has not
    * committed; gen-0 `base` counts as committed at its dir mtime. */
  private[operators] final case class GenDir(num: Long, path: String,
      committedAt: Option[Long]) {
    def name: String = new Path(path).getName
  }

  /** One `delta_<seq>[.m]` dir. `foldedAt` is its `_folded` marker's
    * mtime (None while unfolded); `successAt` the `_SUCCESS` mtime of a
    * MINOR fold (plain deltas are not probed at load: a torn append is
    * covered by the caller's same-seq replay contract, while a crashed
    * fold has no replaying writer, so its commit marker gates
    * liveness). `mtime` is the listed dir mtime. */
  private[operators] final case class DeltaDir(seq: Long, path: String,
      minor: Boolean, foldedAt: Option[Long], successAt: Option[Long],
      mtime: Long) {
    def name: String = new Path(path).getName
    def committed: Boolean = !minor || successAt.nonEmpty
    def live: Boolean = foldedAt.isEmpty && committed
  }

  /** The store's on-disk state as ONE verb sees it: the root listed once,
    * every child classified once (generations and deltas ascending by
    * name; manifest, lease and horizon presence). Every rule about the
    * layout lives here; the verbs only read these entries. Writers derive
    * their post-purge ([[without]]) and post-mark ([[retire]]) views in
    * memory instead of listing again. */
  private[operators] final case class Snapshot(dir: String, fs: FileSystem,
      gens: Seq[GenDir], deltas: Seq[DeltaDir], hasManifest: Boolean,
      hasLease: Boolean, hasHorizon: Boolean) {

    /** The current base: the newest COMMITTED generation, else the gen-0
      * `base` [[init]] wrote. The `_SUCCESS` marker is the commit point —
      * a fold that died mid-write never becomes current, and the
      * previous generation keeps serving reads. */
    lazy val base: GenDir = {
      val committed = gens.filter(_.committedAt.nonEmpty)
      require(committed.nonEmpty, s"no base snapshot in $dir: init the store first")
      committed.last
    }

    /** Live (unfolded, committed) deltas, ascending — what every read
      * resolves against. */
    def live: Seq[DeltaDir] = deltas.filter(_.live)

    def liveAt(asOfSeq: Long): Seq[String] =
      live.filter(_.seq <= asOfSeq).map(_.path)

    def manifest: String = s"$dir/$ManifestDir"

    /** The `_horizon` file's recorded seq, -1 when absent or torn. */
    lazy val recordedHorizon: Long =
      if (hasHorizon) readDecimal(fs, new Path(dir, HorizonFile)).getOrElse(-1L)
      else -1L

    /** The newest folded seq: the recorded horizon, or the max seq among
      * still-on-disk retired delta dirs when larger (pre-horizon stores /
      * a crash between marking and the horizon write), else -1 (nothing
      * folded — every seq >= 0 is appendable). */
    def horizon: Long = math.max(recordedHorizon,
      deltas.filter(_.foldedAt.nonEmpty).map(_.seq).maxOption.getOrElse(-1L))

    /** The generation whose creation retired a folded delta; markers from
      * before the retention feature are empty and age as generation 0
      * (always purgeable — the pre-feature behavior). */
    def foldedGen(x: DeltaDir): Long =
      readDecimal(fs, new Path(x.path, FoldedMarker)).getOrElse(0L)

    /** A delta's commit instant: the mtime of the `_SUCCESS` its write
      * dropped last (the dir's own mtime as fallback — markers touch the
      * dir, never the commit file). */
    def commitMs(x: DeltaDir): Long =
      x.successAt.orElse(Snapshot.stamp(fs, new Path(x.path), Committed))
        .getOrElse(x.mtime)

    def without(purged: Set[String]): Snapshot =
      copy(gens = gens.filterNot(g => purged(g.path)),
        deltas = deltas.filterNot(x => purged(x.path)))

    /** Mark `xs` folded by generation `gen` (in the given — ascending —
      * order, see [[compact]]'s crash state 4) and return the post-mark
      * view. */
    def retire(xs: Seq[DeltaDir], gen: Long): Snapshot = {
      xs.foreach(x => writeDecimal(fs, new Path(x.path, FoldedMarker), gen))
      val (marked, now) = (xs.map(_.path).toSet, Some(System.currentTimeMillis()))
      copy(deltas = deltas.map(x => if (marked(x.path)) x.copy(foldedAt = now) else x))
    }
  }

  private[operators] object Snapshot {
    /** A marker's mtime, None when absent. */
    def stamp(d: FileSystem, p: Path, marker: String): Option[Long] =
      try Some(d.getFileStatus(new Path(p, marker)).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }

    /** List `dir` once and probe its markers in the REVERSE of the
      * writers' commit order: delta `_folded` markers newest-first, then
      * the `_SUCCESS` of minor folds and generations (see the object
      * doc's probe-order invariant). */
    def load(d: FileSystem, dir: String): Snapshot = {
      val listed =
        try d.listStatus(new Path(dir)).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      def dirs(p: String => Boolean) = listed
        .filter(st => st.isDirectory && p(st.getPath.getName))
        .sortBy(_.getPath.getName)
      val deltaSts = dirs(_.startsWith("delta_"))
      val folded = deltaSts.reverse.map(st => stamp(d, st.getPath, FoldedMarker)).reverse
      val deltas = deltaSts.zip(folded).map { case (st, f) =>
        val n = st.getPath.getName.stripPrefix("delta_")
        val minor = n.endsWith(MinorSuffix)
        DeltaDir(n.stripSuffix(MinorSuffix).toLong, st.getPath.toString, minor, f,
          if (minor) stamp(d, st.getPath, Committed) else None,
          st.getModificationTime)
      }
      val gens = dirs(n => n == "base" || n.startsWith(GenPrefix)).map { st =>
        val n = st.getPath.getName
        if (n == "base") GenDir(0L, s"$dir/base", Some(st.getModificationTime))
        else GenDir(n.stripPrefix(GenPrefix).toLong, st.getPath.toString,
          stamp(d, st.getPath, Committed))
      }
      def has(n: String) = listed.exists(_.getPath.getName == n)
      Snapshot(dir, d, gens, deltas, has(ManifestDir), has(LockFile),
        has(HorizonFile))
    }
  }

  private def snapshot(spark: SparkSession, dir: String): Snapshot =
    Snapshot.load(fs(spark, dir), dir)

  /** Advance the horizon to `seq` (never backwards — a re-run compact
    * must not lower the fence). Monotonic against the RECORDED value
    * only: comparing against [[Snapshot.horizon]] would see the
    * just-marked dirs' fallback already AT `seq` and skip the write —
    * leaving the fence to live in the retired dirs alone, which the next
    * [[vacuum]]/compact purges, silently dropping the fence to -1 and
    * reopening every folded seq to replay (the bug a fence-after-vacuum
    * spec caught). Torn writes parse as absent and fall back to the
    * folded-dir listing until the next fold rewrites the file. */
  private def writeHorizon(s: Snapshot, seq: Long): Unit =
    if (seq > s.recordedHorizon)
      writeDecimal(s.fs, new Path(s.dir, HorizonFile), seq)

  /** Create/replace the base snapshot (generation 0) and drop any
    * existing deltas, folded markers, and older generations.
    * With `statsCols`, also build the file-skipping manifest over the
    * new base (one column-pruned scan) — [[append]] then maintains it
    * incrementally and [[prunedRead]] consumes it. `bloomCols` adds
    * per-file key blooms to the manifest for point lookups on
    * hash-laid-out (unclustered) corpora, where min/max boxes cannot
    * prune — see [[lookup]]. */
  def init(df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    withWriterLock(spark, dir) {
      val s = snapshot(spark, dir)
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/base")
      (s.deltas.map(_.path) ++ s.gens.filter(_.name != "base").map(_.path))
        .foreach(p => require(s.fs.delete(new Path(p), true), s"init: could not clear $p"))
      // a fresh store has no fold fence
      if (s.hasHorizon) s.fs.delete(new Path(dir, HorizonFile), false)
      if (statsCols.nonEmpty || bloomCols.nonEmpty)
        ScanPruning.writeManifest(spark, s"$dir/base", s.manifest,
          statsCols, bloomCols)
      else if (s.hasManifest) s.fs.delete(new Path(s.manifest), true)
    }
  }

  /** Append one refresh batch as `delta_<seq>`: `upserts` rows replace
    * base/earlier-delta rows with their key; `deleteKeys` (a 1-column
    * frame of keys) tombstone theirs. Same-seq re-append overwrites —
    * idempotent replay (including the manifest: the delta's old file
    * entries are dropped before the new ones land). O(batch) IO; the
    * corpus is not read. A key named in BOTH sides of one append
    * resolves deterministically to the tombstone (within a seq, delete
    * wins — see [[read]]'s tie-break). */
  def append(spark: SparkSession, dir: String, seq: Long, key: String,
      upserts: DataFrame, deleteKeys: Option[DataFrame] = None): Unit =
    withWriterLock(spark, dir) {
      doAppend(spark, snapshot(spark, dir), seq, key, upserts, deleteKeys)
    }

  /** [[append]] without the lease (callers already hold it). The fold
    * fence: a seq at or below the horizon names a RETIRED delta — its
    * overwrite would delete a `_folded` dir's files out from under
    * grace-window readers and resurrect pre-fold content as live, so it
    * fails loudly (a stream replaying a batch the store folded mid-crash
    * hits this; advance the consumer's checkpoint or re-init the store —
    * compaction past an in-flight writer's uncommitted batch is the
    * operational error, and this guard is where it surfaces). */
  private def doAppend(spark: SparkSession, s: Snapshot, seq: Long, key: String,
      upserts: DataFrame, deleteKeys: Option[DataFrame] = None): Unit = {
    require(seq >= 0, s"seq must be >= 0, got $seq")
    // fail at the WRITE, not two verbs later: a keyless batch would land
    // fine and then blow up every read's latest-per-key window with an
    // unresolved-column error pointing nowhere near the bad append.
    // Matches the session's resolution rules: case-insensitive unless
    // spark.sql.caseSensitive — a differently-cased key that every read
    // resolves fine must not be rejected at the write
    val hasKey =
      if (spark.sessionState.conf.caseSensitiveAnalysis)
        upserts.columns.contains(key)
      else upserts.columns.exists(_.equalsIgnoreCase(key))
    require(hasKey,
      s"append batch has no '$key' column (found: " +
        s"${upserts.columns.mkString(", ")}) — every upsert row must carry " +
        "the store's key")
    val horizon = s.horizon
    require(seq > horizon,
      s"append at seq $seq is at or below the fold horizon $horizon: that " +
        "delta was retired by a compaction and its files may be held by " +
        "grace-window readers — seqs must be strictly newer than every fold")
    val up = upserts.withColumn(OpCol, lit("u"))
    val all = deleteKeys match {
      case Some(dk) => up.unionByName(
        dk.select(col(key)).withColumn(OpCol, lit("d")),
        allowMissingColumns = true)
      case None => up
    }
    val deltaDir = deltaDirOf(s.dir, seq)
    all.withColumn(SeqCol, lit(seq))
      .write.mode(SaveMode.Overwrite).parquet(deltaDir)
    if (s.hasManifest) ScanPruning.appendManifest(spark, s.manifest, deltaDir)
  }

  /** The newest row per key across delta rows. Secondary tie-break on
    * __op: within one seq, 'd' sorts before 'u', so a key upserted AND
    * tombstoned in the same append deterministically resolves to the
    * tombstone (not whichever row the shuffle saw first). */
  private def latestPerKey(du: DataFrame, key: String): DataFrame =
    du.withColumn("__rn", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(SeqCol).desc, col(OpCol).asc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Last-writer-wins resolution of the delta dirs `deltas` over a base
    * frame (the bare base when there are none) — shared by
    * [[read]]/[[readAt]]/[[prunedRead]]/[[lookup]]/[[compact]]. The base
    * never shuffles while the delta mass is within `maxBroadcastKeys`
    * (footer-counted preflight — a driver-side
    * [[graft.sources.ParquetMeta]] read over the delta dirs, the same
    * number a count-star job would return without the job; total delta
    * rows bounds the distinct key count from above); past the bound the
    * resolution degrades to a plain shuffled anti-join with identical
    * output instead of an unbounded broadcast. */
  private def resolve(spark: SparkSession, base: DataFrame,
      deltas: Seq[String], key: String, maxBroadcastKeys: Long,
      evolveSchema: Boolean): DataFrame = {
    if (deltas.isEmpty) return base
    // with evolveSchema, merge the deltas' parquet schemas (an O(deltas)
    // footer read) so a widened delta's new columns survive a multi-dir
    // scan instead of being dropped to the first file's schema
    val du = if (evolveSchema) readDeltasMerged(spark, deltas)
      else graft.sources.ParquetMeta.read(spark, deltas)
    val deltaRows = graft.sources.ParquetMeta.rows(spark, deltas)
    val survivors = latestPerKey(du, key).filter(col(OpCol) === "u")
      .drop(OpCol, SeqCol)
    // broadcast path: NO distinct — LEFT ANTI ignores build-side
    // duplicates, the broadcast stays bounded by deltaRows (total rows
    // >= distinct keys, the same number the guard counts), and the
    // distinct's Exchange was a whole extra shuffle + AQE stage per read.
    // The shuffled fallback keeps the distinct: there the map-side
    // partial dedup cuts the shuffled bytes of a duplicate-heavy delta
    // union, which is exactly the regime that path exists for.
    val anti =
      if (deltaRows <= maxBroadcastKeys) broadcast(du.select(col(key)))
      else du.select(col(key)).distinct()
    val kept = base.join(anti, Seq(key), "left_anti")
    if (evolveSchema) kept.unionByName(survivors, allowMissingColumns = true)
    else {
      // null-fill base columns the delta schema omits instead of selecting
      // unresolved names: keeps the "every crash point leaves a readable
      // store" invariant when an evolveSchema [[compact]] died after its
      // base swap (widened base, old-schema deltas still present) — those
      // delta rows read null in the added columns, exactly what the
      // evolve read would say, instead of an AnalysisException
      val sCols = survivors.columns.toSet
      kept.unionByName(survivors.select(base.schema.map(f =>
        if (sCols.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*))
    }
  }

  /** A schema-merging read over delta dirs WITHOUT the inference job:
    * when every file carries the same Spark-written schema (footer
    * key-value metadata — the overwhelmingly common, non-evolved case)
    * the merged schema IS that schema, read driver-side and passed
    * explicitly. Only genuinely mixed schemas (a widened delta among
    * older ones) pay Spark's distributed mergeSchema inference, which is
    * built for exactly that case. Result-identical either way
    * (spec-locked in CorpusStoreSpec). */
  private def readDeltasMerged(spark: SparkSession,
      deltas: Seq[String]): DataFrame =
    graft.sources.ParquetMeta.uniformSparkSchema(spark, deltas) match {
      case Some(s) => spark.read.schema(s).parquet(deltas: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(deltas: _*)
    }

  /** The current corpus: base minus overridden/tombstoned keys, plus the
    * latest surviving delta row per key — [[resolve]]'s contract over
    * all deltas.
    *
    * `evolveSchema = true` is the lakehouse schema-evolution read: a
    * refresh batch may ADD columns without rewriting the corpus — the
    * result schema is base ∪ delta columns (base order first), base
    * rows read null in the added columns, and a delta row reads null in
    * any base column its schema omits (an upsert replaces the WHOLE
    * row; callers wanting carry-over include the columns in the batch).
    * The default (false) keeps the base schema exactly and is only
    * correct while every delta carries it. */
  def read(spark: SparkSession, dir: String, key: String,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false): DataFrame =
    readSnapshot(spark, snapshot(spark, dir), key, Long.MaxValue,
      maxBroadcastKeys, evolveSchema)

  private def baseFrame(spark: SparkSession, s: Snapshot): DataFrame =
    graft.sources.ParquetMeta.read(spark, Seq(s.base.path))

  /** [[readAt]] over an already-loaded snapshot. */
  private[operators] def readSnapshot(spark: SparkSession, s: Snapshot,
      key: String, asOfSeq: Long = Long.MaxValue,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false): DataFrame =
    resolve(spark, baseFrame(spark, s), s.liveAt(asOfSeq), key,
      maxBroadcastKeys, evolveSchema)

  /** Time travel: the corpus as of `asOfSeq` — base plus only the deltas
    * with seq <= asOfSeq (selected by DIR NAME, so newer deltas are
    * never even opened). History reaches back to the last [[compact]]:
    * compaction folds the deltas it consumes into the base, so seqs at
    * or below the fold point all read as the folded state (the
    * lakehouse VACUUM contract — retained history is bounded by
    * compaction cadence, by design, not accident). */
  def readAt(spark: SparkSession, dir: String, key: String, asOfSeq: Long,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false): DataFrame =
    readSnapshot(spark, snapshot(spark, dir), key, asOfSeq,
      maxBroadcastKeys, evolveSchema)

  /** Resolve a wall-clock instant to a SEQ — the TIMESTAMP-AS-OF half
    * of time travel, done the way the table formats do it: the
    * timestamp picks a committed version, the version read does the
    * rest. Returns the newest live delta seq whose commit instant
    * (its `_SUCCESS` mtime — the store filesystem's clock) is at or
    * before `asOfMs`, or -1 when none is (a [[readAt]] at -1 is the
    * bare current base). Resolving by commit time and THEN reading by
    * seq keeps the snapshot coherent when mtime order and seq order
    * disagree (a replayed older seq carries a newer mtime): a seq read
    * can never include seq n+1 while excluding seq n. Same truncation
    * contract as [[readAt]] — history reaches back to the last fold,
    * and a minor fold's commit instant REPLACES its constituents'
    * (the fold is their only surviving carrier). O(live deltas)
    * metadata, nothing scanned. */
  def seqAtTime(spark: SparkSession, dir: String, asOfMs: Long): Long =
    seqAt(snapshot(spark, dir), asOfMs)

  private def seqAt(s: Snapshot, asOfMs: Long): Long =
    s.live.filter(x => s.commitMs(x) <= asOfMs).map(_.seq).maxOption
      .getOrElse(-1L)

  /** [[readAt]] addressed by wall-clock instead of seq (the
    * TIMESTAMP AS OF form): [[seqAtTime]] resolves the instant to the
    * newest seq committed at or before it, then the seq read runs as
    * usual. The clock is the store FILESYSTEM's (commit-file mtimes),
    * not the ingesting stream's event time; a same-seq replay
    * refreshes its commit instant (the replay IS a new commit of the
    * same content). Compose the same way with [[changesSince]] for a
    * time-addressed CDC sync point. */
  def readAtTime(spark: SparkSession, dir: String, key: String, asOfMs: Long,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false): DataFrame = {
    val s = snapshot(spark, dir)
    readSnapshot(spark, s, key, seqAt(s, asOfMs), maxBroadcastKeys,
      evolveSchema)
  }

  /** Change-data feed: the NET change per key since `sinceSeq` — the
    * latest op ('u' with the row's new values, or 'd') across the deltas
    * with seq > sinceSeq, as data columns + `op` + `seq`. O(changes):
    * only the newer delta dirs are read, the base never is — the
    * incremental-consumer primitive (index refresh, downstream sync)
    * that costs what changed, not what exists. A consumer that applies
    * the feed to its copy of the `sinceSeq` state reaches the
    * [[read]]/[[readAt]] state for the newest seq ('d' for a key the
    * consumer never had is an idempotent no-op). Same truncation
    * contract as [[readAt]]: changes folded by a [[compact]] are no
    * longer individually replayable. */
  def changesSince(spark: SparkSession, dir: String, key: String,
      sinceSeq: Long): DataFrame = {
    val s = snapshot(spark, dir)
    val deltas = s.live.filter(_.seq > sinceSeq).map(_.path)
    if (deltas.isEmpty)
      return baseFrame(spark, s).filter(lit(false))
        .withColumn("op", lit("")).withColumn("seq", lit(0L))
    // schema-merging semantics unconditionally: the feed must carry a
    // widened delta's added columns even when older deltas in the range
    // lack them (readDeltasMerged: driver-side footer schema when uniform,
    // Spark's mergeSchema inference when genuinely mixed)
    latestPerKey(readDeltasMerged(spark, deltas), key)
      .withColumnRenamed(OpCol, "op").withColumnRenamed(SeqCol, "seq")
  }

  /** [[read]] with manifest-driven file skipping on the base: only base
    * files whose min/max box satisfies `keep` are opened; resolution
    * still anti-joins on ALL delta keys (a pruned-away delta could
    * otherwise resurrect the stale base version of a key), and delta
    * survivors are returned in full. Same answer-transparency contract
    * as [[ScanPruning.prunedScan]]: callers re-apply their row-level
    * predicate on the result — `keep` prunes, it never answers.
    * Requires a manifest (init/append with `statsCols`). `evolveSchema`
    * as in [[read]] — the escape hatch for reading widened deltas'
    * added columns before the widening compact has folded them.
    * Self-heal: a compact that died between committing its new base
    * generation and rebuilding the manifest leaves the manifest pointing
    * at the PREVIOUS generation — detected here as zero manifest entries
    * under the current base dir, repaired by one rebuild (the crash
    * window costs one extra O(corpus-files) stat pass, once).
    * `asOfSeq` time-travels the DELTA side exactly as [[readAt]] does
    * (deltas selected by dir name; same compaction-bounded history
    * contract) — the manifest pruning is unaffected, it only ever
    * covers the base. */
  def prunedRead(spark: SparkSession, dir: String, key: String, keep: Column,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false,
      asOfSeq: Option[Long] = None): DataFrame =
    prunedReadSnapshot(spark, snapshot(spark, dir), key, keep,
      maxBroadcastKeys, evolveSchema, asOfSeq.getOrElse(Long.MaxValue))

  private def prunedReadSnapshot(spark: SparkSession, s: Snapshot,
      key: String, keep: Column, maxBroadcastKeys: Long,
      evolveSchema: Boolean, asOfSeq: Long): DataFrame = {
    val baseDir = s.base.path
    require(s.hasManifest,
      s"prunedRead needs a manifest: init the store with statsCols, got none in ${s.dir}")
    val basePrefix = new Path(baseDir).toUri.getPath
    // stale-manifest detection (compact crash state 5) by PART NAME, a
    // driver metadata check instead of a limit(1) Spark job: the part
    // covering a data dir is named `<dirname>.parquet` by construction
    // (ScanPruning.writePart), so "no part named after the current base
    // generation" IS "no entry covers the current generation" — silent
    // empty pruning would LOSE base rows, so rebuild first
    val basePart = new Path(s.manifest, s"${new Path(baseDir).getName}.parquet")
    if (!s.fs.exists(basePart))
      ScanPruning.rebuildManifest(spark, baseDir, s.manifest)
    val baseSlice = ScanPruning.readManifest(spark, s.manifest)
      .filter(col("file").startsWith(basePrefix))
    resolve(spark, ScanPruning.prunedScan(spark, baseDir, baseSlice, keep),
      s.liveAt(asOfSeq), key, maxBroadcastKeys, evolveSchema)
  }

  /** Point/small-IN lookup by key: open only the base files whose bloom
    * may contain one of `keys` (manifest built with
    * `bloomCols = Seq(key)`), resolve deltas as usual, and return exactly
    * the matching rows. On a hash-laid-out 100 TB corpus this touches
    * ~(1 + fpp·files) base files instead of every one — the layout-free
    * complement to min/max pruning (which needs clustering to bite).
    * `keys` are bounded driver-side literals (an id list, not a join
    * side). */
  def lookup(spark: SparkSession, dir: String, key: String, keys: Seq[Any],
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false): DataFrame = {
    val s = snapshot(spark, dir)
    require(s.hasManifest,
      s"lookup needs a manifest: init the store with bloomCols = Seq(\"$key\")")
    val pred = ScanPruning.keyLookupPredicate(spark, s.manifest, key, keys)
    prunedReadSnapshot(spark, s, key, pred, maxBroadcastKeys, evolveSchema,
      Long.MaxValue).filter(col(key).isin(keys: _*))
  }

  /** Bound on the distinct probe-side keys [[lookupJoin]] will collect to
    * the driver to drive bloom file pruning: 100k longs/strings is a few
    * MB on the driver and one array-literal probe expression
    * ([[graft.sources.ScanPruning.keyLookupPredicate]]'s big-set form) —
    * past it the join falls back to a full [[read]] with no file
    * skipping, never an unbounded collect. */
  val DefaultMaxPruneKeys = 100000L

  /** Semi-join the store against an arbitrary KEYS FRAME with
    * bloom-driven base-file skipping — the runtime-file-pruning form of
    * [[lookup]] (whose keys are caller literals): the dynamic-partition-
    * pruning idea applied to the store's manifest. The distinct probe
    * keys are PINNED first (localCheckpoint — the probe side is the
    * SMALL side by contract), so the guard count, the collected bloom
    * probe, and the semi-join all see the SAME key set even when the
    * caller's frame is nondeterministic (a sample, a limit): a key set
    * that re-sampled differently between pruning and joining would
    * silently drop rows. When the pinned distinct keys fit
    * `maxPruneKeys`, they are collected and
    * probed against the per-file key blooms, so the base opens
    * ~(files holding a key + fpp·files) files regardless of layout; the
    * keys frame is then broadcast for the row-level semi-join. Past the
    * bound (or with no bloom manifest for `key`) the semi-join still
    * returns the identical answer over a full [[read]] — pruning is an
    * optimization, never a semantics change. Delta resolution is as in
    * [[read]]: an overridden key returns its delta version, a tombstoned
    * key is absent even if the probe side names it. `asOfSeq` makes it a
    * time-travel lookup ([[readAt]]'s delta selection; the blooms cover
    * the base, so pruning is snapshot-independent) — the primitive that
    * lets an incremental consumer fetch the PRE-batch version of just
    * the changed keys at O(changed keys) file opens. */
  def lookupJoin(spark: SparkSession, dir: String, key: String,
      keysDf: DataFrame, maxPruneKeys: Long = DefaultMaxPruneKeys,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      evolveSchema: Boolean = false,
      asOfSeq: Option[Long] = None): DataFrame = {
    val s = snapshot(spark, dir)
    val asOf = asOfSeq.getOrElse(Long.MaxValue)
    def full = readSnapshot(spark, s, key, asOf, maxBroadcastKeys, evolveSchema)
    val bloomed = s.hasManifest &&
      ScanPruning.manifestBloomCols(spark, s.manifest).contains(key)
    // pinned (eager, lineage-free) so guard/probe/join share one key set
    val ks0 = keysDf.select(col(key)).distinct()
    val ks = if (bloomed) ks0.localCheckpoint(true) else ks0
    def pruned(keyVals: Seq[Any]) = prunedReadSnapshot(spark, s, key,
        ScanPruning.keyLookupPredicate(spark, s.manifest, key, keyVals),
        maxBroadcastKeys, evolveSchema, asOf)
      .join(broadcast(ks), Seq(key), "left_semi")
    if (bloomed && maxPruneKeys < Int.MaxValue.toLong) {
      // guard count and probe collect FUSED into one limited collect off
      // the pin: at most maxPruneKeys + 1 rows reach the driver (the same
      // bound the separate count enforced), and the over-bound fallback
      // is detected by the extra row instead of a second Spark job
      val keyRows = ks.limit(maxPruneKeys.toInt + 1).collect()
      if (keyRows.isEmpty) full.filter(lit(false))
      else if (keyRows.length <= maxPruneKeys)
        pruned(keyRows.toIndexedSeq.map(_.get(0)))
      else full.join(ks, Seq(key), "left_semi")
    } else {
      val n = if (bloomed) ks.count() else Long.MaxValue
      if (bloomed && n == 0L) full.filter(lit(false))
      else if (bloomed && n <= maxPruneKeys)
        pruned(ks.collect().toIndexedSeq.map(_.get(0)))
      else full.join(ks, Seq(key), "left_semi")
    }
  }

  /** The snapshot a DML verb at `seq` mutates: the store as of `seq - 1`,
    * optionally through the manifest (`prune` skips base files like
    * [[prunedRead]]'s `keep` — an optimization with the same answer-
    * transparency contract: the verb re-applies its row predicate).
    * Guarded against misuse: a DML seq OLDER than a live delta would
    * silently mutate a historical snapshot while claiming current-state
    * semantics — fail loudly instead. Equality is allowed: that is the
    * verb's own crashed delta being replayed. The guard also checks the
    * FOLD HORIZON: right after a compact the live set is empty, so a
    * stale/reused seq would pass the live check alone — but its readAt
    * snapshot would silently resolve to the post-fold state rather than
    * a pre-seq one, and its append would clobber a retired delta dir. */
  private def dmlSnapshot(spark: SparkSession, s: Snapshot, key: String,
      seq: Long, prune: Option[Column], maxBroadcastKeys: Long): DataFrame = {
    val horizon = s.horizon
    require(seq > horizon,
      s"DML at seq $seq is at or below the fold horizon $horizon: its " +
        "pre-seq snapshot was folded away by a compaction, so current-state " +
        "semantics cannot be honored — use a seq newer than every fold")
    s.live.map(_.seq).maxOption.foreach(m => require(seq >= m,
      s"DML at seq $seq is older than live delta seq $m: row-level " +
        "DELETE/UPDATE has current-state semantics, so its seq must be " +
        "the newest (same-seq replay of the verb itself is allowed)"))
    prune match {
      case Some(keep) => prunedReadSnapshot(spark, s, key, keep,
        maxBroadcastKeys, evolveSchema = false, seq - 1)
      case None => readSnapshot(spark, s, key, seq - 1, maxBroadcastKeys)
    }
  }

  /** The DML write path shared by [[deleteWhere]]/[[updateWhere]]: under
    * the lease, append `delta_<seq>` built from the pre-`seq` snapshot
    * ([[dmlSnapshot]]) and return its rows — a parquet footer count, no
    * scan (driver-side footer read, no Spark job). */
  private def dml(spark: SparkSession, dir: String, key: String, seq: Long,
      prune: Option[Column], maxBroadcastKeys: Long)(
      batch: DataFrame => (DataFrame, Option[DataFrame])): Long =
    withWriterLock(spark, dir) {
      val s = snapshot(spark, dir)
      val (upserts, deleteKeys) =
        batch(dmlSnapshot(spark, s, key, seq, prune, maxBroadcastKeys))
      doAppend(spark, s, seq, key, upserts, deleteKeys)
      graft.sources.ParquetMeta.rows(spark, Seq(deltaDirOf(dir, seq)))
    }

  /** Row-level DELETE by predicate — `DELETE FROM store WHERE cond`, the
    * DML verb of the table formats, expressed in the merge-on-read log:
    * resolve the corpus AS OF `seq - 1` ([[readAt]]'s snapshot), filter
    * to `cond`, and append the matching keys as `delta_<seq>`
    * tombstones. The corpus is never rewritten — O(scan) read +
    * O(matches) write, folded away at the next [[compact]] like any
    * other change (and the tombstone delta extends a manifest with the
    * same O(batch) part [[append]] always writes).
    *
    * Matching against the PRE-`seq` snapshot rather than the current
    * read is what makes a same-seq replay IDEMPOTENT BY CONSTRUCTION: a
    * delete that crashed mid-write and re-runs under the same seq
    * recomputes the identical key set and overwrites its own partial
    * delta — where a current-state match would see its own surviving
    * tombstones, shrink the set, and silently resurrect rows. It also
    * means the matching plan never lists `delta_<seq>` while [[append]]
    * overwrites it (no read-own-write hazard, no pinning needed).
    *
    * `seq` must be newer than every live delta for current-state DELETE
    * semantics (the normal append contract); a zero-match delete still
    * writes an (empty) delta, so the seq is consumed either way.
    * `prune` optionally file-skips the base via the manifest; like
    * every [[ScanPruning]] `keep`, it must be implied by `cond` (it
    * prunes, it never answers). Single-writer, like every store
    * mutation. Returns the number of keys tombstoned. */
  def deleteWhere(spark: SparkSession, dir: String, key: String, seq: Long,
      cond: Column, prune: Option[Column] = None,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): Long =
    dml(spark, dir, key, seq, prune, maxBroadcastKeys)(snap =>
      (snap.limit(0), Some(snap.filter(cond).select(col(key)))))

  /** Row-level UPDATE by predicate — `UPDATE store SET c = expr WHERE
    * cond`: resolve the corpus as of `seq - 1`, filter to `cond`, apply
    * `set`, and append the rewritten rows as `delta_<seq>` upserts.
    * O(scan) read + O(matches) write; same pre-`seq` snapshot contract
    * as [[deleteWhere]] (same-seq replay recomputes the identical
    * update, so crash-and-replay is idempotent and the plan never reads
    * the delta it writes).
    *
    * ALL `set` expressions see the PRE-update row (one projection, not
    * a `withColumn` chain) — `Map("a" -> col("b"), "b" -> col("a"))`
    * swaps, exactly like SQL UPDATE. The key column cannot be set (an
    * upsert replaces the row WITH its key; rekeying is a delete+insert,
    * not an update). A `set` column outside the current schema is a
    * schema-WIDENING update: only the matched rows carry it, and it
    * rides the store's evolveSchema read/compact contract. Returns the
    * number of rows updated. */
  def updateWhere(spark: SparkSession, dir: String, key: String, seq: Long,
      cond: Column, set: Map[String, Column],
      prune: Option[Column] = None,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): Long = {
    require(set.nonEmpty, "updateWhere: empty SET")
    require(!set.contains(key),
      s"updateWhere cannot set the key column '$key': rekeying is a " +
        "delete + insert, not an update")
    dml(spark, dir, key, seq, prune, maxBroadcastKeys)(snap =>
      (snap.filter(cond).withColumns(set), None))
  }

  /** Continuous ingestion: apply a streaming frame of upserts to the
    * store, one delta per microbatch, keyed by the stream's batchId.
    * Exactly-once falls out of the seq contract: after a failure,
    * Structured Streaming replays the last uncommitted batch under the
    * SAME batchId, and the same-seq re-append overwrites the partial
    * delta instead of double-applying it (spec-locked in
    * CorpusStoreSpec; cross-JVM kill-and-recover measured in
    * StoreStreamBench). `checkpointLocation` is REQUIRED, not optional:
    * batchIds are durable and monotonic only under a stable checkpoint —
    * restarting without one resets batchIds to 0 and would silently
    * clobber delta_0, delta_1, ... written by the previous incarnation.
    * Manual [[append]]s sharing a streamed store must use seqs from a
    * disjoint range (e.g. reserve seqs >= 2^40 for manual drops); the
    * stream owns the low batchId range. A writer JVM killed mid-append
    * leaves its lease behind — call [[breakLock]] before restarting the
    * stream (or wait out [[DefaultStaleLockMs]]). Caller starts/stops
    * the returned query.
    *
    * `maintainEvery` > 0 runs the [[maintain]] policy after every that
    * many batches — the self-maintaining form: without it, a
    * long-running stream accumulates one delta dir + one manifest part
    * PER MICROBATCH (O(appends) listings and window inputs — exactly
    * the degradation [[compactDeltas]] exists to bound), and the folds
    * run on the writer's own foreachBatch thread, which is the one
    * place the single-writer lease makes them safe by construction.
    * Maintenance is deliberately NOT per-batch: the decision is cheap
    * but a fold inside every commit interval would stall the stream's
    * cadence; a stride of ~maxLiveDeltas keeps folds amortized. A
    * maintenance failure fails that microbatch (the stream stops loudly
    * and the restart replays it — the append is already committed and
    * the same-seq overwrite makes the replay idempotent). Downstream
    * [[changesStream]] consumers of a self-maintaining store must keep
    * within the retention window — majors happen when the ratio trips,
    * so size `maxDeltaToBaseRatio` AND the passthrough retention knobs
    * (`retainGenerations` cycles / `minRetainMs` — [[vacuum]]'s
    * contract, forwarded to every auto-triggered fold) to the laggiest
    * consumer: without them an auto-maintained store majors at the
    * classic one-cycle window, which a streaming cadence can turn over
    * in minutes. */
  def appendStream(stream: DataFrame, dir: String, key: String,
      checkpointLocation: String, maintainEvery: Int = 0,
      maxLiveDeltas: Int = 16, maxDeltaToBaseRatio: Double = 0.2,
      retainGenerations: Int = 1, minRetainMs: Long = 0L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(checkpointLocation.nonEmpty,
      "appendStream needs a checkpointLocation: without one a restarted " +
        "stream re-counts batchIds from 0 and overwrites existing deltas")
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch.sparkSession, dir, batchId, key, batch)
        // foldBelowSeq = batchId: this batch's checkpoint commit hasn't
        // landed yet, so its delta must stay live for a possible replay
        // — folding it would put the replayed append at or below the
        // horizon fence and wedge the restarted stream
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
          maintain(batch.sparkSession, dir, key, maxLiveDeltas,
            maxDeltaToBaseRatio, retainGenerations = retainGenerations,
            minRetainMs = minRetainMs, foldBelowSeq = batchId)
          ()
        }
      }
  }

  /** The store's deltas as a STREAMING source — the continuous form of
    * [[changesSince]]: a Structured Streaming file source over
    * `delta_*`, so each new append (manual or [[appendStream]]) is
    * discovered and emitted as raw change rows (data columns + `op` +
    * `seq`) in its next microbatch. The subscriber model of a log store,
    * over plain parquet: downstream consumers (index refresh, replica
    * sync) attach with their own checkpoint and pay O(changes), never
    * touching the base. Contracts the caller owns:
    *   - RAW rows, not netted: apply ops in `seq` order; within one seq
    *     apply 'u' before 'd', so the tombstone lands last and WINS —
    *     the same resolution [[read]]/[[changesSince]] use for a key
    *     upserted and deleted in a single append. (Or net per (seq, key)
    *     first with the same op tie-break — what [[replicateTo]] does,
    *     which also makes the outcome independent of file arrival
    *     order.)
    *   - A same-seq replayed append rewrites its delta dir with NEW part
    *     files, which the file source emits again — delivery across
    *     WRITER failures is at-least-once per seq; idempotent consumers
    *     key their apply on `seq` (e.g. foreachBatch into a second
    *     store, which the seq-overwrite contract makes exactly-once).
    *   - [[compact]] retires the deltas it folds from new plans and
    *     PURGES their files at the next compact; run compacts only past
    *     the consumers' sync horizon (the retention contract every log
    *     store has — cadence is the caller's checked knob via
    *     [[compactIfNeeded]]; the grace window covers a consumer
    *     already mid-batch, not one that lags a full cycle).
    *   - LIVENESS IS EVALUATED AT ATTACH: the stream's source covers
    *     exactly the deltas LIVE when it starts plus every later seq
    *     (the monotone-seq contract) — a delta already retired by a
    *     compact (major or minor) at attach time is excluded, so a
    *     fresh consumer attaching during the grace window neither
    *     re-ingests the folded history (O(folded mass) wasted IO) nor
    *     races the next compact's purge of those files mid-backfill.
    *     A RUNNING stream that already listed a delta keeps its
    *     snapshot, exactly like a batch reader.
    *   - The stream's schema is pinned at STREAM START: base ∪ columns
    *     of the deltas present at that moment (merged parquet footers —
    *     O(deltas) metadata, the same merge [[changesSince]] does). A
    *     delta widened AFTER start is read with this schema, its added
    *     columns absent — RESTART the stream to pick them up, the
    *     restart-to-widen contract every lakehouse CDC stream has
    *     (a running Structured Streaming query cannot change schema
    *     mid-flight).
    * `options` passes file-source knobs through (e.g.
    * `maxFilesPerTrigger` to rate-limit a backlog drain so one huge
    * catch-up doesn't become a single giant microbatch). */
  def changesStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val s = snapshot(spark, dir)
    val baseSchema = baseFrame(spark, s).schema
    val deltas = s.live.map(_.path)
    val dataSchema =
      if (deltas.isEmpty) baseSchema
      else {
        val ds = readDeltasMerged(spark, deltas)
          .schema.filterNot(f => baseSchema.fieldNames.contains(f.name) ||
            f.name == OpCol || f.name == SeqCol)
        ds.foldLeft(baseSchema)((s, f) => s.add(f)) // base order first
      }
    val schema = dataSchema
      .add(OpCol, org.apache.spark.sql.types.StringType)
      .add(SeqCol, org.apache.spark.sql.types.LongType)
    // attach-time liveness: name the live dirs explicitly and cover every
    // FUTURE seq with strictly-greater digit patterns — a bare `delta_*`
    // would also match already-retired (`_folded`) dirs, re-ingesting the
    // whole folded history on a fresh attach and racing the next
    // compact's purge of exactly those files
    val maxSeen = s.deltas.map(_.seq).maxOption.getOrElse(-1L)
    val pats = s.live.map(_.name) ++ seqGtPatterns(maxSeen)
    val glob = if (pats.size == 1) s"$dir/${pats.head}"
    else s"$dir/{${pats.mkString(",")}}"
    spark.readStream.schema(schema).options(options).parquet(glob)
      .withColumnRenamed(OpCol, "op").withColumnRenamed(SeqCol, "seq")
  }

  /** Glob alternatives matching a plain `delta_<19 digits>` dir whose
    * seq is strictly GREATER than `m`: one fixed-width digit-prefix
    * pattern per position (the standard way to express ">" in glob
    * syntax — for each position, pin the prefix and range the next
    * digit above it). Minor-fold dirs (`.m` suffix) deliberately do NOT
    * match: a fold created after stream start only restates seqs the
    * stream already covers via the originals. */
  private def seqGtPatterns(m: Long): Seq[String] =
    if (m < 0L) Seq("delta_" + "[0-9]" * 19)
    else {
      val pad = f"$m%019d"
      (0 until 19).flatMap { i =>
        val digit = pad(i)
        if (digit == '9') None
        else Some("delta_" + pad.take(i) + s"[${(digit + 1).toChar}-9]" +
          "[0-9]" * (18 - i))
      }
    }

  /** Continuous replication: [[changesStream]] composed with
    * [[append]] — apply one store's change feed to a second store, the
    * downstream half of the CDC story. Each microbatch is applied PER
    * SOURCE SEQ: the batch's rows for seq s land as the replica's
    * `delta_s`, netted per key with read's 'd'-beats-'u' tie-break. When
    * `delta_s` already exists on the replica it is MERGED, not
    * overwritten — a microbatch boundary can straddle one primary
    * append's files (e.g. under `maxFilesPerTrigger`), splitting a key's
    * same-seq 'u' and 'd' rows across two batches, and only re-resolving
    * the tie-break over the merged set keeps the outcome independent of
    * arrival order (applying slices in arrival order would let whichever
    * op arrived LAST win — the first cut of this operator had exactly
    * that bug, caught by the cross-JVM bench's parity-vs-primary gate).
    * The merge is also what makes every redelivery idempotent: a
    * replayed replicator microbatch, or a rewritten primary delta's
    * re-emitted files, nets into content already applied. Contracts:
    *   - `replicaDir` is an initialized store (e.g. [[init]] from the
    *     primary's base, or empty for a from-scratch rebuild with the
    *     stream started before the first primary append).
    *   - `replica.read == primary.read` once synced; replica deltas are
    *     keyed by PRIMARY seq, so [[readAt]] boundaries align with the
    *     primary's (within-seq u+d pairs net to the tombstone — the
    *     identical outcome under read/readAt/changesSince resolution).
    *   - Primary seqs must land nondecreasing (what [[appendStream]]
    *     guarantees: a restart replays its failed batch BEFORE producing
    *     newer seqs).
    *   - Schema is pinned at stream start ([[changesStream]]'s
    *     restart-to-widen contract); don't [[compact]] the REPLICA while
    *     the replicator runs (a late slice of an already-folded seq
    *     would resurrect it as a fresh delta).
    * Crash recovery: a replicator that dies mid-apply leaves some seqs
    * of its batch applied and at most one partial replica delta; the
    * restarted stream replays the SAME microbatch and every seq's merge
    * nets the redelivered rows into whatever landed — exactly-once by
    * content (measured cross-JVM in StoreStreamBench). Caller
    * starts/stops the returned query. */
  def replicateTo(spark: SparkSession, primaryDir: String, replicaDir: String,
      key: String, checkpointLocation: String,
      options: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(checkpointLocation.nonEmpty,
      "replicateTo needs a checkpointLocation: without one a restarted " +
        "replicator re-counts batchIds from 0 and overwrites replica deltas")
    changesStream(spark, primaryDir, options).writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyChangeSlice(batch.sparkSession, replicaDir, key, batch)
      }
  }

  /** One [[replicateTo]] microbatch: apply raw change rows (data + op +
    * seq) to `replicaDir`, one replica delta per source seq, merging
    * into an existing same-seq delta. Driver work is O(distinct seqs in
    * the batch) — bounded by the batch's file count. */
  private[graft] def applyChangeSlice(spark: SparkSession, replicaDir: String,
      key: String, batch: DataFrame): Unit = withWriterLock(spark, replicaDir) {
    // one snapshot serves every seq: each iteration writes only its own
    // delta dir, which no other iteration consults
    val snap = snapshot(spark, replicaDir)
    val seqs = batch.select(col("seq")).distinct().collect()
      .map(_.getLong(0)).sorted
    seqs.foreach { s =>
      val incoming = batch.filter(col("seq") === s).drop("seq")
      val deltaDir = deltaDirOf(replicaDir, s)
      val exists = snap.deltas.exists(x => !x.minor && x.seq == s)
      val merged = if (!exists) incoming
        else graft.sources.ParquetMeta.read(spark, Seq(deltaDir))
          .withColumnRenamed(OpCol, "op").drop(SeqCol)
          .unionByName(incoming, allowMissingColumns = true)
      val net = merged.withColumn("__brn", row_number().over(
          Window.partitionBy(col(key)).orderBy(col("op").asc)))
        .filter(col("__brn") === 1).drop("__brn")
      // the merge READS delta_s while append OVERWRITES it — pin the net
      // rows first (eager, lineage-free) so the write cannot consume its
      // own input; a lost block just fails the batch, which the stream
      // replays (the merge makes the replay idempotent)
      val pinned = if (exists) net.localCheckpoint(true) else net
      doAppend(spark, snap, s, key,
        pinned.filter(col("op") === "u").drop("op"),
        deleteKeys = Some(pinned.filter(col("op") === "d").select(col(key))))
    }
  }

  /** Fold the live deltas into a NEW base generation. O(corpus) — run at
    * compaction cadence ([[compactIfNeeded]]), not per batch.
    * Single-writer contract for compact itself; concurrent READERS get a
    * one-compact-cycle snapshot grace window (below).
    *
    * Nothing the previous snapshot's readers hold is renamed or deleted:
    * the fold lands in `base_gen_<g+1>` (its `_SUCCESS` is the commit
    * point), each folded delta gets a [[FoldedMarker]] making it
    * invisible to NEW plans while its files stay on disk, and the
    * PREVIOUS generation + previously-folded deltas are purged only at
    * the START of the NEXT compact. A plan that listed its files before
    * this compact therefore keeps reading the pre-compact snapshot and
    * completes — the retention window is one full compaction cycle (the
    * same VACUUM-retention statement every table format makes), not
    * zero. Readers must still complete within ONE cycle: a plan that
    * overlaps TWO compacts loses its files to the purge
    * (FileNotFoundException; safe to re-run — both are spec-locked in
    * CorpusStoreSpec).
    *
    * Every crash point leaves a readable store:
    *   1. purge of expired artifacts is idempotent (re-runs next time).
    *   2. die mid-fold-write: the new generation has no `_SUCCESS`, so
    *      [[Snapshot.base]] never selects it; reads are exactly
    *      pre-compact, and the next compact deletes the debris.
    *   3. die after `_SUCCESS`, before marking: the new generation
    *      already FOLDS every delta, so re-resolving the still-live
    *      deltas over it is idempotent — for each delta key the
    *      latest-per-key value equals the folded one.
    *   4. marking runs in ASCENDING seq order, so a crash leaves the
    *      NEWEST suffix live — exactly the subset whose latest-per-key
    *      values the folded base already carries (descending would
    *      leave an OLDER delta live to wrongly win resolution).
    *   5. die before the manifest rebuild: the manifest still points at
    *      the previous generation's files — [[prunedRead]] detects that
    *      no entry matches the current base and self-heals by
    *      rebuilding (see its doc).
    */
  def compact(spark: SparkSession, dir: String, key: String,
      evolveSchema: Boolean = false, clusterBy: Seq[String] = Nil,
      clusterFiles: Int = 0, retainGenerations: Int = 1,
      minRetainMs: Long = 0L, foldBelowSeq: Long = Long.MaxValue): Unit =
    withWriterLock(spark, dir) {
      // purge the grace window left by PREVIOUS compacts ([[vacuum]]):
      // generations older than the retention horizon (including incomplete
      // fold debris), the gen-0 base once out of retention, and retired
      // deltas past their cycle. Hadoop FileSystem delete reports failure
      // by RETURNING false, not throwing — vacuum aborts via require while
      // the store is still readable.
      val s = doVacuum(spark, snapshot(spark, dir), retainGenerations,
        minRetainMs)._1
      // foldBelowSeq (default unbounded) is the same replay fence as
      // [[compactDeltas]]': deltas at or above it stay LIVE over the new
      // base — they are strictly newer than everything folded, so
      // resolution over (new base + remaining deltas) is unchanged
      val deltas = s.live.filter(_.seq < foldBelowSeq)
      if (deltas.nonEmpty) fold(spark, s, deltas, key, evolveSchema,
        clusterBy, clusterFiles)
    }

  /** [[compact]]'s fold of `deltas` into generation `base + 1`. */
  private def fold(spark: SparkSession, s: Snapshot, deltas: Seq[DeltaDir],
      key: String, evolveSchema: Boolean, clusterBy: Seq[String],
      clusterFiles: Int): Unit = {
    // evolveSchema folds widened deltas into a WIDENED base — the one
    // O(corpus) write schema evolution ever pays, amortized over the
    // same cadence as any compact; plain reads carry the new columns
    // from then on
    val folded = resolve(spark, baseFrame(spark, s), deltas.map(_.path), key,
      DefaultMaxBroadcastKeys, evolveSchema)
    val gen = s.base.num + 1
    val newDir = f"${s.dir}/$GenPrefix$gen%019d"
    // clusterBy: compaction is already the O(corpus) rewrite, so it is
    // the natural (free-shuffle) moment to LAY OUT the new base — range
    // for one column, z-order for several — making every file's min/max
    // box tight again after appends scattered the key space; the
    // manifest rebuild below then prunes like a fresh landing. Content
    // is unchanged (Layout's answer-transparency contract).
    // clusterFiles > 0 pins the output file count (an explicit
    // repartition is exempt from AQE coalescing); 0 lets the session
    // size the files — the right default at scale, where AQE's
    // bytes-per-partition target IS the row-group sizing policy.
    clusterBy match {
      case Nil =>
        folded.write.mode(SaveMode.Overwrite).parquet(newDir)
      case Seq(c) =>
        val ranged = if (clusterFiles > 0)
          folded.repartitionByRange(clusterFiles, col(c))
        else folded.repartitionByRange(col(c))
        ranged.sortWithinPartitions(col(c))
          .write.mode(SaveMode.Overwrite).parquet(newDir)
      case cs =>
        graft.sources.Layout.zorderWrite(folded, newDir, cs,
          files = clusterFiles)
    }
    // the write's _SUCCESS committed the new generation; retire the
    // folded deltas from NEW plans (ascending — see crash state 4)
    s.retire(deltas, gen)
    // advance the replay fence: seqs at or below the fold are dead
    writeHorizon(s, deltas.map(_.seq).max)
    if (s.hasManifest) ScanPruning.rebuildManifest(spark, newDir, s.manifest)
  }

  /** MINOR (delta-level) compaction — the LSM level-0 → level-1 fold:
    * net the live deltas into ONE committed delta dir
    * (`delta_<maxSeq>.m`, every row re-stamped at the newest folded seq)
    * and retire the originals, WITHOUT touching the base. [[compact]]
    * bounds the delta/base ROW ratio; this bounds the delta DIR and
    * manifest-part COUNT — at streaming cadence (thousands of appends
    * per major fold) file listing, the latest-per-key window's input
    * width, and the manifest part union all degrade as O(appends) long
    * before the row ratio trips [[compactIfNeeded]]. O(delta mass)
    * compute and IO; the base — the 100 TB side — is never read.
    *
    * Answer contracts (spec-locked in MinorCompactSpec):
    *   - [[read]] / [[readAt]](s >= fold seq) / [[lookup]] /
    *     [[lookupJoin]] / [[prunedRead]]: identical answers — the
    *     net-per-key fold IS resolution's own algebra ('d' beats 'u'
    *     within a seq, newest seq wins).
    *   - [[changesSince]](s): the same net op per key; the `seq` column
    *     is RE-ATTRIBUTED to the fold seq (folded history is no longer
    *     individually replayable — [[compact]]'s truncation contract at
    *     delta granularity). A consumer synced INSIDE the folded range
    *     re-receives the whole folded net; net-state ops are idempotent
    *     to re-apply, so the feed stays correct, just coarser.
    *   - [[readAt]](s INSIDE the folded range): resolves to the nearest
    *     retained boundary BELOW (base + deltas older than the fold) —
    *     where major compaction truncates old seqs UP to the folded
    *     state, a minor fold truncates interior seqs DOWN to the
    *     pre-fold boundary. Keep history by folding less often, not by
    *     expecting folds to preserve it.
    *
    * Crash discipline mirrors [[compact]]'s:
    *   1. an uncommitted fold (no `_SUCCESS`) is invisible to every
    *      reader ([[Snapshot.live]]'s commit gate) and purged by the next
    *      compactDeltas/vacuum.
    *   2. die after `_SUCCESS`, before marking: the fold RESTATES the
    *      originals' latest-per-key content at the max seq, so the
    *      union of fold + still-live originals resolves identically
    *      (duplicate keys agree in content; the fold's seq wins).
    *   3. a re-run detects the committed-but-unmarked fold and FINISHES
    *      the marking instead of re-folding (a refold would overwrite
    *      the fold dir while reading it).
    *   4. markers land ascending; the originals' manifest parts drop
    *      last (stale delta parts are inert — base pruning never
    *      consults them).
    * `foldBelowSeq` bounds the fold to live deltas with seq STRICTLY
    * below it (default unbounded): the replay fence for a writer whose
    * seq source can re-issue its newest seq — [[appendStream]]'s
    * maintenance passes its current batchId, so a batch whose
    * checkpoint commit hasn't landed yet can never be folded out from
    * under its own replay (a folded seq is at or below the horizon, and
    * the replayed append would fail [[doAppend]]'s fence loudly).
    * Returns whether a fold ran (needs >= 2 live deltas in bound). */
  def compactDeltas(spark: SparkSession, dir: String, key: String,
      foldBelowSeq: Long = Long.MaxValue): Boolean =
    withWriterLock(spark, dir) {
      val s0 = snapshot(spark, dir)
      // crash state 1: purge uncommitted fold debris (reader-invisible)
      val debris = s0.deltas.filter(x => !x.committed && x.foldedAt.isEmpty)
      debris.foreach(x => require(s0.fs.delete(new Path(x.path), true),
        s"compactDeltas: could not clear fold debris ${x.path}"))
      val s1 = s0.without(debris.map(_.path).toSet)
      val gen = s1.base.num + 1
      // crash state 3: a committed fold whose originals are still live —
      // finish retiring them (each is a restatement the fold already holds)
      val pre = s1.live
      val s = pre.filter(_.minor).maxByOption(_.seq).fold(s1) { f =>
        val stale = pre.filter(x => x != f && x.seq <= f.seq)
        val marked = s1.retire(stale, gen)
        if (stale.nonEmpty && s1.hasManifest)
          ScanPruning.dropParts(spark, s1.manifest, stale.map(_.name))
        marked
      }
      val live = s.live.filter(_.seq < foldBelowSeq)
      live.size >= 2 && {
        val maxSeq = live.map(_.seq).max
        // net per key across the live deltas — resolution's own window —
        // re-stamped at the fold seq (one delta dir = one seq, like an append)
        val foldDir = deltaDirOf(dir, maxSeq) + MinorSuffix
        latestPerKey(readDeltasMerged(spark, live.map(_.path)), key)
          .withColumn(SeqCol, lit(maxSeq))
          .write.mode(SaveMode.Overwrite).parquet(foldDir) // _SUCCESS commits
        s.retire(live, gen) // ascending (the snapshot sorts)
        writeHorizon(s, maxSeq)
        if (s.hasManifest) {
          ScanPruning.appendManifest(spark, s.manifest, foldDir)
          ScanPruning.dropParts(spark, s.manifest, live.map(_.name))
        }
        true
      }
    }

  /** Purge the snapshot grace window NOW instead of at the next
    * [[compact]]: base generations out of retention (and fold debris
    * without a `_SUCCESS`), the gen-0 `base` once out of retention,
    * retired (`_folded`) delta dirs past their cycle, and crashed
    * minor-fold debris. The explicit VACUUM verb of the table formats —
    * same single-writer contract (lease-enforced) and the same reader
    * consequence as compact's built-in purge: a plan that listed the
    * purged files before this call loses them (FileNotFoundException;
    * safe to re-run). Running it is never REQUIRED for correctness —
    * every compact does this housekeeping first — it exists for storage
    * pressure between compacts.
    *
    * `retainGenerations` is the VACUUM-retention knob of the table
    * formats, in cycles: generation `q` is purged only once the current
    * generation reaches `q + retainGenerations`, and a delta retired by
    * generation `f` only once it reaches `f + retainGenerations - 1`.
    * The default (1) is the classic one-compact-cycle grace window; at
    * 2+ a reader's plan survives that many compacts before losing its
    * files — the knob long-running 100 TB readers size to their longest
    * plan (pass the same value to [[compact]], whose built-in purge
    * honors it too).
    *
    * `minRetainMs` is the TIME half of the retention contract (the
    * VACUUM-retention DURATION of the table formats): an artifact out
    * of CYCLE retention is still held while younger than this many
    * milliseconds — aged from its RETIREMENT (a superseded generation
    * from its successor's `_SUCCESS` commit, a retired delta from its
    * `_folded` marker), the moment it left the live set — never from
    * its creation, so time served as current costs an artifact none of
    * its grace window. Cycles bound the artifact COUNT on a slow-compacting
    * store; the time floor protects a long-running plan on a
    * FAST-compacting one (an auto-maintained streaming store can cycle
    * generations in minutes — size the floor to the longest reader).
    * Uncommitted debris purges unconditionally under either knob (no
    * reader can hold a dir whose write never committed). Returns the
    * number of dirs purged. */
  def vacuum(spark: SparkSession, dir: String, retainGenerations: Int = 1,
      minRetainMs: Long = 0L): Int =
    withWriterLock(spark, dir) {
      doVacuum(spark, snapshot(spark, dir), retainGenerations, minRetainMs)._2
    }

  /** Purge `s`'s expired dirs; returns the post-purge view and the
    * number of dirs purged. */
  private def doVacuum(spark: SparkSession, s: Snapshot,
      retainGenerations: Int, minRetainMs: Long): (Snapshot, Int) = {
    require(retainGenerations >= 1,
      s"retainGenerations must be >= 1, got $retainGenerations")
    require(minRetainMs >= 0L, s"minRetainMs must be >= 0, got $minRetainMs")
    val expired = expiredDirs(s, retainGenerations, minRetainMs,
      System.currentTimeMillis())
    expired.foreach(p => require(s.fs.delete(new Path(p), true),
      s"vacuum: could not purge expired $p"))
    // purged delta dirs take their manifest parts with them (delta parts
    // are never consulted for base pruning, but a part pointing at
    // deleted files is clutter the multi-part layout can simply drop)
    val purgedDeltas = s.deltas.filter(x => expired.contains(x.path)).map(_.name)
    if (purgedDeltas.nonEmpty && s.hasManifest)
      ScanPruning.dropParts(spark, s.manifest, purgedDeltas)
    (s.without(expired.toSet), expired.size)
  }

  /** [[vacuum]]'s expiry rule over a snapshot's entries, at `now`. */
  private def expiredDirs(s: Snapshot, retainGenerations: Int,
      minRetainMs: Long, now: Long): Seq[String] = {
    val gen = s.base.num
    // the stamp a time-floored artifact ages from is its RETIREMENT
    // moment, not its creation: a retired delta ages from its `_folded`
    // marker, and a superseded generation from its SUCCESSOR's `_SUCCESS`
    // commit — a generation that served as current for hours would
    // otherwise be "old" the instant it was superseded, giving the
    // long-running readers the floor exists for zero protection.
    // An unknown stamp counts as infinitely old — the cycle knob is
    // then the only fence, exactly the pre-feature behavior.
    def aged(stamp: Long): Boolean =
      minRetainMs <= 0L || now - stamp >= minRetainMs
    def retiredAt(g: Long): Long = s.gens
      .collectFirst { case GenDir(n, _, Some(t)) if n > g => t }.getOrElse(0L)
    // uncommitted fold debris purges unconditionally (no reader can hold
    // it); complete generations, gen-0 `base` included, age out by the
    // retention window
    val gens = s.gens.filter(g => g.num != gen && (g.committedAt.isEmpty ||
      (gen >= g.num + retainGenerations && aged(retiredAt(g.num)))))
    val deltas = s.deltas.filter(x => x.foldedAt match {
      case Some(t) => gen >= s.foldedGen(x) + retainGenerations - 1 && aged(t)
      case None => !x.committed
    })
    gens.map(_.path) ++ deltas.map(_.path)
  }

  /** Operational snapshot of a store's on-disk state, one row per
    * artifact dir: `kind` (base | delta | folded_delta | incomplete_delta
    * | expired_gen | incomplete_gen | manifest), `name`, `seq` (delta seq
    * or generation number, null for gen-0 base and the manifest),
    * `n_rows` (parquet footer count — a metadata read; null for
    * incomplete debris, and for a dir a concurrent [[vacuum]]/[[compact]]
    * deleted mid-census), `live` (participates in the current snapshot's
    * reads); then one row each for the store-root state files when
    * present: `horizon` (seq = the newest folded seq) and `writer_lock`
    * (an in-flight writer's lease). Rows come from ONE [[Snapshot]] — a
    * single root listing — so they describe one consistent state.
    * O(dirs) driver work + one footer read per COMPLETE dir, live or not
    * (the grace-window mass is exactly what a vacuum decision needs);
    * nothing is scanned. The monitoring surface for cadence decisions
    * ([[compactIfNeeded]]'s inputs, the grace-window mass [[vacuum]]
    * would free, manifest presence). */
  def describe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = snapshot(spark, dir)
    val gen = s.base.num
    def rowsOf(p: String): Option[Long] =
      try Some(graft.sources.ParquetMeta.rows(spark, Seq(p))) catch {
        case scala.util.control.NonFatal(_) => None
      }
    val gens = s.gens.map { g =>
      val current = g.committedAt.nonEmpty && g.num == gen
      val kind = if (current) "base"
        else if (g.committedAt.isEmpty) "incomplete_gen" else "expired_gen"
      (kind, g.name, if (g.name == "base") None else Some(g.num),
        g.committedAt.flatMap(_ => rowsOf(g.path)), current)
    }
    val deltas = s.deltas.map { x =>
      val kind = if (!x.committed) "incomplete_delta" // crashed minor-fold debris
        else if (x.foldedAt.nonEmpty) "folded_delta" else "delta"
      (kind, x.name, Some(x.seq),
        if (x.committed) rowsOf(x.path) else None, x.live)
    }
    val none = Option.empty[Long]
    val state =
      (if (s.hasManifest) Seq(("manifest", ManifestDir, none, rowsOf(s.manifest), true))
        else Nil) ++
      (if (s.horizon >= 0L) Seq(("horizon", HorizonFile, Some(s.horizon), none, true))
        else Nil) ++
      (if (s.hasLease) Seq(("writer_lock", LockFile, none, none, true)) else Nil)
    (gens ++ deltas ++ state).toDF("kind", "name", "seq", "n_rows", "live")
  }

  /** Checked compaction cadence: fold when the delta row mass exceeds
    * `maxDeltaToBaseRatio` of the base (both parquet footer counts — a
    * metadata read, no data scan). Returns whether it compacted. Call
    * after appends (or on a timer) to keep [[read]] on its broadcast
    * fast path by contract instead of by comment. The major-only form
    * of [[maintain]] (one decision implementation, so the two public
    * cadence verbs cannot drift): an unreachable minor threshold leaves
    * exactly the ratio check. */
  def compactIfNeeded(spark: SparkSession, dir: String, key: String,
      maxDeltaToBaseRatio: Double = 0.2, evolveSchema: Boolean = false,
      clusterBy: Seq[String] = Nil): Boolean =
    maintain(spark, dir, key, maxLiveDeltas = Int.MaxValue,
      maxDeltaToBaseRatio, evolveSchema, clusterBy) == "major"

  /** The two-tier LSM maintenance policy — ONE checked verb deciding
    * both folds, so a store under continuous ingestion needs a single
    * call at its cadence instead of two hand-sequenced ones:
    *
    *   - MAJOR ([[compact]]) when the delta ROW mass exceeds
    *     `maxDeltaToBaseRatio` of the base — the read path's
    *     latest-per-key window and anti-join side are delta-mass-sized,
    *     so row mass is what degrades query plans.
    *   - else MINOR ([[compactDeltas]]) when the live delta DIR count
    *     reaches `maxLiveDeltas` — at streaming cadence the dir count,
    *     not the row mass, is what grows without bound (O(appends) file
    *     listings, window inputs, and manifest parts long before the
    *     row ratio trips).
    *   - else nothing.
    *
    * The decision is METADATA-ONLY (one dir listing + parquet footer
    * counts — no data scan), so calling it after every append costs
    * nothing when there is nothing to do. Tier order matters: a store
    * past BOTH thresholds takes the major fold (which subsumes the
    * minor one); checking the dir count first would pay the minor
    * fold's O(delta mass) write and then re-trip the ratio anyway.
    * Returns which tier ran: `"major"`, `"minor"`, or `"none"`.
    *
    * Caveats the caller owns (both inherited, not new): a major fold
    * retires deltas, so [[changesStream]] consumers must stay within
    * the retention window (`retainGenerations` cycles and at least
    * `minRetainMs` — size them to the laggiest consumer); and
    * maintenance takes the writer lease, so call it from the writer's
    * thread (e.g. [[appendStream]]'s `maintainEvery`), never
    * concurrently with it. */
  def maintain(spark: SparkSession, dir: String, key: String,
      maxLiveDeltas: Int = 16, maxDeltaToBaseRatio: Double = 0.2,
      evolveSchema: Boolean = false, clusterBy: Seq[String] = Nil,
      clusterFiles: Int = 0, retainGenerations: Int = 1,
      minRetainMs: Long = 0L, foldBelowSeq: Long = Long.MaxValue): String = {
    require(maxLiveDeltas >= 2,
      s"maxLiveDeltas must be >= 2 (a fold needs two inputs), got $maxLiveDeltas")
    require(maxDeltaToBaseRatio > 0,
      s"ratio must be > 0, got $maxDeltaToBaseRatio")
    // decide over the FOLDABLE set only (seq < foldBelowSeq): a delta
    // the fence excludes must neither trip a threshold nor be folded
    // one snapshot for the decision; the fold it triggers loads its own
    // under the writer lease
    val s = snapshot(spark, dir)
    val deltas = s.live.filter(_.seq < foldBelowSeq).map(_.path)
    if (deltas.isEmpty) return "none"
    // driver-side footer reads (ParquetMeta): the cadence decision is
    // metadata-only by contract — paying a Spark job per count would
    // make "call it after every append" cost two stages when idle
    val deltaRows = graft.sources.ParquetMeta.rows(spark, deltas)
    val baseRows = graft.sources.ParquetMeta.rows(spark, Seq(s.base.path))
    if (deltaRows > maxDeltaToBaseRatio * math.max(baseRows, 1L)) {
      compact(spark, dir, key, evolveSchema, clusterBy, clusterFiles,
        retainGenerations, minRetainMs, foldBelowSeq)
      "major"
    } else if (deltas.size >= maxLiveDeltas) {
      if (compactDeltas(spark, dir, key, foldBelowSeq)) "minor" else "none"
    } else "none"
  }
}
