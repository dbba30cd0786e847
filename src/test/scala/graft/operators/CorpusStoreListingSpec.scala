package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase

/** The local file system, recording — for paths under [[CountingLocalFs.root]]
  * only — every store-root listing (`list` when the store's own code
  * made it, `list-other` for Spark's) and every presence probe of a
  * store marker (`_SUCCESS`, `_folded`, `_horizon`, `_writer_lock`, and
  * the root's `manifest`). The stat the file system makes on its own
  * behalf while opening a file is not a probe. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def listStatus(f: Path): Array[FileStatus] = {
    if (under(f) && norm(f) == root) {
      val caller = Thread.currentThread.getStackTrace.map(_.getClassName)
        .dropWhile(c => !c.startsWith("graft.operators.CountingLocalFs"))
        .find(c => !c.startsWith("graft.operators.CountingLocalFs"))
      events.add((if (caller.exists(_.startsWith("graft.operators.CorpusStore")))
        "list" else "list-other", norm(f)))
    }
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (!internal.get && under(f) && Markers(f.getName)) events.add(("probe", norm(f)))
    super.getFileStatus(f)
  }
  override def exists(f: Path): Boolean = {
    if (!internal.get && under(f) && (Markers(f.getName) || norm(f) == s"$root/manifest"))
      events.add(("probe", norm(f)))
    quietly(super.exists(f))
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    quietly(super.open(f, bufferSize))
}

object CountingLocalFs {
  val Markers = Set("_SUCCESS", "_folded", "_horizon", "_writer_lock")
  @volatile var root: String = "\u0000"
  val events = new ConcurrentLinkedQueue[(String, String)]
  private val internal = ThreadLocal.withInitial[Boolean](() => false)
  def norm(p: Path): String = p.toUri.getPath.stripSuffix("/")
  def under(p: Path): Boolean = norm(p).startsWith(root)
  def quietly[T](body: => T): T =
    if (internal.get) body
    else { internal.set(true); try body finally internal.set(false) }
}

/** One on-disk snapshot per verb: every public [[CorpusStore]] verb lists
  * the store root once (a fold triggered by [[CorpusStore.maintain]]
  * loads its own, so twice), and probes each marker at most once per
  * snapshot it loads. */
class CorpusStoreListingSpec extends SparkTestBase with BeforeAndAfterAll {

  import spark.implicits._

  private val tmp = System.getProperty("java.io.tmpdir")
  private val conf = spark.sparkContext.hadoopConfiguration
  private val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    .map(k => k -> Option(conf.get(k)))

  override def beforeAll(): Unit = {
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }

  override def afterAll(): Unit = saved.foreach {
    case (k, Some(v)) => conf.set(k, v)
    case (k, None) => conf.unset(k)
  }

  private def freshDir(tag: String): String = {
    val d = s"$tmp/graft-test-listing-$tag"
    val p = new Path(d)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    d
  }

  /** A store with every kind of entry: a committed generation over the
    * gen-0 base, deltas retired by a major and by a minor fold, the live
    * minor fold, two plain live deltas, a horizon and a manifest. */
  private def fixture(tag: String): String = {
    val dir = freshDir(tag)
    CorpusStore.init((1L to 40L).map(i => (i, s"v$i")).toDF("id", "fp"), dir,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    CorpusStore.append(spark, dir, 1L, "id", Seq((2L, "B")).toDF("id", "fp"))
    CorpusStore.compact(spark, dir, "id")
    CorpusStore.append(spark, dir, 2L, "id", Seq((3L, "C")).toDF("id", "fp"),
      deleteKeys = Some(Seq(Tuple1(4L)).toDF("id")))
    CorpusStore.append(spark, dir, 3L, "id", Seq((5L, "E")).toDF("id", "fp"))
    assert(CorpusStore.compactDeltas(spark, dir, "id"))
    CorpusStore.append(spark, dir, 4L, "id", Seq((6L, "F")).toDF("id", "fp"))
    CorpusStore.append(spark, dir, 5L, "id", Seq((7L, "G")).toDF("id", "fp"))
    dir
  }

  private lazy val shared = fixture("shared")

  /** Run `body` against `dir`, then assert the store's code listed the
    * root `lists` times (and Spark `sparkLists` times) and probed no
    * marker more often than `lists`. */
  private def check(verb: String, dir: String, lists: Int,
      sparkLists: Int = 0)(body: => Any): Unit = {
    CountingLocalFs.events.clear()
    CountingLocalFs.root = CountingLocalFs.norm(new Path(dir))
    try body finally CountingLocalFs.root = "\u0000"
    import scala.jdk.CollectionConverters._
    val ev = CountingLocalFs.events.asScala.toSeq
    val listed = ev.count(_._1 == "list")
    val byOthers = ev.count(_._1 == "list-other")
    val probes = ev.filter(_._1 == "probe").groupBy(_._2).map { case (p, x) => (p, x.size) }
    info(f"$verb%-16s root listings $listed (+ $byOthers by Spark), marker probes " +
      s"${probes.values.sum}, max per marker ${probes.values.maxOption.getOrElse(0)}")
    assert(listed == lists, s"$verb: root listings")
    assert(byOthers == sparkLists, s"$verb: root listings by Spark")
    probes.foreach { case (p, n) => assert(n <= lists, s"$verb probed $p $n times") }
  }

  private val keep = graft.sources.ScanPruning.boxPredicate(Seq(("id", 1L, 20L)))

  test("read verbs load one snapshot") {
    val dir = shared
    check("read", dir, 1)(CorpusStore.read(spark, dir, "id").collect())
    check("readAt", dir, 1)(CorpusStore.readAt(spark, dir, "id", 4L).collect())
    check("readAtTime", dir, 1)(CorpusStore.readAtTime(spark, dir, "id",
      System.currentTimeMillis()).collect())
    check("seqAtTime", dir, 1)(CorpusStore.seqAtTime(spark, dir,
      System.currentTimeMillis()))
    check("prunedRead", dir, 1)(CorpusStore.prunedRead(spark, dir, "id", keep).collect())
    check("lookup", dir, 1)(CorpusStore.lookup(spark, dir, "id", Seq(3L, 5L)).collect())
    check("lookupJoin", dir, 1)(CorpusStore.lookupJoin(spark, dir, "id",
      Seq(3L, 5L).toDF("id")).collect())
    check("changesSince", dir, 1)(CorpusStore.changesSince(spark, dir, "id", 3L).collect())
    // the file source globs its path once at construction (partition
    // inference): a listing the store's code does not make
    check("changesStream", dir, 1, sparkLists = 1)(CorpusStore.changesStream(spark, dir))
    check("describe", dir, 1)(CorpusStore.describe(spark, dir).collect())
  }

  test("writer verbs load one snapshot under the lease") {
    val i = fixture("init")
    check("init", i, 1)(CorpusStore.init(Seq((1L, "a")).toDF("id", "fp"), i,
      statsCols = Seq("id")))
    val a = fixture("append")
    check("append", a, 1)(CorpusStore.append(spark, a, 6L, "id",
      Seq((8L, "H")).toDF("id", "fp")))
    val d = fixture("delete")
    check("deleteWhere", d, 1)(CorpusStore.deleteWhere(spark, d, "id", 6L,
      col("id") === 7L))
    val u = fixture("update")
    check("updateWhere", u, 1)(CorpusStore.updateWhere(spark, u, "id", 6L,
      col("id") === 7L, Map("fp" -> lit("g"))))
    val r = fixture("replica")
    check("applyChangeSlice", r, 1)(CorpusStore.applyChangeSlice(spark, r, "id",
      Seq((8L, "H", "u", 6L), (9L, "I", "u", 7L), (6L, null, "d", 7L))
        .toDF("id", "fp", "op", "seq")))
    val c = fixture("compact")
    check("compact", c, 1)(CorpusStore.compact(spark, c, "id"))
    val m = fixture("minor")
    check("compactDeltas", m, 1)(CorpusStore.compactDeltas(spark, m, "id"))
    val v = fixture("vacuum")
    check("vacuum", v, 1)(CorpusStore.vacuum(spark, v))
  }

  test("maintain decides on one snapshot; the fold it triggers loads one more") {
    val idle = fixture("idle")
    check("maintain (none)", idle, 1)(assert(CorpusStore.maintain(spark, idle, "id") == "none"))
    val major = fixture("major")
    check("maintain (major)", major, 2)(assert(CorpusStore.maintain(spark, major, "id",
      maxDeltaToBaseRatio = 0.01) == "major"))
    val minor = fixture("maintain-minor")
    check("maintain (minor)", minor, 2)(assert(CorpusStore.maintain(spark, minor, "id",
      maxLiveDeltas = 2) == "minor"))
    val cin = fixture("cadence")
    check("compactIfNeeded", cin, 2)(assert(CorpusStore.compactIfNeeded(spark, cin, "id",
      maxDeltaToBaseRatio = 0.01)))
  }
}
