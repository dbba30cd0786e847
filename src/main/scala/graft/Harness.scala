package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the measurement mains share: the session, the load average, the
  * query filter, the sink, the timer, the cleanup between measured
  * units, the warm-up and the one JSON line each main prints. */
private[graft] object Harness {

  type Query = (SparkSession, String) => DataFrame

  /** The fixture the warm-up passes run at. */
  val WarmupDir = "/root/testdata/sf0.01"

  /** Queries whose first run on a corpus is a landing cost, paid once per
    * corpus lifetime: sim_topk_ivf_pretrained trains and persists its
    * model, the store_ro_* queries build their store. The timed number is
    * the probe or read against what was landed (their e2e twins keep
    * billing setup + read). */
  private val Landing = Set("sim_topk_ivf_pretrained", "store_ro_pruned_read",
    "store_ro_key_lookup", "store_ro_time_travel", "store_ro_changes_feed")

  /** 1m + 5m load averages from /proc/loadavg (the MXBean exposes only
    * the 1m figure); non-Linux fallback reports the MXBean 1m and -1 for
    * 5m. */
  def loadavg(): (Double, Double) =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try {
        val p = src.mkString.trim.split("\\s+")
        (p(0).toDouble, p(1).toDouble)
      } finally src.close()
    } catch {
      case _: Throwable =>
        (java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage, -1.0)
    }

  /** The 1m/5m load average when the harness first looked, which
    * [[session]] does before it builds the session. Every JSON line
    * carries this entry reading: by the end of a run the main's own work
    * drives the 1m average up, so a late reading conflates other tenants
    * (which invalidate timings) with self-load (which every run has). */
  lazy val entryLoad: (Double, Double) = loadavg()

  /** `SPARK_GRAFT_ONLY` as a query-name predicate: a comma-separated
    * list of names, a trailing `*` matching by prefix (`dedup_*`). Verify
    * and Bench read the variable through this one parser — they briefly
    * didn't (Verify prefix-star, Bench exact), and a pattern valid for
    * one silently selected ZERO queries in the other. */
  def only: Option[String => Boolean] = sys.env.get("SPARK_GRAFT_ONLY").map { spec =>
    val pats = spec.split(',').map(_.trim).filter(_.nonEmpty)
    name => pats.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p)
  }

  /** The harness session ([[GraftSession.harnessBuilder]]) at log level
    * `level`. */
  def session(level: String = "WARN"): SparkSession = {
    entryLoad
    val spark = GraftSession.harnessBuilder().getOrCreate()
    spark.sparkContext.setLogLevel(level)
    spark
  }

  /** Runs `df` into the noop sink: it materializes every output column,
    * where count() would let Catalyst prune the projections away. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Between measured units, outside every timer. Operator-internal
    * localCheckpoint blocks are dead once a unit's write returns, but they
    * are freed only when the driver GCs the RDD object: across a 97-query
    * Verify session the backlog OOMed an 8 GB heap, and at gen1000x it
    * inflated later families' walls 3-4x (dedup_winnowing 251.7 s inside
    * ScaleFamilies' loop vs 58.4 s standalone). Dead shuffle files and
    * broadcasts are likewise reaped by the ContextCleaner only after a
    * driver GC; with a multi-GB heap none may run for many units and tens
    * of GB pile up on local disk (sim_knn_graph 253.7 s as family 14 vs
    * 52.3 s standalone). The blocking unpersist plus an explicit GC bound
    * both to one unit's working set. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** Wall seconds of `body`, with its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** The minimum wall seconds of `reps` runs of `body`, with the first
    * run's result. */
  def minOf[A](reps: Int)(body: => A): (Double, A) = {
    val runs = (1 to reps).map(_ => timed(body))
    (runs.map(_._1).min, runs.head._2)
  }

  /** Warm-up, then landing, both untimed. Each query runs once at
    * [[WarmupDir]] so JIT and codegen compilation does not land on
    * whichever query is timed first (a cold first query measures 5x its
    * steady state). Then each [[Landing]] query runs once at `dir`. A
    * failure is logged, not swallowed: a query that never warmed up
    * carries the compilation in its timed number, and a failed landing
    * (model persist denied, disk full) moves training into it. */
  def warmUp(spark: SparkSession, queries: Seq[(String, Query)], dir: String): Unit = {
    def run(name: String, fn: Query, at: String, consequence: String): Unit =
      try noop(fn(spark, at))
      catch { case e: Throwable =>
        System.err.println(s"WARNING: $name failed at $at (${Bench.crashName(e)}); $consequence")
      }
    queries.foreach { case (n, fn) =>
      run(n, fn, WarmupDir, "its timed number may include JIT/codegen warm-up") }
    queries.filter(q => Landing(q._1)).foreach { case (n, fn) =>
      run(n, fn, dir, "its timed number will include the landing") }
    release(spark)
  }

  /** A JSON object for [[jsonLine]]: its fields render in order. */
  final case class Obj(fields: (String, Any)*)

  /** The one `{"metric":...}` line a main prints. Fields are rendered in
    * order, then the [[entryLoad]] as `loadavg_1m`/`loadavg_5m`, then the
    * `host` the numbers were taken on (the keys of perfbench's
    * fingerprint). Strings are escaped with [[SparkEntry.jsonString]];
    * a Double renders with three decimals in `Locale.ROOT`, and NaN,
    * infinity and `None` render as `null`; an [[Obj]] is an object and
    * any other collection an array. */
  def jsonLine(spark: SparkSession, metric: String, fields: (String, Any)*): String = {
    val sc = spark.sparkContext
    val host = Obj(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString)
    render(Obj(("metric" -> metric) +: fields ++: Seq(
      "loadavg_1m" -> entryLoad._1, "loadavg_5m" -> entryLoad._2, "host" -> host): _*))
  }

  private def render(v: Any): String = v match {
    case None => "null"
    case Some(x) => render(x)
    case s: String => SparkEntry.jsonString(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(Locale.ROOT, "%.3f", Double.box(d))
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case o: Obj =>
      o.fields.map { case (k, x) => SparkEntry.jsonString(k) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }
}
