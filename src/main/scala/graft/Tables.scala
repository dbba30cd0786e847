package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver star schema (TESTDATA.md): one parquet per table
  * under the sf dir. Parquet scans get column pruning + predicate pushdown
  * from Catalyst for free — every query should select only what it needs.
  */
object Tables {
  // Relation cache: spark.read.parquet lists the directory and reads
  // footers for schema EAGERLY on every call — across an 85-query harness
  // run that is 85x redundant metadata work on immutable inputs. Caching
  // the analyzed DataFrame (its InMemoryFileIndex + schema) makes repeat
  // reads free; execution still re-plans per query (AQE untouched). The
  // testdata dirs are immutable for a session's lifetime — callers that
  // rewrite a parquet dir mid-session must call invalidate(path) (or
  // read directly, bypassing Tables), or they silently serve the
  // pre-rewrite file listing.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  // sessions whose end-of-application eviction hook is installed; without
  // it, a long-lived JVM cycling SparkSessions would pin every stopped
  // session (and its analyzed plans / file indexes) here forever
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  private def cached(spark: SparkSession, path: String)
      (load: => DataFrame): DataFrame = {
    if (hooked.add(spark)) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            cache.keySet.removeIf(_._1 eq spark)
            hooked.remove(spark)
          }
        })
    }
    cache.computeIfAbsent((spark, path), _ => load)
  }

  /** Drop cached relations under `path` (a table's parquet path or a
    * whole sf dir), for every session. Required after overwriting a
    * parquet dir that was previously read through Tables — the cached
    * InMemoryFileIndex would otherwise keep serving the pre-rewrite
    * file listing (stale data or vanished-file read errors). */
  def invalidate(path: String): Unit = {
    // exact entry or children of the dir — a bare prefix match would
    // also evict prefix-colliding siblings (invalidate("/d/sf1") must
    // not drop "/d/sf10/t.parquet")
    val dirPrefix = if (path.endsWith("/")) path else path + "/"
    cache.keySet.removeIf(k => k._2 == path || k._2.startsWith(dirPrefix))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, s"$sfDir/$name.parquet") {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    * rejects. Read it as raw nanos and truncate to micros — the same thing
    * DuckDB does when it scans NANOS into its microsecond TIMESTAMP.
    */
  def events(s: SparkSession, d: String): DataFrame =
      cached(s, s"$d/events.parquet") {
    // Scope the legacy flag to this read instead of mutating session state:
    // save/restore around the (eager) schema inference, and also pass it as
    // a per-relation option so the executor-side ParquetReadSupport (which
    // reads the key from the relation's hadoopConf) sees it at scan time.
    // The set/read/restore is synchronized on the session so concurrent
    // query construction on one SparkSession cannot observe the mutated
    // conf. Scan-time honoring of the per-relation option is Spark-4
    // behavior (verified on the bundled 4.1.2); revisit on upgrade.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val raw = s.synchronized {
      val prev = s.conf.getOption(key)
      s.conf.set(key, "true")
      try s.read.option(key, "true").parquet(s"$d/events.parquet")
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }
    import org.apache.spark.sql.functions.{col, expr}
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** One named harness query: Spark plan builder + optional DuckDB oracle SQL.
  * Oracle conventions (driver hash-compares after sorting columns by name):
  *  - alias every computed column identically on both sides;
  *  - cast aggregates to DOUBLE/BIGINT (decimal widths differ across engines);
  *  - sums of fractional columns go through DECIMAL(18,2+) so both engines
  *    compute the exact rational and land on the identical double;
  *  - end with a deterministic ORDER BY on a unique key.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame,
    // Oracles derived from run-time-pinned state (the IVF centroid
    // models) depend on WHICH sf-dir the queries ran against; such
    // entries set oracle=None and resolve here, with the dir threaded
    // explicitly from Verify — no process-global hint.
    oracleDirFn: Option[Option[String] => Option[String]] = None) {
  /** Oracle SQL for the given sf-dir. Dir-independent oracles (the vast
    * majority) ignore `dir`; dir-dependent ones (pinned IVF models)
    * select the model pinned for that dir, degrading to None (rows-only
    * check) when the dir is ambiguous rather than risk a wrong model. */
  def oracleFor(dir: Option[String]): Option[String] =
    oracleDirFn.fold(oracle)(f => f(dir))
}
