package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration this library is
  * designed against. On a cluster, master/partitions come from
  * spark-submit; locally the defaults size to the host's cores.
  */
object GraftSession {

  /** Builder with the library's recommended configuration:
    *  - AQE on (runtime coalescing, skew-join splitting — the safety net
    *    behind the explicit salting/bucketing strategies in SCALE.md);
    *  - shuffle partitions sized to the core count, not the 200 default
    *    (at cluster scale: 2-3x total executor cores) — the NON-adaptive
    *    fallback, which stateful streaming (AQE-disabled) also uses;
    *  - AQE initial partition count well ABOVE the core count: partitions
    *    must scale with DATA while cores scale with the machine, and AQE
    *    can only coalesce (merge) non-skewed shuffles, never split them —
    *    at 32 initial partitions a 100M-row aggregation runs 3M-row
    *    tasks that spill and sort superlinearly (measured: the winnowing
    *    df-aggregation at 5M docs dropped ~40% wall moving 32 -> 256+).
    *    Small shuffles still coalesce to ~core-count tasks at runtime
    *    (parallelismFirst is Spark's default), so fixture-scale plans are
    *    unaffected. That does NOT hold for a `.cache()`d plan while
    *    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
    *    false (the Spark 4.1 default): AQE may not coalesce a plan built
    *    for caching, so a cached aggregate keeps all 512 partitions and
    *    every action over it schedules 512 tasks. Collect a small result
    *    to the driver instead (see `graft.cnj.MetasJob.localSummary`);
    *  - graft SQL functions registered via the session extension;
    *  - UTC timestamps for engine-portable semantics.
    */
  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 64 MB: a dimension-sized table (an id list, a df table, a model)
      // should broadcast rather than force a full shuffle of the fact
      // side. Under AQE the decision uses measured runtime sizes, so only
      // tables ACTUALLY below the threshold broadcast; 64 MB per executor
      // is cheap next to re-shuffling a 100M-row probe side (measured:
      // the winnowing df-cut join-back at 5M docs).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      // the generated-class cache defaults to 100 entries — a library
      // whose workloads re-run many distinct plans in one JVM (a
      // multi-query session, every foreachBatch stream re-planning per
      // microbatch) evicts and Janino-RECOMPILES the same codegen units
      // over and over; entries are weakly referenced, so a bigger cache
      // costs memory only while the classes are live anyway. Static
      // conf: takes effect only via builder, before the first session.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")

  def getOrCreate(): SparkSession = builder().getOrCreate()

  /** The measurement-harness session (Bench / Verify / TimeQuery): the
    * library [[builder]] above — so the benchmarked, the verified, and
    * the shipped configuration are one configuration and cannot drift
    * (hand-copied subsets previously omitted the extensions registration
    * and picked up new GraftSession knobs only by luck) — plus the env
    * overrides the tools use to isolate a config knob from jitter in an
    * A/B run:
    *  - SPARK_GRAFT_CPUS: local[] core count (default: the host's
    *    available processors, as in [[builder]]);
    *  - SPARK_GRAFT_SHUFFLE_PARTITIONS: non-adaptive shuffle width
    *    (default = cpus);
    *  - SPARK_GRAFT_INITIAL_PARTITIONS / SPARK_GRAFT_BROADCAST_THRESHOLD:
    *    the data-proportional AQE width and broadcast threshold defaults.
    * The UI is off: a measurement tool should not pay (or time) the UI
    * listener path. */
  def harnessBuilder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder(master = s"local[$cpus]", shufflePartitions = parts.toInt)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", "512"))
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST_THRESHOLD", "64m"))
      .config("spark.ui.enabled", "false")
  }
}
