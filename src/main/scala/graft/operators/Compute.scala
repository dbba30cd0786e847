package graft.operators

import org.apache.spark.sql.DataFrame

/** Compute-budget partitioning (SCALE.md §9): when per-row compute
  * dominates, partition count comes from the compute budget, not the
  * file layout — but never DOWN. An unconditional
  * `repartition(defaultParallelism)` would collapse a wide scan (at
  * 100 TB, tens of thousands of splits) to core-count giant tasks —
  * the inverse of the small-file cliff it exists to fix. So the
  * round-robin shuffle is applied only when the input is narrower than
  * the budget; an already-wide frame passes through untouched, which
  * also skips the shuffle entirely.
  *
  * CONTRACT: call this on SCAN-STAGE frames (reads + narrow transforms,
  * no exchanges) — ENFORCED below, not just documented. Two reasons:
  * (1) probing `.rdd` on a plan containing exchanges under AQE
  * materializes the upstream shuffle stages eagerly — the upstream
  * would run once for the probe and again in the real query (a silent
  * double-execution); (2) the partition COUNT is the proxy for
  * distribution, so a wide-but-skewed frame (one hot file after a
  * filter) would pass through unrebalanced — if skew is the problem,
  * repartition explicitly at the call site.
  */
object Compute {
  import org.apache.spark.sql.catalyst.plans.logical.{
    Aggregate, Deduplicate, Join, LogicalPlan, RepartitionOperation, Sort, Window}

  /** localCheckpoint with SERIALIZED storage (MEMORY_AND_DISK_SER) for
    * frames whose rows are wide — shingle/fingerprint arrays, embeddings,
    * whole document rows. The default level unrolls DESERIALIZED row
    * objects, and with 32 concurrent tasks each bursting wide rows into
    * the storage pool the unroll itself can exhaust the heap before the
    * spill-to-disk logic engages (observed: the sf~1 winnowing base OOMed
    * an 8 GB driver). Serialized unroll is incremental and ~2-5x smaller
    * for array-heavy rows; the extra deserialization on re-read is one
    * pass over data that was produced by the expensive stage the
    * checkpoint exists to not re-run. Narrow hot-loop checkpoints (the
    * connected-components label frames) stay on the default level —
    * their rows are two longs and they are re-read every round. */
  def checkpointSer(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** First shuffle-inducing operator in the analyzed plan, if any. Sort
    * included only when GLOBAL: a global orderBy range-partitions (an
    * exchange) even though it is not a "shuffle key" op, but
    * sortWithinPartitions emits Sort(global = false) — a narrow,
    * exchange-free operator that must not trip the guard. */
  private def firstExchangeOp(p: LogicalPlan): Option[String] = {
    p.collectFirst {
      case s: Sort if s.global => s.nodeName
      case n @ (_: Aggregate | _: Join | _: RepartitionOperation |
                _: Window | _: Deduplicate) => n.nodeName
    }
  }

  def toComputeBudget(df: DataFrame): DataFrame = {
    firstExchangeOp(df.queryExecution.analyzed).foreach { op =>
      throw new IllegalArgumentException(
        s"toComputeBudget is scan-stage only, but the input plan contains $op: " +
          "probing .rdd below would eagerly materialize the upstream shuffle " +
          "stages under AQE (they would run again in the real query). " +
          "Repartition explicitly at the call site instead.")
    }
    budgetFloor(df)
  }

  /** [[toComputeBudget]] for OPERATOR-INTERNAL use on caller-supplied
    * frames: a frame already containing an exchange passes through
    * untouched (its distribution was the caller's own decision, and the
    * .rdd probe would double-execute its shuffles under AQE) instead of
    * throwing — the strict scan-stage contract stays on direct call
    * sites. Same floor semantics: never narrows a wide frame. */
  def toComputeBudgetIfScan(df: DataFrame): DataFrame =
    if (firstExchangeOp(df.queryExecution.analyzed).isDefined) df
    else budgetFloor(df)

  /** Round-robin an exchange-free frame up to the session parallelism;
    * a frame already at or above it passes through. */
  private def budgetFloor(df: DataFrame): DataFrame = {
    val budget = df.sparkSession.sparkContext.defaultParallelism
    // .rdd plans the physical query to read its partitioning; for the
    // exchange-free frames both callers guarantee, no job runs
    if (df.rdd.getNumPartitions < budget) df.repartition(budget) else df
  }
}
