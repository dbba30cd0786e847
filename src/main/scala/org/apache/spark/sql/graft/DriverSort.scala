package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}

/** `orderBy` for rows that are already on the driver. Spark plans a sort
  * over a driver-local relation (a `LocalRelation`, after the optimizer
  * has folded the projections and filters above it into its rows) as a
  * cluster sort: three jobs (range-bound sampling, shuffle, sort), or
  * one over a single partition. A few dozen rows need none. When the
  * optimized sort reads a local relation, this sorts its rows here with
  * Spark's own ordering of the same sort keys (null placement, NaN,
  * collation) and returns them as a new local relation; any other plan,
  * and a stream, gets the plain `orderBy`. Lives under
  * org.apache.spark.sql for the same reason as [[ListedTextScan]].
  */
object DriverSort {

  def orderBy(df: DataFrame, order: Column*): DataFrame = {
    val sorted = df.orderBy(order: _*)
    if (df.isStreaming) sorted
    else sorted.queryExecution.optimizedPlan match {
      case Sort(by, true, local: LocalRelation, _) =>
        val rows = local.data.sorted(new InterpretedOrdering(by, local.output))
        classic.Dataset.ofRows(sorted.sparkSession.asInstanceOf[classic.SparkSession],
          local.copy(data = rows))
      case _ => sorted
    }
  }
}
