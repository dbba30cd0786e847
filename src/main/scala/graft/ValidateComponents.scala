package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** Scale validation for [[Dedup.connectedComponents]]: on a real large
  * pair list (the ngram-Jaccard 0.2 output of an sf-dir's documents),
  * run BOTH paths — the driver union-find (the <=1M-pair fast path) and
  * the distributed hook+pointer-jump loop forced via driverMax = 0 —
  * and assert byte-identical output. Not part of `sbt test` (the sf~1
  * pair-list generation alone costs ~30 s); run on demand:
  *
  *   sbt "runMain graft.ValidateComponents /tmp/sf1"
  *
  * Prints one JSON line with the pair count, per-path wall times, and
  * the equivalence verdict; exits non-zero on mismatch.
  */
object ValidateComponents {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val spark = Harness.session()
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, dir), threshold = 0.2)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nPairs = pairs.count()
    def run(driverMax: Long): (Double, Array[(Long, Long, Long)]) = Harness.timed(
      Dedup.connectedComponents(pairs, driverMax = driverMax)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    val (tDriver, viaDriver) = run(driverMax = Long.MaxValue)
    val (tLoop, viaLoop) = run(driverMax = 0L)
    // both paths orderBy(doc_id): element-wise equality IS byte identity
    val equal = viaDriver.sameElements(viaLoop)
    println(Harness.jsonLine(spark, "cc_equivalence", "dir" -> dir, "n_pairs" -> nPairs,
      "n_rows" -> viaDriver.length, "driver_sec" -> tDriver, "distributed_sec" -> tLoop,
      "equal" -> equal))
    spark.stop()
    if (!equal) sys.exit(1)
  }
}
