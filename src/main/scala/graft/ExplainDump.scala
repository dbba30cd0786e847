package graft

import java.nio.file.{Files, Paths}

/** Dev utility: dump formatted physical plans for the named queries (or
  * all) to stdout — under the SHIPPED harness session (GraftSession.
  * harnessBuilder), so the dumped plan is the one Bench/Verify actually
  * run, not a hand-rolled config's (a 10 MB default broadcast threshold
  * dumps a SortMergeJoin where the harness runs a BroadcastHashJoin).
  * With SPARK_GRAFT_PLAN_DIR set, each query's plan additionally lands
  * in `<dir>/<name>_plan.txt` — the before/after evidence files of the
  * optimization rounds (one dir per side). Usage: runMain
  * graft.ExplainDump [name ...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = Harness.session("ERROR")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      planDir.foreach { d =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$d/${name}_plan.txt"), txt + "\n")
      }
    }
    spark.stop()
  }
}
