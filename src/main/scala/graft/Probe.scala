package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev probe: time one registry query in a warm JVM, and list its Spark
  * jobs per rep — id, wall ms and the first line of the call site — to
  * tell scheduling overhead (many tiny metadata jobs) from real compute
  * when a number looks setup-dominated.
  * Usage: runMain graft.Probe <name> [sfDir] [reps]   (sf0.1, 3 reps)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).fold(3)(_.toInt)
    val spark = Harness.session()
    val fn = SparkEntry.queries(name)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      // a job's call site is its result stage's name (the job properties
      // carry one only when the caller set it)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time,
          j.stageInfos.maxByOption(_.stageId).fold("?")(_.name)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
          done.add((j.jobId, j.time - t0, site))
        }
    })
    (1 to reps).foreach { i =>
      done.clear()
      val (wall, _) = Harness.timed(Harness.noop(fn(spark, sfDir)))
      Harness.release(spark)
      // listener bus is async: give the tail events a moment to land
      Thread.sleep(300)
      val d = done.asScala.toSeq.sortBy(_._1)
      println(f"[probe] $name rep $i: wall $wall%.2f s, ${d.size} jobs, " +
        f"job-ms sum ${d.map(_._2).sum}")
      d.foreach { case (id, ms, site) => println(f"  job $id%4d $ms%6d ms  $site") }
    }
    spark.stop()
  }
}
