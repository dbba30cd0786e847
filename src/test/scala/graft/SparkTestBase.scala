package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (getOrCreate dedupes). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  def resourcePath(rel: String): String =
    getClass.getClassLoader.getResource(rel).getPath

  /** Runs `body` and counts the Spark jobs and tasks it scheduled. The
    * listener bus is asynchronous but ordered: once a marker job's end
    * arrives, every job and task of `body` has been counted. */
  def countJobsAndTasks[T](body: => T): (T, Int, Int) = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler._
    val marker = "graft.test.jobcount.marker"
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(marker) != null)) markerJob = j.jobId
        else if (markerJob < 0) jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (markerJob < 0) tasks.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerJob) drained.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (result, jobs.get(), tasks.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
