package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.ListenerBusFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Local file system that counts directory listings and file opens. The
  * traced run installs it as the `file` scheme so store verbs can be
  * billed their metadata traffic; timed runs never load it. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong
  val opens = new AtomicLong
}

/** One traced interval. `parent` is -1 for a root span. Spark counters
  * hold the events billed to this span only (not to its children); the
  * file-system counts cover the whole interval, children included. */
final class Span(val id: Int, val parent: Int, val name: String,
    val runId: String, val start: Long) {
  var end: Long = -1L
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var diskSpillBytes = 0L
  var fsLists = 0L
  var fsOpens = 0L
  /** Largest output-row count of any join in this span's SQL executions:
    * the candidate pairs a blocked-pair family verifies. */
  var joinRows = 0L
  /** [start, end) of each job billed to this span, in nanoTime units. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Per stage: task count, wall (submission to completion), input, cpu
    * and its task durations in ms. */
  val stages = mutable.ArrayBuffer.empty[StageRec]
  def wallS: Double = (end - start) / 1e9
}

final class StageRec(val stageId: Int) {
  var tasks = 0
  var wallNs = 0L
  /** Scans input files (a FileScanRDD), as opposed to reading cache. */
  var readsFiles = false
  var inputBytes = 0L
  var cpuNs = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]
}

/** Spans at the benchmark's own call boundaries plus the Spark events
  * that happen inside them. Spans nest on the driver thread; a span's id
  * rides on the `perfbench.span` local property, so every job Spark runs
  * for it (and every stage and task of those jobs) is billed to the
  * innermost open span. Everything stays in memory until [[spans]] is
  * read at the end of the run. */
final class Tracer(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener {
  private val Prop = "perfbench.span"
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStartNs = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, (Span, StageRec)]
  /** The innermost open span. A span flushes the listener bus before it
    * closes, so every query-execution event of its actions arrives while
    * it is still current. */
  @volatile private var current: Option[Span] = None

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val parent = stack.headOption
    val s = all.synchronized {
      val s = new Span(all.size, parent.fold(-1)(_.id), name, runId, System.nanoTime())
      all += s
      s
    }
    stack = s :: stack
    current = Some(s)
    sc.setLocalProperty(Prop, s.id.toString)
    val (l0, o0) = (CountingLocalFs.lists.get, CountingLocalFs.opens.get)
    try f
    finally {
      ListenerBusFlush(sc)
      s.end = System.nanoTime()
      s.fsLists = CountingLocalFs.lists.get - l0
      s.fsOpens = CountingLocalFs.opens.get - o0
      stack = stack.tail
      current = parent
      sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
    }
  }

  def spans: Seq[Span] = all.synchronized(all.toList)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => all.synchronized(all.lift(id.toInt)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      jobStartNs(e.jobId) = System.nanoTime()
      s.jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = (s, new StageRec(si.stageId)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      s.jobIntervals += ((jobStartNs.remove(e.jobId).get, System.nanoTime()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { case (s, st) =>
      s.tasks += 1
      st.tasks += 1
      st.durationsMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        st.cpuNs += m.executorCpuTime
        st.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.diskSpillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { case (s, st) =>
      for (a <- info.submissionTime; b <- info.completionTime)
        st.wallNs = (b - a) * 1000000L
      st.readsFiles = info.rddInfos.exists(_.name == "FileScanRDD")
      if (st.tasks > 0) s.stages += st
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      current.foreach { s =>
        s.joinRows = math.max(s.joinRows, Tracer.maxJoinRows(qe.executedPlan))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Largest `numOutputRows` of any join operator in an executed plan,
    * adaptive query stages and subqueries included. */
  def maxJoinRows(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case p if p.nodeName.contains("Join") || p.nodeName.contains("CartesianProduct") =>
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(math.max)

  /** Time covered by the union of the given intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Worst stage skew: max over stages with at least `minTasks` tasks of
    * (max task time / median task time); 1.0 when no stage qualifies. */
  def taskSkew(stages: Seq[StageRec], minTasks: Int): Double = {
    val ratios = stages.filter(_.durationsMs.size >= minTasks).map { st =>
      val d = st.durationsMs.sorted
      val med = math.max(1L, d(d.size / 2))
      d.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
