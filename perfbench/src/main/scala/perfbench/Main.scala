package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.cnj.{MetasJob, Reader}

/** One timed operation: a call into the library and how it ended. */
final case class Op(name: String, group: String, iter: Int, phase: String,
    seconds: Double, error: Option[Throwable]) {
  def json: String = {
    val err = error.fold("null")(e =>
      s"""{"class":${Json.str(e.getClass.getName)},"message":${Json.str(String.valueOf(e.getMessage).take(400))}}""")
    s"""{"name":${Json.str(name)},"group":${Json.str(group)},"iter":$iter,"phase":${Json.str(phase)},"seconds":${Json.num(seconds)},"error":$err}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** A workload: warm-up (part of set-up), one complete iteration of its
  * job (timed), and its per-layer metrics from traced iterations. */
trait Workload {
  def warmup(spark: SparkSession): Seq[Op]
  /** `phase` is "timed" or "traced"; a traced iteration has a tracer. */
  def iteration(spark: SparkSession, it: Int, phase: String, tracer: Option[Tracer]): Seq[Op]
  /** Writes what the checks need beyond the outputs themselves. */
  def finish(spark: SparkSession): Unit
  def layers(tracer: Tracer, nproc: Int): Map[String, Double]
}

object Main {
  /** Runs `f` as one timed operation; a throw is recorded, not raised. */
  def op(name: String, group: String, it: Int, phase: String = "timed")(f: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { f; None } catch { case e: Throwable => Some(e) }
    Op(name, group, it, phase, (System.nanoTime() - t0) / 1e9, err)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workDir = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val setups = a("setups").toInt
    val workload: Workload = a("workload") match {
      case "cnj_metas" => new CnjWorkload(a("input"), workDir)
      case "pairs_gen" => new PairsWorkload(a("input"), workDir,
        a("seed").toLong, a("queries").split(",").toSeq.map { q =>
          val Array(n, g) = q.split(":"); (n, g) })
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, several times: the first from process start, the rest from
    // a stopped session; each = session ready + warm-up (with landing)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val startS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    val setupOps = mutable.ArrayBuffer.empty[Op]
    var spark: SparkSession = null
    (1 to setups).foreach { i =>
      val t0 = if (i == 1) jvmStartMs * 1000000L - (System.currentTimeMillis() * 1000000L - System.nanoTime())
        else System.nanoTime()
      if (spark != null) spark.stop()
      // a traced run counts file-system calls: the counting file system
      // must be the `file` scheme before the first file is touched
      spark = (if (trace) GraftSession.builder()
          .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
        else GraftSession.builder()).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      setupOps ++= workload.warmup(spark)
      val t2 = System.nanoTime()
      startS += (t1 - t0) / 1e9
      warmS += (t2 - t1) / 1e9
      setupS += (t2 - t0) / 1e9
    }

    // Closed loop, one client: whole iterations until the budget is spent.
    // A traced run alternates untraced and traced iterations, so
    // trace.overhead_frac compares iterations run under the same load.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tracer = if (!trace) None
      else Some(new Tracer(spark, s"${a("workload")}-${a("seed")}-${System.currentTimeMillis()}"))
    val walls, cpus, tracedWalls = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    def untraced(it: Int): Unit = {
      val (w0, c0) = (System.nanoTime(), osBean.getProcessCpuTime)
      ops ++= workload.iteration(spark, it, "timed", None)
      walls += (System.nanoTime() - w0) / 1e9
      cpus += (osBean.getProcessCpuTime - c0) / 1e9
    }
    val loopStart = System.nanoTime()
    var it = 0
    while (it == 0 || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      untraced(it)
      tracer.foreach { t =>
        val w1 = System.nanoTime()
        ops ++= workload.iteration(spark, it, "traced", Some(t))
        tracedWalls += (System.nanoTime() - w1) / 1e9
      }
      it += 1
    }
    // the JIT is still warming: close a traced run with an untraced
    // iteration, so the traced ones sit between untraced ones, when the
    // run's deadline leaves room for it
    if (tracer.isDefined &&
        System.currentTimeMillis() + walls.max * 1000 < a("deadline_ms").toLong)
      untraced(it)
    tracer.foreach(_.detach())
    workload.finish(spark)
    val sc = spark.sparkContext
    val fingerprint = Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> Json.str(sc.master),
      "default_parallelism" -> sc.defaultParallelism.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "scala_version" -> Json.str(scala.util.Properties.versionNumberString)))
    val layerJson = tracer.fold("null") { t =>
      val m = workload.layers(t, Runtime.getRuntime.availableProcessors()) ++ Map(
        "session.start_s" -> median(startS.toSeq),
        "session.warmup_s" -> median(warmS.toSeq),
        "trace.overhead_frac" -> (median(tracedWalls.toSeq) / median(walls.toSeq) - 1.0))
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    val spansJson = tracer.fold("[]") { t =>
      Json.arr(t.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "run_id" -> Json.str(s.runId), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString, "jobs" -> s.jobs.toString, "tasks" -> s.tasks.toString,
        "fs_lists" -> s.fsLists.toString, "fs_opens" -> s.fsOpens.toString))))
    }
    val allOps = setupOps ++ ops
    val out = Json.obj(Seq(
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "session_start_s" -> Json.arr(startS.map(Json.num)),
      "warmup_s" -> Json.arr(warmS.map(Json.num)),
      "walls_s" -> Json.arr(walls.map(Json.num)),
      "cpu_s" -> Json.arr(cpus.map(Json.num)),
      "traced_walls_s" -> Json.arr(tracedWalls.map(Json.num)),
      "ops" -> Json.arr(allOps.map(_.json)),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "fingerprint" -> fingerprint,
      "layers" -> layerJson,
      "spans" -> spansJson))
    Files.write(Paths.get(a("result")), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The paper's job: [[MetasJob.runAll]] over the court CSV corpus. */
final class CnjWorkload(input: String, work: String) extends Workload {
  private def outDir(tag: String) = new File(work, s"cnj_out/$tag")

  /** Parse, aggregate and render the corpus once (JIT and codegen for the
    * job's hot path) without the sinks, which cost a run's worth of
    * tasks whatever the input size. */
  def warmup(spark: SparkSession): Seq[Op] =
    Seq(Main.op("warmup", "cnj", -1, "warmup")(MetasJob.resumo(spark, input).collect()))

  def iteration(spark: SparkSession, it: Int, phase: String, tracer: Option[Tracer]): Seq[Op] = {
    val out = outDir(s"$phase$it")
    Main.deleteTree(out)
    val op = Main.op("runAll", "cnj", it, phase)(tracer match {
      case None => MetasJob.runAll(spark, input, out.getPath)
      case Some(t) => t.span("cnj.iteration")(traced(spark, t, out))
    })
    // the checks read every ResumoMetas and chart; the Consolidado copy
    // of the corpus is checked on the last iteration only
    if (it > 0) Main.deleteTree(new File(outDir(s"$phase${it - 1}"), "Consolidado.csv"))
    Seq(op)
  }

  /** [[MetasJob.runAll]]'s sequence through its public parts, one span
    * per layer. The per-court aggregate is materialized in its own span
    * so its tasks are not billed to the Resumo sink. */
  private def traced(spark: SparkSession, t: Tracer, out: File): Unit = {
    out.mkdirs()
    val data = t.span("cnj.Reader.plan")(Reader.readDir(spark, input))
    val typed = MetasJob.resumoTyped(spark, data).cache()
    try {
      t.span("cnj.MetasJob.aggregate")(typed.count())
      val res = MetasJob.stringlyOutput(typed)
      t.span("cnj.MetasJob.resumo_sink")(MetasJob.writeCsv(res, s"$out/ResumoMetas.csv"))
      t.span("cnj.MetasJob.chart") {
        MetasJob.unmappedBranches(typed).collect()
        val chart = MetasJob.chartData(res).collect().map(r => (r.getString(0), r.getDouble(1)))
        MetasJob.writeChartPng(chart, s"$out/grafico_meta1.png")
      }
      t.span("cnj.MetasJob.consolidado_sink")(
        MetasJob.writeCsv(data, s"$out/Consolidado.csv", singleFile = false))
    } finally typed.unpersist()
  }

  def finish(spark: SparkSession): Unit = ()

  def layers(t: Tracer, nproc: Int): Map[String, Double] = {
    val spans = t.spans
    val iters = spans.filter(_.name == "cnj.iteration")
    def per(name: String)(f: Span => Double): Double = {
      val xs = spans.filter(_.name == name).map(f)
      if (xs.isEmpty) 0.0 else xs.sum / iters.size
    }
    val all = spans.filter(s => s.name.startsWith("cnj."))
    val scanStages = all.flatMap(_.stages).filter(_.readsFiles)
    Map(
      "cnj.Reader.plan_s" -> per("cnj.Reader.plan")(_.wallS),
      "cnj.Reader.scan_parse_s" -> scanStages.map(_.wallNs / 1e9).sum / iters.size,
      "cnj.Reader.scan_parse_cpu_s" -> scanStages.map(_.cpuNs / 1e9).sum / iters.size,
      "cnj.Reader.input_mb" -> scanStages.map(_.inputBytes / 1048576.0).sum / iters.size,
      "cnj.MetasJob.aggregate_s" -> per("cnj.MetasJob.aggregate")(_.wallS),
      "cnj.MetasJob.aggregate_tasks" -> per("cnj.MetasJob.aggregate")(_.tasks.toDouble),
      "cnj.MetasJob.aggregate_cpu_s" -> per("cnj.MetasJob.aggregate")(_.cpuNs / 1e9),
      "cnj.MetasJob.resumo_sink_s" -> per("cnj.MetasJob.resumo_sink")(_.wallS),
      "cnj.MetasJob.resumo_sink_tasks" -> per("cnj.MetasJob.resumo_sink")(_.tasks.toDouble),
      "cnj.MetasJob.chart_s" -> per("cnj.MetasJob.chart")(_.wallS),
      "cnj.MetasJob.chart_tasks" -> per("cnj.MetasJob.chart")(_.tasks.toDouble),
      "cnj.MetasJob.consolidado_sink_s" -> per("cnj.MetasJob.consolidado_sink")(_.wallS),
      "cnj.MetasJob.consolidado_sink_cpu_s" -> per("cnj.MetasJob.consolidado_sink")(_.cpuNs / 1e9),
      // wall outside Spark jobs over the whole iteration
      "cnj.driver_s" -> iters.map { it =>
        val kids = spans.filter(_.parent == it.id)
        it.wallS - Tracer.unionNs((it +: kids).flatMap(_.jobIntervals)) / 1e9
      }.sum / iters.size)
  }
}

/** Blocked-pair dedup and similarity families plus CorpusStore verbs,
  * each through its registry entry, over a generated document corpus.
  * `queries` pairs each registry name with its layer: "Dedup",
  * "Similarity", "store_write" or "store_read". */
final class PairsWorkload(input: String, work: String, seed: Long,
    queries: Seq[(String, String)]) extends Workload {
  private val registry = SparkEntry.queries
  private val fns = queries.map { case (n, g) => (n, g, registry(n)) }
  private val out = new File(work, "out")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def clean(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** One pass over the corpus, results discarded. It also lands what the
    * registry builds once per corpus, such as the store the store_ro_*
    * queries read. */
  def warmup(spark: SparkSession): Seq[Op] = fns.map { case (name, group, fn) =>
    val o = Main.op(name, group, -1, "warmup")(noop(fn(spark, input)))
    clean(spark)
    o
  }

  /** One pass: every query in a seed-shuffled order, each result written
    * as parquet under `out/<query>` (the last pass's files are checked). */
  def iteration(spark: SparkSession, it: Int, phase: String, tracer: Option[Tracer]): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + it).shuffle(fns)
    order.map { case (name, group, fn) =>
      def sink(df: DataFrame): Unit = df.write.mode("overwrite").parquet(s"$out/$name")
      val op = Main.op(name, group, it, phase)(tracer match {
        case None => sink(fn(spark, input))
        case Some(t) => t.span(s"queries.$name") {
          val df = t.span(s"$name.plan")(fn(spark, input))
          t.span(s"$name.exec")(sink(df))
        }
      })
      clean(spark)
      op
    }
  }

  /** The oracle SQL, written after the queries ran: dir-dependent
    * oracles replay state their query pinned at run time. */
  def finish(spark: SparkSession): Unit =
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      SparkEntry.oracleJson(names = Some(queries.map(_._1).toSet), dir = Some(input))
        .getBytes(StandardCharsets.UTF_8))

  /** Per query: plan and exec wall, shuffle and spill, task skew and the
    * candidate rows of its largest join; per store kind and for the
    * registry as a whole: file-system calls, jobs, tasks and driver time
    * outside jobs. All per pass. */
  def layers(t: Tracer, nproc: Int): Map[String, Double] = {
    val spans = t.spans
    val roots = spans.filter(_.name.startsWith("queries."))
    val passes = math.max(1, roots.count(_.name == s"queries.${queries.head._1}"))
    def tree(r: Span) = spans.filter(s => s.id == r.id || s.parent == r.id)
    def driverS(rs: Seq[Span]) = rs.map { r =>
      r.wallS - Tracer.unionNs(tree(r).flatMap(_.jobIntervals)) / 1e9
    }.sum / passes
    val perQuery = queries.filter(q => q._2 == "Dedup" || q._2 == "Similarity")
      .flatMap { case (n, _) =>
        val plan = spans.filter(_.name == s"$n.plan")
        val exec = spans.filter(_.name == s"$n.exec")
        val both = plan ++ exec
        Seq(
          s"$n.plan_s" -> plan.map(_.wallS).sum / passes,
          s"$n.exec_s" -> exec.map(_.wallS).sum / passes,
          s"$n.shuffle_mb" -> both.map(_.shuffleWriteBytes / 1048576.0).sum / passes,
          s"$n.spill_mb" -> both.map(_.diskSpillBytes / 1048576.0).sum / passes,
          s"$n.task_skew" -> Tracer.taskSkew(both.flatMap(_.stages), nproc),
          s"$n.candidate_rows" -> both.map(_.joinRows.toDouble).max)
      }
    val store = Seq("write", "read").flatMap { kind =>
      val names = queries.filter(_._2 == s"store_$kind").map(q => s"queries.${q._1}").toSet
      val rs = roots.filter(r => names(r.name))
      val all = rs.flatMap(tree)
      Seq(
        s"store.$kind.fs_list_calls" -> rs.map(_.fsLists.toDouble).sum / passes,
        s"store.$kind.fs_open_calls" -> rs.map(_.fsOpens.toDouble).sum / passes,
        s"store.$kind.jobs" -> all.map(_.jobs.toDouble).sum / passes,
        s"store.$kind.driver_s" -> driverS(rs))
    }
    val all = roots.flatMap(tree)
    (perQuery ++ store ++ Seq(
      "queries.driver_s" -> driverS(roots),
      "queries.jobs" -> all.map(_.jobs.toDouble).sum / passes,
      "queries.tasks" -> all.map(_.tasks.toDouble).sum / passes)).toMap
  }
}
