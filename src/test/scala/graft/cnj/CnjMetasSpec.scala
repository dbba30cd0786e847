package graft.cnj

import graft.SparkTestBase

/** Differential e2e: MetasJob over the committed fixture corpus must
  * reproduce the golden ResumoMetas computed by an independent pandas
  * re-implementation of the reference semantics
  * (scripts/gen_cnj_fixtures.py; SURVEY.md §5.2).
  */
class CnjMetasSpec extends SparkTestBase {

  private def readGolden(): (Array[String], Array[Array[String]]) = {
    val src = scala.io.Source.fromFile(resourcePath("cnj/golden_resumo.csv"), "UTF-8")
    try {
      val lines = src.getLines().toArray
      (lines.head.split(";", -1), lines.tail.map(_.split(";", -1)))
    } finally src.close()
  }

  test("resumo matches the golden differential output cell-for-cell") {
    val got = MetasJob.resumo(spark, resourcePath("cnj/dados"))
    val (gCols, gRows) = readGolden()
    assert(got.columns.toSeq == gCols.toSeq,
      s"column order: ${got.columns.toSeq} vs ${gCols.toSeq}")
    val rows = got.collect().map(r => (0 until r.length).map(i => r.getString(i)).toArray)
    assert(rows.length == gRows.length, "row count")
    rows.zip(gRows).foreach { case (a, e) =>
      gCols.indices.foreach { i =>
        assert(a(i) == e(i), s"court=${e(0)} col=${gCols(i)}: got ${a(i)} want ${e(i)}")
      }
    }
  }

  test("skips header-only and keyless files") {
    val data = Reader.readDir(spark, resourcePath("cnj/dados"))
    val siglas = data.select("sigla_tribunal").distinct().collect().map(_.getString(0)).toSet
    assert(!siglas.contains(null))
    assert(siglas.size == 11) // 13 files, 2 skipped
  }

  test("consolidado aligns drifting schemas with nulls") {
    val data = MetasJob.consolidado(spark, resourcePath("cnj/dados"))
    assert(data.columns.toSeq == CnjSchema.allCols)
    // TRT3 never had meta6 columns -> all null for that court
    val trt = data.filter(data("sigla_tribunal") === "TRT3")
    assert(trt.filter(trt("julgm6_a").isNotNull).count() == 0)
    assert(trt.filter(trt("julgm2_a").isNotNull).count() > 0)
  }

  test("unmapped branches surface on the fallback warning channel") {
    val data = Reader.readDir(spark, resourcePath("cnj/dados"))
    val warned = MetasJob.unmappedBranches(data).collect()
    assert(warned.length == 1)
    assert(warned(0).getString(0) == "Justiça Desconhecida")
    assert(warned(0).getSeq[String](1) == Seq("XX99"))
    // mapped branches (incl. the Tribunais Superiores remap) never warn
    assert(!warned.map(_.getString(0)).contains("Tribunais Superiores"))
  }

  test("debug trace exposes numerator/denominator/factor per meta (STJ)") {
    val data = Reader.readDir(spark, resourcePath("cnj/dados"))
    val trace = MetasJob.debugTrace(spark, data, "STJ").collect()
      .map(r => r.getString(2) -> r).toMap
    def num(m: String) = trace(m).getDouble(3)
    def den(m: String) = trace(m).getDouble(4)
    def fac(m: String) = trace(m).getDouble(5)
    def value(m: String): Option[Double] =
      if (trace(m).isNullAt(7)) None else Some(trace(m).getDouble(7))
    assert(trace.size == 16) // meta1 + 13 standard + 2 stj
    // hand-computed from teste_STJ.csv (matches golden_resumo.csv)
    assert(num("meta1") == 967.0 && den("meta1") == 783.0 && fac("meta1") == 100.0)
    assert(value("meta1").contains(123.5))
    assert(num("meta8_stj") == 380.0 && den("meta8_stj") == 204.0)
    assert(fac("meta8_stj") == 100.0 && value("meta8_stj").contains(186.27))
    // zero denominator -> guarded NA, components still visible
    assert(num("meta10_stj") == 285.0 && den("meta10_stj") == 0.0)
    assert(value("meta10_stj").isEmpty)
    // STJ has no 10a factor -> JE fallback 1000/9; negative denominator flows through
    assert(num("meta10a") == 1251.0 && den("meta10a") == -610.0)
    assert(math.abs(fac("meta10a") - 1000.0 / 9) < 1e-12)
    assert(value("meta10a").contains(-227.87))
    assert(value("meta6").contains(347.92) && math.abs(fac("meta6") - 1000.0 / 7.5) < 1e-12)
    // absent inputs: null numerator, null value, but the row still appears
    assert(trace("meta2a").isNullAt(3) && value("meta2a").isEmpty)
  }

  test("chart data is numeric-only, sorted desc") {
    val res = MetasJob.resumo(spark, resourcePath("cnj/dados"))
    val chart = MetasJob.chartData(res).collect()
    assert(chart.nonEmpty)
    val vals = chart.map(_.getDouble(1))
    assert(vals.sameElements(vals.sortBy(-_.toDouble)))
    // TJBB's meta1 is NA -> excluded
    assert(!chart.map(_.getString(0)).contains("TJBB"))
  }

  private def freshOut(tag: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-cnj-runall-$tag"
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    out
  }

  test("runAll writes the golden ResumoMetas, a non-empty Consolidado and the chart") {
    val out = freshOut("golden")
    MetasJob.runAll(spark, resourcePath("cnj/dados"), out)
    val part = new java.io.File(s"$out/ResumoMetas.csv").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(part.length == 1, "single-file ResumoMetas contract")
    def lines(f: java.io.File): Seq[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toIndexedSeq finally src.close()
    }
    assert(lines(part(0)) === lines(new java.io.File(resourcePath("cnj/golden_resumo.csv"))))
    val consolidado = spark.read.option("sep", ";").option("header", "true")
      .csv(s"$out/Consolidado.csv")
    assert(consolidado.count() > 0)
    assert(new java.io.File(s"$out/grafico_meta1.png").length() > 0)
  }

  test("runAll under the shipped AQE width schedules fewer than 512 tasks") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler._
    // GraftSession's initial AQE width: a plan AQE may not coalesce (a
    // cached one) pays it as tasks in every stage that reads it
    val confs = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val marker = "graft.test.taskcount.marker"
    val tasks = new AtomicInteger(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(marker) != null)) markerJob = j.jobId
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (markerJob < 0) tasks.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerJob) drained.countDown()
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.addSparkListener(listener)
    try {
      MetasJob.runAll(spark, resourcePath("cnj/dados"), freshOut("tasks"))
      // the listener bus is asynchronous but ordered: once the marker
      // job's end arrives, every task of runAll has been counted
      spark.sparkContext.setLocalProperty(marker, "1")
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(tasks.get() > 0)
    assert(tasks.get() < 512, s"runAll scheduled ${tasks.get()} tasks")
  }
}
