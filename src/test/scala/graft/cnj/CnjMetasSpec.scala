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
    val data = Reader.readDir(spark, resourcePath("cnj/dados"))
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

  test("the chart PNG decodes to the pixels of an RGB rendering of the same bars") {
    import java.awt.image.BufferedImage
    val bars = Array("TJSP" -> 98.5, "São Paulo" -> 120.25, "TRT3" -> 0.5, "X" -> 60.0)
    val png = java.io.File.createTempFile("graft-cnj-chart", ".png")
    MetasJob.writeChartPng(bars, png.getPath)
    val got = javax.imageio.ImageIO.read(png)
    val want = MetasJob.drawChart(bars, new BufferedImage(_, _, BufferedImage.TYPE_INT_RGB))
    assert((got.getWidth, got.getHeight) == (want.getWidth, want.getHeight))
    val (w, h) = (want.getWidth, want.getHeight)
    assert(got.getRGB(0, 0, w, h, null, 0, w).sameElements(want.getRGB(0, 0, w, h, null, 0, w)))
    assert(want.getRGB(0, 0, w, h, null, 0, w).distinct.length == 3)
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
    // GraftSession's initial AQE width: a plan AQE may not coalesce (a
    // cached one) pays it as tasks in every stage that reads it
    val confs = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val tasks =
      try countJobsAndTasks(MetasJob.runAll(spark, resourcePath("cnj/dados"), freshOut("tasks")))._3
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(tasks > 0)
    assert(tasks < 512, s"runAll scheduled $tasks tasks")
  }

  /** The fixture corpus without its unmapped-branch court, in a fresh
    * directory: every branch has factors. */
  private def allMappedCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cnj-mapped")
    new java.io.File(resourcePath("cnj/dados")).listFiles()
      .filter(_.getName != "teste_XX99.csv")
      .foreach(f => java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  test("a warm runAll runs 1 Spark job: the Consolidado write") {
    val mapped = allMappedCorpus()
    MetasJob.runAll(spark, mapped, freshOut("jobs"))
    val (_, jobs, _) = countJobsAndTasks(MetasJob.runAll(spark, mapped, freshOut("jobs")))
    assert(jobs == 1)
    // with an unmapped branch too: the fallback warning is driver-side
    val (_, fixtureJobs, _) =
      countJobsAndTasks(MetasJob.runAll(spark, resourcePath("cnj/dados"), freshOut("jobs")))
    assert(fixtureJobs == 1)
  }

  test("runAll prints NA for a meta of 1e28 or more, whatever the ANSI setting") {
    // DECIMAL(30,2), the rendering's range, ends below 1e28: a meta1 of
    // ~1e27 prints, one of 1e30 is NA
    val dir = java.nio.file.Files.createTempDirectory("graft-cnj-huge")
    java.nio.file.Files.write(dir.resolve("teste_HUGE.csv"), Seq(
      "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025,suspensos_2025",
      "TBIG,Justiça Estadual,1e28,1,0",
      "TOK,Justiça Estadual,1e25,1,0").mkString("\n").getBytes("UTF-8"))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val out = freshOut("huge")
    MetasJob.runAll(spark, dir.toString, out)
    val part = new java.io.File(s"$out/ResumoMetas.csv").listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val src = scala.io.Source.fromFile(part, "UTF-8")
    val rows = try src.getLines().drop(1).map(_.split(";", -1)).toSeq finally src.close()
    val meta1 = rows.map(r => r(0) -> r(2)).toMap
    assert(meta1("TBIG") == "NA")
    assert(meta1("TOK").matches("1\\d{27}\\.0"), meta1("TOK")) // ~1e27, in plain decimal
  }

  test("a Consolidado write that throws surfaces its exception, without waiting for the sums") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // an output directory under a regular file cannot be created
    val notADir = java.io.File.createTempFile("graft-cnj-notadir", ".txt")
    val out = s"${notADir.getPath}/out"
    val run = Future(MetasJob.runAll(spark, resourcePath("cnj/dados"), out))(ExecutionContext.global)
    Await.ready(run, 2.minutes) // a TimeoutException here means runAll blocked
    val err = run.value.get.failed.get
    assert(!err.isInstanceOf[IllegalStateException], s"the sums were awaited: $err")
    assert(err.getStackTrace.exists(_.getMethodName == "writeCsv"), err)
    assert(!new java.io.File(s"$out/ResumoMetas.csv").exists())
  }

  test("a header-only corpus keeps the output layout: header-only parts, no chart") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cnj-headers")
    Seq("teste_STJ.csv", "teste_TRT3.csv").foreach { name =>
      val src = scala.io.Source.fromFile(resourcePath(s"cnj/dados/$name"), "UTF-8")
      val header = try src.getLines().next() finally src.close()
      java.nio.file.Files.write(dir.resolve(name), (header + "\n").getBytes("UTF-8"))
    }
    val out = freshOut("headers")
    MetasJob.runAll(spark, dir.toString, out)
    def visible(d: java.io.File) = d.listFiles().toSeq.filterNot(_.getName.startsWith("."))
    assert(visible(new java.io.File(out)).map(_.getName).sorted ===
      Seq("Consolidado.csv", "ResumoMetas.csv"))
    Seq("Consolidado.csv" -> CnjSchema.allCols,
        "ResumoMetas.csv" -> MetasJob.orderedColumns(
          CnjSchema.keyCols ++ ("meta1" +: (CnjSchema.metaSpecs ++ CnjSchema.stjSpecs).map(_.name))))
      .foreach { case (sub, header) =>
        val parts = visible(new java.io.File(s"$out/$sub")).filter(_.getName.startsWith("part-"))
        assert(parts.size == 1, s"$sub: ${parts.map(_.getName)}")
        val src = scala.io.Source.fromFile(parts.head, "UTF-8")
        try assert(src.getLines().toSeq === Seq(header.mkString(";")), sub)
        finally src.close()
      }
  }
}
