package graft.cnj

import java.awt.{Color, Font}
import java.awt.image.{BufferedImage, IndexColorModel}
import javax.imageio.ImageIO

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DirectCsvFormat, LocalCsv}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The end-to-end Metas Nacionais pipeline — the reference's whole program
  * (Versao_Np.py, Versao_P.py): tolerant multi-file scan -> per-court
  * sums -> [[MetaKernel]] per court -> stringly sinks. The Np/P
  * distinction disappears: Spark's task scheduler IS the process pool.
  *
  * Like the reference, which takes each court file's metas row and its
  * share of Consolidado from one loaded frame (Versao_Np.py:155,224-227),
  * [[runAll]] scans the corpus ONCE: the Consolidado write carries the
  * per-court sums as an observed metric ([[MetaKernel.keyedSums]]), and
  * everything after it is plain Scala on the driver over those few dozen
  * rows. The lazy API ([[resumoTyped]], [[stringlyOutput]], [[chartData]],
  * [[unmappedBranches]], [[debugTrace]]) runs the same functions inside
  * typed maps and filters of a plan, for streams and for callers that
  * want a plan rather than a result.
  *
  * Documented divergence (SURVEY.md §7.3): the reference keys results on
  * the file (one row per input file, identity from row 0); we key on
  * (sigla_tribunal, ramo_justica), which merges a court split across files.
  */
object MetasJob {

  /** One HashAggregate keyed on the court: the sum of every numeric
    * column ([[MetaKernel.sumsSchema]]). */
  private def courtSums(data: DataFrame): DataFrame =
    data.groupBy(col("sigla_tribunal"), col("ramo_justica"))
      .agg(MetaKernel.aggColumns.head, MetaKernel.aggColumns.tail: _*)

  /** Per-court meta summary with typed (double) meta columns
    * ([[MetaKernel.resumoSchema]]): the sums' HashAggregate, then
    * [[MetaKernel.metas]] once per court in a typed map. */
  def resumoTyped(spark: SparkSession, data: DataFrame): DataFrame =
    courtSums(data).map(MetaKernel.metas)(Encoders.row(MetaKernel.resumoSchema))

  /** ResumoMetas with the reference's stringly output contract
    * (Versao_Np.py:231-242) as a driver-local frame.
    *
    * Computed exactly as [[runAll]] computes it, with a `noop` sink in
    * place of the Consolidado write: the scan runs when this is called.
    * One path for both entry points means a caller that warms up on
    * `resumo` has compiled what `runAll` executes. */
  def resumo(spark: SparkSession, inDir: String): DataFrame = {
    val (observed, sums) = observeCourtSums(Reader.readDir(spark, inDir))
    observed.write.format("noop").mode("overwrite").save()
    spark.createDataFrame(printed(observedResumo(sums)).map(Row.fromSeq).asJava, printedSchema)
  }

  /** The corpus with its per-court sums attached as an observed metric
    * ([[MetaKernel.keyedSums]]): whatever action runs on the returned
    * frame first also computes them, in the same scan. */
  private[graft] def observeCourtSums(data: DataFrame): (DataFrame, Observation) = {
    val sums = new Observation()
    (data.observe(sums, MetaKernel.keyedSums.as("court_sums")), sums)
  }

  /** The typed per-court summary ([[resumoTyped]]'s rows, in no
    * particular order) from the sums an action on the frame that
    * [[observeCourtSums]] returned has observed. Call it only after that
    * action returned: a failed action's metric, if one arrives, covers
    * only part of the corpus. The metric reaches the driver through the
    * listener bus, normally within milliseconds of the action; a minute
    * without it is a named failure, not a hang. */
  private[graft] def observedResumo(sums: Observation): Seq[Row] = {
    val row =
      try Await.result(sums.future, 1.minute)
      catch {
        case e: TimeoutException => throw new IllegalStateException(
          s"the per-court sums (observation ${sums.name}) did not arrive within a minute", e)
      }
    row.getSeq[Row](0).map(MetaKernel.metas)
  }

  /** ResumoMetas' columns (Versao_Np.py:234-242), all strings. */
  private val printedSchema: StructType = StructType(
    orderedColumns(MetaKernel.resumoSchema.fieldNames.toSeq).map(StructField(_, StringType)))

  /** ResumoMetas as printed, from typed rows: every cell through
    * [[MetaKernel.cell]], the columns in [[printedSchema]] order, the
    * rows sorted by the printed court as [[stringlyOutput]] sorts them
    * (Spark's string order; courts that print alike keep their order). */
  private[graft] def printed(typed: Seq[Row]): Seq[Seq[String]] = {
    val order = printedSchema.fieldNames.toSeq.map(MetaKernel.resumoSchema.fieldIndex)
    typed.map(r => order.map(i => MetaKernel.cell(r.get(i)))).sortBy(_.head)(sparkStrings)
  }

  /** Spark's ascending string order: UTF-8 bytes, nulls first. */
  private val sparkStrings: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** The stringly output contract over any typed frame, lazily (a stream
    * in complete mode too): every cell a string, a double through
    * [[MetaKernel.cell]] (so nulls and overflow print 'NA'), any other
    * column through Spark's string cast with nulls as 'NA'; columns
    * ordered principal -> sorted metas -> sorted _stj -> rest; rows
    * sorted by court. */
  def stringlyOutput(typed: DataFrame): DataFrame = {
    val header = orderedColumns(typed.columns.toIndexedSeq)
    val cells = typed.select(header.map { n =>
      if (typed.schema(n).dataType == DoubleType) col(n) else col(n).cast(StringType).as(n)
    }: _*)
    cells.map(r => Row.fromSeq(r.toSeq.map(MetaKernel.cell)))(
      Encoders.row(StructType(header.map(StructField(_, StringType)))))
      .orderBy(col("sigla_tribunal"))
  }

  /** Column ordering of Versao_Np.py:234-242 (F5). */
  def orderedColumns(columns: Seq[String]): Seq[String] = {
    val principal = Seq("sigla_tribunal", "ramo_justica", "meta1").filter(columns.contains)
    val metas = columns.filter(c =>
      c.startsWith("meta") && c != "meta1" && !c.endsWith("_stj")).sorted
    val stjs = columns.filter(_.endsWith("_stj")).sorted
    val rest = columns.filterNot((principal ++ metas ++ stjs).contains).sorted
    principal ++ metas ++ stjs ++ rest
  }

  /** A court whose remapped branch has no factors: it takes the Justiça
    * Estadual ones, and the reference warns. */
  private def unmapped(ramo: String, sigla: String): Boolean =
    !Factors.mapped(Factors.ramoUsado(ramo, sigla))

  /** Warning channel for the silent factor fallback (Versao_Np.py:29,
    * 145,168-169): branches with no row in the factor table get
    * Justiça-Estadual factors, and the reference warns once per branch
    * naming the court. One distinct row per unmapped branch with the
    * sorted courts it covers; a null branch (the pandas NaN-ramo case)
    * is reported too. Tiny by construction (bounded by the number of
    * distinct branches).
    *
    * Accepts any frame carrying (ramo_justica, sigla_tribunal) — raw
    * corpus rows or the per-court summary give identical output (the
    * groupBy/collect_set only sees distinct pairs, and those pairs ARE
    * the summary's keys). */
  def unmappedBranches(data: DataFrame): DataFrame =
    data.select(col("ramo_justica"), col("sigla_tribunal"))
      .filter((r: Row) => unmapped(r.getString(0), r.getString(1)))
      .groupBy(col("ramo_justica"))
      .agg(sort_array(collect_set(col("sigla_tribunal"))).as("siglas"))
      .orderBy(col("ramo_justica"))

  /** [[unmappedBranches]]' rows over typed courts, in plain Scala: the
    * branches in Spark's order, each with its distinct non-null courts
    * sorted (`collect_set` drops a null court). */
  private[cnj] def unmappedOnDriver(typed: Seq[Row]): Seq[(String, Seq[String])] =
    typed.map(r => (r.getString(1), r.getString(0)))
      .filter { case (ramo, sigla) => unmapped(ramo, sigla) }
      .groupBy(_._1).toSeq.sortBy(_._1)(sparkStrings)
      .map { case (ramo, courts) => ramo -> courts.flatMap(c => Option(c._2)).distinct.sorted(sparkStrings) }

  /** Mirrors the reference's once-per-branch fallback warning
    * (Versao_Np.py:29,168-169) over typed courts. */
  private[graft] def warnUnmapped(typed: Seq[Row]): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    unmappedOnDriver(typed).foreach { case (ramo, siglas) =>
      log.warn(s"branch '$ramo' (courts: ${siglas.mkString(", ")}) has no specific " +
        "factors; falling back to Justiça Estadual")
    }
  }

  private val traceSchema: StructType = StructType(
    Seq("sigla_tribunal", "ramo_justica", "meta").map(StructField(_, StringType)) ++
      Seq("numerator", "denominator", "factor", "raw", "value").map(StructField(_, DoubleType)))

  /** Golden-trace debug mode (the reference's NOME_ARQUIVO_DEBUG,
    * Versao_Np.py:147,174-211, generalized from meta1-only to every
    * meta): for one named court, one row per meta with the numerator
    * sum, the denominator after the subtraction, the effective factor
    * after the two-level fallback, the unrounded ratio, and the guarded
    * value ([[MetaKernel.Term]]). Values are pre-suppression (the
    * meta8/meta10 a/b blanking happens in [[MetaKernel.metas]]). The
    * terms come off the same sums as resumoTyped — the trace shows
    * exactly the numbers the pipeline used. */
  def debugTrace(spark: SparkSession, data: DataFrame, sigla: String): DataFrame = {
    def boxed(v: Option[Double]): java.lang.Double = v.map(Double.box).orNull
    courtSums(data)
      .filter(col("sigla_tribunal") === sigla)
      .flatMap(sums => MetaKernel.terms(sums).map(t => Row(sums.getString(0), sums.getString(1),
        t.meta, boxed(t.num), boxed(t.den), boxed(t.factor), boxed(t.raw), boxed(t.value))))(
        Encoders.row(traceSchema))
  }

  private val chartSchema: StructType = StructType(Seq(
    StructField("sigla_tribunal", StringType), StructField("meta1_val", DoubleType)))

  /** Chart feed (S7/O1/F3/F4) over a printed ResumoMetas frame: the
    * courts whose meta1 cell is a number ([[MetaKernel.chartValue]]),
    * sorted by it descending, then by court. */
  def chartData(resumo: DataFrame): DataFrame =
    resumo.select(col("sigla_tribunal"), col("meta1").cast(StringType))
      .flatMap(r => MetaKernel.chartValue(r.getString(1)).map(v => Row(r.getString(0), v)))(
        Encoders.row(chartSchema))
      .orderBy(col("meta1_val").desc, col("sigla_tribunal"))

  /** [[chartData]]'s bars over printed rows ([[printed]]), in plain
    * Scala with Spark's orderings. */
  private[graft] def chartBars(printed: Seq[Seq[String]]): Array[(String, Double)] = {
    val meta1 = printedSchema.fieldIndex("meta1")
    printed.flatMap(r => MetaKernel.chartValue(r(meta1)).map(r.head -> _)).toArray
      .sortWith { case ((sa, va), (sb, vb)) =>
        val byValue = SQLOrderingUtil.compareDoubles(vb, va)
        if (byValue != 0) byValue < 0 else sparkStrings.lt(sa, sb)
      }
  }

  /** The sink options of ResumoMetas and Consolidado (S4-S6;
    * Versao_Np.py:100-102): ;-separated UTF-8 CSV with a header. */
  private val csvOptions: Map[String, String] =
    Map("sep" -> ";", "header" -> "true", "encoding" -> "UTF-8")

  /** ;-separated UTF-8 CSV sink (S4-S6; Versao_Np.py:100-102). A real
    * cluster keeps the sharded part files; coalesce(1) only mirrors the
    * reference's single-file contract for small outputs.
    *
    * The files are the ones `write.csv` writes, byte for byte, written
    * by [[DirectCsvFormat]]: Spark's commit protocol and layout, with a
    * per-task encoder that writes string and double cells straight from
    * the row and hands any row that needs quoting to Spark's own CSV
    * generator. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.format(classOf[DirectCsvFormat].getName).mode("overwrite").options(csvOptions).save(path)
  }

  /** [[writeCsv]]'s single-file output for printed ResumoMetas rows,
    * written on the driver with no Spark job ([[LocalCsv]]). */
  private[graft] def writeResumo(spark: SparkSession, printed: Seq[Seq[String]], path: String): Unit =
    LocalCsv.write(spark, printedSchema.fieldNames.toSeq, printed, path, csvOptions)

  /** PNG bar-chart sink for meta1 (S7; Versao_Np.py:83-98) — pure JDK 2D,
    * driver-side over the tiny per-court summary. The chart draws in
    * three colours only, so it is drawn into a 2-bit indexed image whose
    * palette holds exactly those: the same pixels as an RGB rendering in
    * a PNG several times smaller and faster to encode. */
  def writeChartPng(chartData: Array[(String, Double)], path: String): Unit =
    if (chartData.nonEmpty) {
      val palette = Array(Color.WHITE, skyblue, Color.BLACK)
      val colors = new IndexColorModel(2, palette.length, palette.map(_.getRed.toByte),
        palette.map(_.getGreen.toByte), palette.map(_.getBlue.toByte))
      ImageIO.write(drawChart(chartData, new BufferedImage(_, _, BufferedImage.TYPE_BYTE_BINARY, colors)),
        "png", new java.io.File(path))
    }

  /** skyblue, like the reference */
  private val skyblue = new Color(135, 206, 235)

  /** The meta1 bar chart of non-empty `chartData`, drawn in white,
    * [[skyblue]] and black into the image `canvas` makes for a width
    * and a height. */
  private[cnj] def drawChart(chartData: Array[(String, Double)],
      canvas: (Int, Int) => BufferedImage): BufferedImage = {
    val barW = 24
    val w = math.max(1600, chartData.length * (barW + 8) + 100)
    val h = 1000
    val img = canvas(w, h)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    val maxV = chartData.map(_._2).max.max(1e-9)
    val plotH = h - 200
    g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 10))
    chartData.zipWithIndex.foreach { case ((sigla, v), i) =>
      val x = 60 + i * (barW + 8)
      val bh = math.max(1, (v / maxV * plotH).toInt)
      g.setColor(skyblue)
      g.fillRect(x, 60 + (plotH - bh), barW, bh)
      g.setColor(Color.BLACK)
      val old = g.getTransform
      g.rotate(-math.Pi / 2, x + barW / 2, h - 130)
      g.drawString(sigla, x + barW / 2 - 40, h - 130)
      g.setTransform(old)
    }
    g.setColor(Color.BLACK)
    g.setFont(new Font(Font.SANS_SERIF, Font.BOLD, 16))
    g.drawString("Comparação da META1 entre os Tribunais (Spark)", 60, 30)
    g.dispose()
    img
  }

  /** Full run: ResumoMetas.csv + Consolidado.csv + grafico_meta1.png.
    *
    * The corpus is read exactly once, by the Consolidado write, which
    * observes the per-court sums on its way ([[observeCourtSums]]). That
    * write is the run's only Spark job, and it goes from bytes to bytes:
    * the scan's reader parses each line's UTF-8 bytes straight into the
    * canonical row ([[CnjFileParser]]; Consolidado is the canonical
    * frame, the union-all of every court file with the NP outer schema
    * alignment, U1; Versao_Np.py:224-227) and the sink writes each row's
    * cells straight into the part file ([[writeCsv]]). The rest is plain
    * Scala on the driver over those few dozen rows ([[observedResumo]]):
    * the kernel, the rendering, the sorts, the ResumoMetas file
    * ([[writeResumo]]), the fallback warning and the chart. The raw
    * corpus is NOT cached:
    * building the InMemoryRelation for ~1 GB of expanded rows costs ~10x
    * the one CSV scan it would share (measured at the 930 MB corpus).
    *
    * A failed Consolidado write throws from here before anything waits
    * for its metric, and writes no ResumoMetas or chart. */
  def runAll(spark: SparkSession, inDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val (observed, sums) = observeCourtSums(Reader.readDir(spark, inDir))
    // sharded: a coalesce(1) write of the full corpus funnels every byte
    // through one task (measured 187 s vs 19 s for ~1 GB); the
    // single-file contract is kept only for the tiny summary
    writeCsv(observed, s"$outDir/Consolidado.csv", singleFile = false)
    val typed = observedResumo(sums)
    val res = printed(typed)
    writeResumo(spark, res, s"$outDir/ResumoMetas.csv")
    warnUnmapped(typed)
    writeChartPng(chartBars(res), s"$outDir/grafico_meta1.png")
  }
}
