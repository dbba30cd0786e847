package graft.cnj

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The end-to-end Metas Nacionais pipeline — the reference's whole program
  * (/root/reference/Versao_Np.py, Versao_P.py) as one declarative Spark
  * plan: tolerant multi-file scan -> single HashAggregate keyed on the
  * court -> broadcast join with the factor dimension -> meta projection ->
  * stringly sinks. The Np/P distinction disappears: Spark's task scheduler
  * IS the process pool, and the shuffle IS the temp-file merge.
  *
  * Documented divergence (SURVEY.md §7.3): the reference keys results on
  * the file (one row per input file, identity from row 0); we key on
  * (sigla_tribunal, ramo_justica), which merges a court split across files.
  */
object MetasJob {

  /** The shared front half of [[resumoTyped]] and [[debugTrace]]: one
    * HashAggregate keyed on the court (sums + non-null counts of every
    * numeric column) plus the broadcast factor-dimension join. */
  private def aggregatedWithFactors(spark: SparkSession, data: DataFrame): DataFrame = {
    val aggregated = data
      .groupBy(col("sigla_tribunal"), col("ramo_justica"))
      .agg(MetaKernel.aggColumns.head, MetaKernel.aggColumns.tail: _*)
      .withColumn("ramo_fatores_key",
        Factors.ramoUsado(col("ramo_justica"), col("sigla_tribunal")))
    aggregated.join(
      broadcast(Factors.dimension(spark)),
      aggregated("ramo_fatores_key") === col("ramo_fatores"),
      "left")
  }

  /** Per-court meta summary with typed (double) meta columns. */
  def resumoTyped(spark: SparkSession, data: DataFrame): DataFrame = {
    val joined = aggregatedWithFactors(spark, data)

    val standard = CnjSchema.metaSpecs.map { spec =>
      spec.name -> MetaKernel.metaValue(spec, Factors.effectiveFactor(spec.factorKey))
    }
    val stj = CnjSchema.stjSpecs.map(spec => spec.name -> MetaKernel.stjValue(spec))
    val stjByName = stj.toMap

    val suppressed = standard.map {
      case (n @ ("meta8a" | "meta8b"), c) => n -> MetaKernel.suppressIf(stjByName("meta8_stj"), c)
      case (n @ ("meta10a" | "meta10b"), c) => n -> MetaKernel.suppressIf(stjByName("meta10_stj"), c)
      case other => other
    }

    val metaCols: Seq[(String, Column)] =
      ("meta1" -> MetaKernel.meta1Value) +: (suppressed ++ stj)

    joined.select(
      col("sigla_tribunal") +: col("ramo_justica") +:
        metaCols.map { case (n, c) => c.as(n) }: _*)
  }

  /** ResumoMetas with the reference's stringly output contract
    * (Versao_Np.py:231-242): every cell a string, nulls rendered 'NA',
    * columns ordered principal -> sorted metas -> sorted _stj -> rest. */
  def resumo(spark: SparkSession, inDir: String): DataFrame =
    stringlyOutput(resumoTyped(spark, Reader.readDir(spark, inDir)))

  /** Python str() renders doubles in plain decimal up to 1e16 where
    * Spark's string cast flips to scientific notation at 1e7. Metas are
    * bround(x, 2), so render via DECIMAL(30,2) and trim trailing zeros
    * (keeping one fractional digit, as str(3.0) == "3.0"). Residual
    * divergence: Python switches to scientific at >= 1e16; we stay plain
    * (decimal overflow to null -> "NA" beyond 1e28). */
  private def plainDecimal(c: Column): Column = {
    val s = c.cast(org.apache.spark.sql.types.DecimalType(30, 2)).cast(StringType)
    regexp_replace(regexp_replace(s, "(\\.\\d*?)0+$", "$1"), "\\.$", ".0")
  }

  /** plainDecimal plus the 2-decimal contract check: a value whose
    * DECIMAL(30,2) round-trip is not bit-identical was never bround(x, 2)
    * and would be silently truncated — flag it instead. Decimal overflow
    * (>= 1e28 -> null) keeps the documented 'NA' rendering. */
  private def guardedPlainDecimal(c: Column): Column = {
    val dec = c.cast(org.apache.spark.sql.types.DecimalType(30, 2))
    when(c.isNotNull && dec.isNotNull &&
        dec.cast(org.apache.spark.sql.types.DoubleType) =!= c, lit("PRECISION_LOSS"))
      .otherwise(plainDecimal(c))
  }

  /** CONTRACT: every DoubleType column fed through here must already be
    * rounded to <= 2 decimals (the meta kernel brounds every meta value) —
    * plainDecimal renders through DECIMAL(30,2), which would silently
    * round a higher-precision double. Guarded at runtime: a double cell
    * whose DECIMAL(30,2) round-trip is not bit-identical to the raw value
    * renders as 'PRECISION_LOSS', surfacing the violation in golden
    * output instead of hiding it. */
  def stringlyOutput(typed: DataFrame): DataFrame = {
    val stringly = typed.select(typed.schema.fields.toIndexedSeq.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case org.apache.spark.sql.types.DoubleType => guardedPlainDecimal(c)
        case _ => c.cast(StringType)
      }).as(f.name)
    }: _*).na.fill("NA")
    stringly.select(orderedColumns(stringly.columns.toIndexedSeq).map(col): _*)
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

  /** Consolidado — union-all of every input with NP outer schema
    * alignment (U1; Versao_Np.py:224-227). */
  def consolidado(spark: SparkSession, inDir: String): DataFrame =
    Reader.readDir(spark, inDir)

  /** Warning channel for the silent factor fallback (Versao_Np.py:29,
    * 145,168-169): branches with no row in the factor dimension get
    * Justiça-Estadual factors, and the reference warns once per branch
    * naming the court. One distinct row per unmapped branch with the
    * sorted courts it covers; a null branch (the pandas NaN-ramo case)
    * is reported too. Tiny by construction (bounded by the number of
    * distinct branches), so [[runAll]] collects and logs it.
    *
    * Accepts any frame carrying (ramo_justica, sigla_tribunal) — raw
    * corpus rows or the per-court aggregate give identical output (the
    * groupBy/collect_set only sees distinct pairs, and those pairs ARE
    * the aggregate's keys), so [[runAll]] feeds it the driver-local
    * per-court summary ([[localSummary]]) instead of re-scanning the
    * corpus. */
  def unmappedBranches(data: DataFrame): DataFrame = {
    val mapped = Factors.byBranch.keys.toSeq
    data
      .select(col("ramo_justica"), col("sigla_tribunal"))
      .withColumn("ramo_usado", Factors.ramoUsado(col("ramo_justica"), col("sigla_tribunal")))
      .filter(col("ramo_usado").isNull || !col("ramo_usado").isin(mapped: _*))
      .groupBy(col("ramo_justica"))
      .agg(sort_array(collect_set(col("sigla_tribunal"))).as("siglas"))
      .orderBy(col("ramo_justica"))
  }

  /** Golden-trace debug mode (the reference's NOME_ARQUIVO_DEBUG,
    * Versao_Np.py:147,174-211, generalized from meta1-only to every
    * meta): for one named court, one row per meta with the numerator
    * sum, the denominator (and its value after the subtraction), the
    * effective factor after the two-level fallback, the unrounded ratio,
    * and the final guarded value. Values are pre-suppression (the
    * meta8/meta10 a/b blanking happens in [[resumoTyped]]'s projection);
    * the stj rows carry their own no-JE-fallback factor semantics.
    * One filtered row off the same aggregate as resumoTyped — the trace
    * shows exactly the numbers the pipeline used. */
  def debugTrace(spark: SparkSession, data: DataFrame, sigla: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    def s(c: String) = col(s"sum_$c")
    def entry(name: String, num: Column, den: Column, fac: Column, value: Column) =
      struct(lit(name).as("meta"), num.cast(DoubleType).as("numerator"),
        den.cast(DoubleType).as("denominator"), fac.cast(DoubleType).as("factor"),
        (try_divide(num, den) * fac).cast(DoubleType).as("raw"),
        value.cast(DoubleType).as("value"))
    val meta1 = entry("meta1",
      s("julgados_2025"),
      s("casos_novos_2025") + coalesce(s("dessobrestados_2025"), lit(0.0)) - s("suspensos_2025"),
      lit(100.0), MetaKernel.meta1Value)
    val standard = CnjSchema.metaSpecs.map { spec =>
      val fac = Factors.effectiveFactor(spec.factorKey)
      entry(spec.name, s(spec.j), s(spec.d) - s(spec.s), fac,
        MetaKernel.metaValue(spec, fac))
    }
    val stj = CnjSchema.stjSpecs.map { spec =>
      entry(spec.name, s(spec.j), s(spec.d) - s(spec.s),
        col(Factors.fcol(spec.factorKey)), MetaKernel.stjValue(spec))
    }
    aggregatedWithFactors(spark, data)
      .filter(col("sigla_tribunal") === sigla)
      .select(col("sigla_tribunal"), col("ramo_justica"),
        explode(array(meta1 +: (standard ++ stj): _*)).as("t"))
      .select(col("sigla_tribunal"), col("ramo_justica"), col("t.*"))
  }

  /** Chart feed (S7/O1/F3/F4): courts with numeric meta1, sorted desc. */
  def chartData(resumo: DataFrame): DataFrame =
    resumo
      .withColumn("meta1_val", expr("try_cast(meta1 AS DOUBLE)"))
      .na.drop(Seq("meta1_val"))
      .select(col("sigla_tribunal"), col("meta1_val"))
      .orderBy(col("meta1_val").desc, col("sigla_tribunal"))

  /** ;-separated UTF-8 CSV sink (S4-S6; Versao_Np.py:100-102). A real
    * cluster keeps the sharded part files; coalesce(1) only mirrors the
    * reference's single-file contract for small outputs. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("sep", ";").option("header", "true").option("encoding", "UTF-8")
      .csv(path)
  }

  /** PNG bar-chart sink for meta1 (S7; Versao_Np.py:83-98) — pure JDK 2D,
    * driver-side over the tiny per-court summary. */
  def writeChartPng(chartData: Array[(String, Double)], path: String): Unit = {
    import java.awt.{Color, Font}
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    if (chartData.isEmpty) return
    val barW = 24
    val w = math.max(1600, chartData.length * (barW + 8) + 100)
    val h = 1000
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    val maxV = chartData.map(_._2).max.max(1e-9)
    val plotH = h - 200
    g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 10))
    chartData.zipWithIndex.foreach { case ((sigla, v), i) =>
      val x = 60 + i * (barW + 8)
      val bh = math.max(1, (v / maxV * plotH).toInt)
      g.setColor(new Color(135, 206, 235)) // skyblue, like the reference
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
    ImageIO.write(img, "png", new java.io.File(path))
  }

  /** Materializes the per-court summary on the driver: one AQE-coalesced
    * job runs the aggregate, and its rows come back as a driver-local
    * frame (a LocalRelation) for the sinks to reuse. Safe to collect:
    * the row count is bounded by the distinct (sigla_tribunal,
    * ramo_justica) keys, whatever the corpus size. Preferred over
    * `.cache()`: while `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
    * is false (the Spark 4.1 default) AQE may not coalesce a plan built
    * for caching, so a cached aggregate keeps the full
    * `coalescePartitions.initialPartitionNum` width (512 under
    * [[graft.GraftSession]]) and every later action and sort pass runs
    * that many empty tasks. */
  def localSummary(typed: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    typed.sparkSession.createDataFrame(typed.collect().toSeq.asJava, typed.schema)
  }

  /** Mirrors the reference's once-per-branch fallback warning
    * (Versao_Np.py:29,168-169) off a per-court summary. */
  def warnUnmapped(summary: DataFrame): Unit = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    unmappedBranches(summary).collect().foreach { r =>
      val siglas = r.getSeq[String](1).mkString(", ")
      log.warn(s"branch '${r.getString(0)}' (courts: $siglas) has no specific " +
        "factors; falling back to Justiça Estadual")
    }
  }

  /** Full run: ResumoMetas.csv + Consolidado.csv + grafico_meta1.png.
    *
    * The corpus is read exactly twice: once by the aggregate, whose
    * few-dozen-row result [[localSummary]] brings to the driver, and
    * once by the Consolidado write. ResumoMetas, the fallback warning
    * and the chart all run off that driver-local summary. The raw corpus
    * is NOT cached: building the InMemoryRelation for ~1 GB of expanded
    * rows costs ~10x the one extra CSV scan it would save (measured at
    * the 930 MB corpus). The sinks run one after the other: overlapping
    * them from two threads contended for the same cores
    * (CNJBENCH_r14.json), and the summary sinks are sub-second. */
  def runAll(spark: SparkSession, inDir: String, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val data = Reader.readDir(spark, inDir)
    val summary = localSummary(resumoTyped(spark, data))
    val res = stringlyOutput(summary)
    writeCsv(res, s"$outDir/ResumoMetas.csv")
    warnUnmapped(summary)
    val chart = chartData(res).collect().map(r => (r.getString(0), r.getDouble(1)))
    writeChartPng(chart, s"$outDir/grafico_meta1.png")
    // sharded: a coalesce(1) write of the full corpus funnels every byte
    // through one task (measured 187 s vs 19 s for ~1 GB); the
    // single-file contract is kept only for the tiny summary
    writeCsv(data, s"$outDir/Consolidado.csv", singleFile = false)
  }
}
