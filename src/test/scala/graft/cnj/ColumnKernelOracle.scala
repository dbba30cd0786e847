package graft.cnj

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType}

/** The meta kernel as Spark Column expressions: the form the pipeline
  * ran before [[MetaKernel]] became plain Scala over one court's sums,
  * kept as an independent differential oracle for it. Every rule is
  * written with Spark's own operators — the branch remap as a when-chain,
  * the factor lookup as a literal-map lookup with a coalesce to the JE
  * value, `bround`, `nanvl`, and the rendering as a DECIMAL(30,2) cast,
  * a string cast and two regexes — so Spark, not the kernel, decides
  * each semantic corner. Run [[stringly]] with
  * `spark.sql.ansi.enabled=false`: under ANSI the DECIMAL(30,2) cast of a
  * meta of 1e28 or more throws instead of giving the documented 'NA'.
  */
object ColumnKernelOracle {

  private def s(c: String): Column = col(s"sum_$c")
  private def present(c: String): Column = s(c).isNotNull
  private def nanAsNull(value: Column): Column = nanvl(value, lit(null).cast(DoubleType))

  private def metaValue(spec: CnjSchema.MetaSpec, factor: Column): Column = {
    val num = s(spec.j)
    val den = s(spec.d) - s(spec.s)
    nanAsNull(when(
      present(spec.j) && present(spec.d) && present(spec.s) &&
        !isnan(num) && den =!= 0 && factor.isNotNull && !isnan(factor),
      bround(num / den * factor, 2)))
  }

  private def meta1Value: Column = {
    val num = s("julgados_2025")
    val den = s("casos_novos_2025") + coalesce(s("dessobrestados_2025"), lit(0.0)) -
      s("suspensos_2025")
    nanAsNull(when(
      present("julgados_2025") && present("casos_novos_2025") && present("suspensos_2025") &&
        !isnan(num) && den =!= 0,
      bround(num / den * lit(100.0), 2)))
  }

  private def ramoUsado: Column = {
    val ramo = col("ramo_justica")
    val sigla = col("sigla_tribunal")
    when(ramo === "Tribunais Superiores",
      when(sigla === "TST", lit("Tribunal Superior do Trabalho"))
        .when(sigla === "STJ", lit("Superior Tribunal de Justiça"))
        .otherwise(ramo))
      .when(ramo === "Justiça Eleitoral", lit("Tribunal Superior Eleitoral"))
      .otherwise(ramo)
  }

  private def branchFactor(key: String): Column =
    typedLit(Factors.byBranch.collect { case (ramo, fs) if fs.contains(key) => ramo -> fs(key) })
      .apply(ramoUsado)

  private val je = Factors.byBranch("Justiça Estadual")

  /** The typed per-court metas over a [[MetaKernel.sumsSchema]] frame. */
  def metas(sums: DataFrame): DataFrame = {
    val standard = CnjSchema.metaSpecs.map { spec =>
      val own = branchFactor(spec.factorKey)
      spec.name -> metaValue(spec, je.get(spec.factorKey).fold(own)(v => coalesce(own, lit(v))))
    }
    val stj = CnjSchema.stjSpecs.map { spec =>
      val own = branchFactor(spec.factorKey)
      spec.name -> when(own.isNotNull, metaValue(spec, own))
    }
    val stjByName = stj.toMap
    def suppressIf(stjMeta: Column, variant: Column) =
      when(stjMeta.isNotNull, lit(null).cast(DoubleType)).otherwise(variant)
    val suppressed = standard.map {
      case (n @ ("meta8a" | "meta8b"), c) => n -> suppressIf(stjByName("meta8_stj"), c)
      case (n @ ("meta10a" | "meta10b"), c) => n -> suppressIf(stjByName("meta10_stj"), c)
      case other => other
    }
    sums.select(col("sigla_tribunal") +: col("ramo_justica") +:
      (("meta1" -> meta1Value) +: (suppressed ++ stj)).map { case (n, c) => c.as(n) }: _*)
  }

  private def plainDecimal(c: Column): Column = {
    val s = c.cast(DecimalType(30, 2)).cast(StringType)
    regexp_replace(regexp_replace(s, "(\\.\\d*?)0+$", "$1"), "\\.$", ".0")
  }

  private def guardedPlainDecimal(c: Column): Column = {
    val dec = c.cast(DecimalType(30, 2))
    when(c.isNotNull && dec.isNotNull && dec.cast(DoubleType) =!= c, lit("PRECISION_LOSS"))
      .otherwise(plainDecimal(c))
  }

  /** The printed ResumoMetas, sorted by court. */
  def stringly(typed: DataFrame): DataFrame = {
    val cells = typed.select(typed.schema.fields.toIndexedSeq.map { f =>
      (if (f.dataType == DoubleType) guardedPlainDecimal(col(f.name))
       else col(f.name).cast(StringType)).as(f.name)
    }: _*).na.fill("NA")
    cells.select(MetasJob.orderedColumns(cells.columns.toIndexedSeq).map(col): _*)
      .orderBy(col("sigla_tribunal"))
  }

  /** The chart feed over a printed frame. */
  def chart(printed: DataFrame): DataFrame =
    printed.withColumn("meta1_val", col("meta1").try_cast(DoubleType))
      .na.drop(Seq("meta1_val"))
      .select(col("sigla_tribunal"), col("meta1_val"))
      .orderBy(col("meta1_val").desc, col("sigla_tribunal"))

  /** The fallback warning's rows over any frame with the court keys. */
  def unmapped(data: DataFrame): DataFrame = {
    val r = ramoUsado
    data.select(col("ramo_justica"), col("sigla_tribunal"))
      .filter(r.isNull || !r.isin(Factors.byBranch.keys.toSeq: _*))
      .groupBy(col("ramo_justica"))
      .agg(sort_array(collect_set(col("sigla_tribunal"))).as("siglas"))
      .orderBy(col("ramo_justica"))
  }
}
