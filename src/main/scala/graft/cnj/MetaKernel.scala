package graft.cnj

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, KeyedSums}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** The ratio-of-sums meta kernel (`calcular_meta`,
  * /root/reference/Versao_Np.py:65-81) as pure Column builders — no UDFs,
  * so the whole computation stays inside whole-stage codegen and one
  * HashAggregate pass computes all 15 metas (SURVEY.md §2.4).
  *
  * Semantics reproduced:
  *  - a column "counts" only if it has >=1 non-null value in the group
  *    (the `notna().any()` guard; absent columns are all-null after
  *    canonical normalization, so the existence guard collapses into it);
  *  - NaN numerator -> NA; zero denominator -> NA; null factor -> NA;
  *  - round half-even to 2 decimals (Python round ~ Spark bround; exact
  *    .xx5 boundaries can differ because Python rounds the binary value
  *    while bround rounds the shortest decimal rendering — SURVEY.md §4.1);
  *  - NA is represented as null until the stringly output sink.
  */
object MetaKernel {

  private def sumName(c: String): String = s"sum_$c"

  /** Aggregate columns (one sum per numeric column) needed by every
    * meta — feed these into one groupBy(...).agg(...) call. */
  def aggColumns: Seq[Column] = CnjSchema.numericCols.map(c => sum(col(c)).as(sumName(c)))

  /** The schema that groupBy(court keys).agg([[aggColumns]]) produces. */
  val sumsSchema: StructType = StructType(
    CnjSchema.keyCols.map(StructField(_, StringType)) ++
      CnjSchema.numericCols.map(c => StructField(sumName(c), DoubleType)))

  /** The same per-court sums as ONE aggregate, for `Dataset.observe`:
    * an array with one [[sumsSchema]] struct per court. */
  def keyedSums: Column = {
    def in(c: String) = ColumnBridge.expression(col(c))
    ColumnBridge.column(KeyedSums(CnjSchema.keyCols.map(in), CnjSchema.numericCols.map(in),
      sumsSchema.fieldNames.toSeq).toAggregateExpression())
  }

  /** The column has >= 1 non-null value in the group. A double `sum`
    * stays null until its first non-null input and is non-null from
    * then on, so its null-ness says what a non-null `count` would; one
    * aggregate per column instead of two halves the aggregate the
    * planner, codegen and every partial-aggregate row pay for. */
  private def present(c: String): Column = col(s"sum_$c").isNotNull
  private def s(c: String): Column = col(s"sum_$c")

  /** The guarded value with NaN rendered as NA (null): pandas keeps a
    * NaN ratio through round(), and it stringifies to 'NA'. `nanvl`
    * keeps null as null, so this is `value` when non-null and not NaN,
    * referencing `value` once (a `when(value.isNotNull && !isnan(value),
    * value)` triples the expression tree the planner walks). */
  private def nanAsNull(value: Column): Column = nanvl(value, lit(null).cast(DoubleType))

  /** calcular_meta(j, d, s, factor) over the pre-aggregated sums. */
  def metaValue(spec: CnjSchema.MetaSpec, factor: Column): Column = {
    val num = s(spec.j)
    val den = s(spec.d) - s(spec.s)
    val raw = bround(num / den * factor, 2)
    val value = when(
      present(spec.j) && present(spec.d) && present(spec.s) &&
        !isnan(num) && den =!= 0 && factor.isNotNull && !isnan(factor),
      raw)
    nanAsNull(value)
  }

  /** Meta 1 (Versao_Np.py:171-208): denominator adds optional
    * dessobrestados (0 when the column is absent/all-null); factor 100. */
  def meta1Value: Column = {
    val num = s("julgados_2025")
    val dess = coalesce(s("dessobrestados_2025"), lit(0.0))
    val den = s("casos_novos_2025") + dess - s("suspensos_2025")
    val raw = bround(num / den * lit(100.0), 2)
    val value = when(
      present("julgados_2025") && present("casos_novos_2025") && present("suspensos_2025") &&
        !isnan(num) && den =!= 0,
      raw)
    nanAsNull(value)
  }

  /** STJ-only metas + suppression: when meta{8,10}_stj computed non-NA,
    * the a/b variants are blanked (Versao_Np.py:125-135). */
  def stjValue(spec: CnjSchema.MetaSpec): Column =
    when(col(Factors.fcol(spec.factorKey)).isNotNull,
      metaValue(spec, col(Factors.fcol(spec.factorKey))))

  def suppressIf(stjMeta: Column, variant: Column): Column =
    when(stjMeta.isNotNull, lit(null).cast(DoubleType)).otherwise(variant)
}
