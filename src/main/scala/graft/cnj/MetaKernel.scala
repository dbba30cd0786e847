package graft.cnj

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, KeyedSums}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** The ratio-of-sums meta kernel (`calcular_meta`, Versao_Np.py:65-81)
  * as plain Scala over ONE court's sums, as the reference computes each
  * court's metas with one function over that court's sums. The sums come
  * from one aggregate pass (a groupBy over [[aggColumns]], or the
  * observed [[keyedSums]]); the kernel then runs once per court — a few
  * dozen calls — on the driver ([[MetasJob.runAll]]) or inside a typed
  * map of a lazy plan ([[MetasJob.resumoTyped]]). Both paths call the
  * same functions.
  *
  * Semantics reproduced:
  *  - a column "counts" only if it has >=1 non-null value in the court
  *    (the `notna().any()` guard; absent columns are all-null after
  *    canonical normalization, so the existence guard collapses into it);
  *  - NaN numerator -> NA; zero denominator -> NA; missing factor -> NA;
  *  - round half-even to 2 decimals (Python round ~ Spark bround; exact
  *    .xx5 boundaries can differ because Python rounds the binary value
  *    while bround rounds the shortest decimal rendering — SURVEY.md §4.1);
  *  - NA is represented as null until [[cell]] renders it.
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

  /** The typed ResumoMetas: the court keys, then meta1, the 13 standard
    * metas in config order and the two STJ metas, as nullable doubles
    * (null is NA). */
  val resumoSchema: StructType = StructType(
    CnjSchema.keyCols.map(StructField(_, StringType)) ++
      ("meta1" +: (CnjSchema.metaSpecs ++ CnjSchema.stjSpecs).map(_.name))
        .map(StructField(_, DoubleType)))

  /** One meta of one court as calcular_meta(j, d, s, factor) sees it:
    * `num` is the julgados sum, `den` the distribuidos sum minus the
    * suspensos sum, `factor` the effective factor. Each is None where
    * an input column has no value in the court or the factor is
    * missing. */
  final case class Term(meta: String, num: Option[Double], den: Option[Double],
      factor: Option[Double]) {

    /** The unrounded ratio; None for a zero denominator. */
    def raw: Option[Double] = for (j <- num; d <- den if d != 0; f <- factor) yield j / d * f

    /** The guarded meta: the ratio rounded half-even to 2 decimals, NA
      * for a zero denominator and for a NaN ratio (which a NaN numerator,
      * denominator or factor gives; pandas prints a NaN ratio as NA). */
    def value: Option[Double] = raw.map(bround2).filterNot(_.isNaN)
  }

  /** Spark's `bround(x, 2)`: half-even over the double's shortest
    * decimal rendering; NaN and infinities pass through. */
  def bround2(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(2, RoundingMode.HALF_EVEN).doubleValue

  private val sumIndex: Map[String, Int] =
    CnjSchema.numericCols.zipWithIndex.map { case (c, i) => c -> (CnjSchema.keyCols.size + i) }.toMap

  /** Every meta's terms for one court, from its [[sumsSchema]] row, in
    * [[resumoSchema]] order and before the STJ suppression. */
  def terms(sums: Row): Seq[Term] = {
    def s(c: String): Option[Double] = {
      val i = sumIndex(c)
      if (sums.isNullAt(i)) None else Some(sums.getDouble(i))
    }
    def minus(a: String, b: String) = for (x <- s(a); y <- s(b)) yield x - y
    val ramoUsado = Factors.ramoUsado(sums.getString(1), sums.getString(0))
    // Meta 1 (Versao_Np.py:171-208): the denominator adds the optional
    // dessobrestados (0 when the court has none); factor 100
    val dess = s("dessobrestados_2025").getOrElse(0.0)
    val meta1 = Term("meta1", s("julgados_2025"),
      for (cn <- s("casos_novos_2025"); susp <- s("suspensos_2025")) yield cn + dess - susp,
      Some(100.0))
    meta1 +: (CnjSchema.metaSpecs ++ CnjSchema.stjSpecs).map(spec =>
      Term(spec.name, s(spec.j), minus(spec.d, spec.s), Factors.factor(spec.factorKey, ramoUsado)))
  }

  /** The a/b variants an STJ meta blanks when it computed
    * (Versao_Np.py:125-135). */
  private val suppressedBy: Map[String, String] = Map(
    "meta8a" -> "meta8_stj", "meta8b" -> "meta8_stj",
    "meta10a" -> "meta10_stj", "meta10b" -> "meta10_stj")

  /** One court's typed ResumoMetas row ([[resumoSchema]]) from its
    * [[sumsSchema]] row. */
  def metas(sums: Row): Row = {
    val values = terms(sums).map(t => t.meta -> t.value)
    val computed = values.collect { case (m, Some(_)) => m }.toSet
    Row.fromSeq(sums.getString(0) +: sums.getString(1) +: values.map {
      case (m, v) if !suppressedBy.get(m).exists(computed) => v.map(Double.box).orNull
      case _ => null
    })
  }

  /** One ResumoMetas cell as the reference prints it (Versao_Np.py:
    * 231-242). A double prints in plain decimal with at least one
    * fractional digit, as Python's str() prints a 2-decimal value below
    * 1e16 ("3.0", "1234567.5"; Spark's string cast flips to scientific
    * at 1e7; above 1e16 we stay plain where Python does not). NA stands
    * for null, NaN, an infinity, and a magnitude of 1e28 or more, which
    * the DECIMAL(30,2) rendering cannot hold. A double with more than 2
    * decimals prints PRECISION_LOSS: every meta is bround(x, 2), so one
    * that is not broke the kernel's contract, and rendering it would
    * round it silently. Any other value prints as its string. */
  def cell(v: Any): String = v match {
    case null => "NA"
    case d: Double =>
      if (d.isNaN || d.isInfinite) "NA"
      else {
        // Spark's cast to DECIMAL(30,2): half-up over the shortest rendering
        val dec = JBigDecimal.valueOf(d).setScale(2, RoundingMode.HALF_UP)
        if (dec.precision > 30) "NA"
        else if (dec.doubleValue != d) "PRECISION_LOSS"
        else {
          val s = dec.toPlainString // two decimals: "3.00", "12.50", "12.55"
          if (s.endsWith("0")) s.dropRight(1) else s
        }
      }
    case other => other.toString
  }

  /** The chart's value for a rendered meta1 cell: the number it prints,
    * or None for NA, PRECISION_LOSS and anything else that is not a
    * number (S7/O1: the chart shows the courts with a numeric meta1). */
  def chartValue(meta1: String): Option[Double] =
    Option(meta1).flatMap(c => Option(Reader.parseDouble(c))).map(_.doubleValue)
}
