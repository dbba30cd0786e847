package graft.cnj

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Property-style differential tests of the meta kernel: random per-court
  * datasets against an independent plain-Scala re-implementation of the
  * reference semantics (sum guards, den==0, optional dessobrestados,
  * half-even rounding), the driver path against the lazy plans, and the
  * kernel with its rendering against the Column-expression oracle
  * ([[ColumnKernelOracle]]). Values are drawn from small sets so zero
  * denominators and all-null columns occur constantly.
  */
class MetaKernelPropertySpec extends SparkTestBase {

  private val ramo = "Justiça Estadual"

  // factor VALUES are cross-checked against the reference elsewhere
  // (MetaKernelSpec, golden e2e); this property test exercises the kernel
  private lazy val jeFactors: Map[String, Double] = Factors.byBranch(ramo)

  // one court's data: per numeric column either absent (all-null) or a
  // short list of values drawn from {-1, 0, 1, 2, 2.5} with nulls mixed in
  private val cellGen: Gen[Option[Double]] =
    Gen.frequency(3 -> Gen.oneOf(-1.0, 0.0, 1.0, 2.0, 2.5).map(Some(_)),
      1 -> Gen.const(None))
  private def courtGen(sigla: String,
      cellGen: Gen[Option[Double]] = cellGen): Gen[Seq[Map[String, Option[Double]]]] =
    for {
      nRows <- Gen.choose(1, 4)
      colPresent <- Gen.sequence[Seq[Boolean], Boolean](
        CnjSchema.numericCols.map(_ => Gen.frequency(3 -> true, 1 -> false)))
      rows <- Gen.listOfN(nRows, Gen.sequence[Seq[Option[Double]], Option[Double]](
        CnjSchema.numericCols.map(_ => cellGen)))
    } yield rows.map { cells =>
      CnjSchema.numericCols.lazyZip(cells).lazyZip(colPresent).map {
        (c, v, present) => c -> (if (present) v else None)
      }.toMap
    }

  private def bround2(x: Double): Double =
    BigDecimal(x).setScale(2, RoundingMode.HALF_EVEN).toDouble

  /** calcular_meta of the reference, directly in Scala. */
  private def modelMeta(rows: Seq[Map[String, Option[Double]]],
      j: String, d: String, s: String, factor: Option[Double]): Option[Double] = {
    def vals(c: String) = rows.flatMap(_(c))
    if (vals(j).isEmpty || vals(d).isEmpty || vals(s).isEmpty) None
    else {
      val den = vals(d).sum - vals(s).sum
      factor match {
        case Some(f) if den != 0.0 =>
          val r = vals(j).sum / den * f
          if (r.isNaN || r.isInfinite) None else Some(bround2(r))
        case _ => None
      }
    }
  }

  private def modelMeta1(rows: Seq[Map[String, Option[Double]]]): Option[Double] = {
    def vals(c: String) = rows.flatMap(_(c))
    if (vals("julgados_2025").isEmpty || vals("casos_novos_2025").isEmpty ||
      vals("suspensos_2025").isEmpty) None
    else {
      val dess = vals("dessobrestados_2025").sum // empty -> 0
      val den = vals("casos_novos_2025").sum + dess - vals("suspensos_2025").sum
      if (den == 0.0) None
      else {
        val r = vals("julgados_2025").sum / den * 100.0
        if (r.isNaN || r.isInfinite) None else Some(bround2(r))
      }
    }
  }

  private val schema = StructType(
    CnjSchema.keyCols.map(StructField(_, StringType)) ++
      CnjSchema.numericCols.map(StructField(_, DoubleType)))

  test("resumoTyped matches the plain-Scala reference model on 5x25 random courts") {
    (0 until 5).foreach { round =>
      val courts = (0 until 25).map(i => f"T$round%d_$i%02d")
      val data: Map[String, Seq[Map[String, Option[Double]]]] = courts.map { sigla =>
        sigla -> courtGen(sigla)(Gen.Parameters.default, Seed(round * 1000L + sigla.hashCode))
          .getOrElse(fail(s"gen failed for $sigla"))
      }.toMap
      val sparkRows = data.toSeq.flatMap { case (sigla, rows) =>
        rows.map(m => Row.fromSeq(
          Seq(sigla, ramo) ++ CnjSchema.numericCols.map(c => m(c).orNull)))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(sparkRows, 4), schema)

      val got = MetasJob.resumoTyped(spark, df).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(got.keySet === courts.toSet)

      courts.foreach { sigla =>
        val rows = data(sigla)
        val row = got(sigla)
        def gotVal(name: String): Option[Double] = {
          val i = row.fieldIndex(name)
          if (row.isNullAt(i)) None else Some(row.getDouble(i))
        }
        assert(gotVal("meta1") === modelMeta1(rows), s"$sigla meta1")
        CnjSchema.metaSpecs.foreach { spec =>
          val expected = modelMeta(rows, spec.j, spec.d, spec.s,
            jeFactors.get(spec.factorKey))
          // JE courts never get STJ metas, so no suppression applies
          assert(gotVal(spec.name) === expected, s"$sigla ${spec.name}")
        }
        CnjSchema.stjSpecs.foreach { spec =>
          assert(gotVal(spec.name) === None, s"$sigla ${spec.name} must be NA for JE")
        }
      }
    }
  }

  test("the observed per-court summary equals the lazy resumoTyped, in Spark's order") {
    import org.apache.spark.sql.functions.col
    // infinities too: +Inf and -Inf in one sum make NaN, which the kernel
    // turns into NA on both paths
    val wideCells: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.oneOf(-1.0, 0.0, 1.0, 2.0, 2.5).map(Some(_)),
      1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity).map(Some(_)),
      2 -> Gen.const(None))
    val mapped = Factors.byBranch.keys.toSeq.sorted
    // remapped, unmapped and null branches; non-ASCII courts whose UTF-8
    // byte order (Spark's) differs from UTF-16 order (java.lang.String's):
    // "ﬀ" is U+FB00, "𝒯" is U+1D4AF; and a court with no sigla
    val courts: Seq[(String, String)] = Seq(
      "STJ" -> "Tribunais Superiores", "TST" -> "Tribunais Superiores",
      "TRE-X" -> "Justiça Eleitoral", "XX1" -> "Justiça Desconhecida", "NR1" -> null,
      "TJÁ" -> ramo, "Ωmega" -> "Justiça Federal", "𝒯1" -> ramo, "ﬀ1" -> "Justiça do Trabalho",
      "tj-low" -> ramo, (null: String) -> ramo) ++
      (0 until 24).map(i => f"T$i%02d" -> mapped(i % mapped.size))
    val rows = courts.flatMap { case (sigla, ramo) =>
      val seed = Seed(7L + String.valueOf(sigla).hashCode + String.valueOf(ramo).hashCode)
      courtGen(String.valueOf(sigla), wideCells)(Gen.Parameters.default, seed)
        .getOrElse(fail(s"gen failed for $sigla"))
        .map(m => Row.fromSeq(Seq(sigla, ramo) ++ CnjSchema.numericCols.map(c => m(c).orNull)))
    }
    // 4 partitions: a court's rows meet in the driver-side merge
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

    val (observed, sums) = MetasJob.observeCourtSums(df)
    observed.write.format("noop").mode("overwrite").save()
    val local = MetasJob.observedResumo(sums)
    val lazyTyped = MetasJob.resumoTyped(spark, df)

    def keyed(rs: Seq[Row]) = rs.map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
    assert(keyed(local) === keyed(lazyTyped.collect().toSeq))
    val printed = MetasJob.printed(local)
    val lazyRes = MetasJob.stringlyOutput(lazyTyped)
    assert(printed === lazyRes.collect().toSeq.map(_.toSeq))
    assert(printed.map(_.head) === lazyRes.select(col("sigla_tribunal"))
      .orderBy(col("sigla_tribunal")).collect().toSeq.map(_.getString(0)))
    assert(printed.map(_.head).filter(Set("ﬀ1", "𝒯1")) === Seq("ﬀ1", "𝒯1"))
    assert(MetasJob.chartBars(printed).toSeq ===
      MetasJob.chartData(lazyRes).collect().toSeq.map(r => (r.getString(0), r.getDouble(1))))
    assert(MetasJob.unmappedOnDriver(local) ===
      MetasJob.unmappedBranches(df).collect().toSeq.map(r => (r.getString(0), r.getSeq[String](1))))
    assert(MetasJob.unmappedOnDriver(local).map(_._1) === Seq(null, "Justiça Desconhecida"))
  }

  test("the kernel and its rendering match the Column oracle on adversarial sums") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    // infinities, NaN, -0.0, magnitudes around DECIMAL(30,2)'s 1e28 edge,
    // and cells whose meta lands on an .xx5 boundary (0.00125 * 100 =
    // 0.125; 2.675 has no exact double, so bround sees its shortest
    // rendering)
    val adversarial: Gen[Option[Double]] = Gen.frequency(
      6 -> Gen.oneOf(-1.0, 0.0, 1.0, 2.0, 2.5, 3.0, 7.0).map(Some(_)),
      2 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, -0.0)
        .map(Some(_)),
      3 -> Gen.oneOf(1e26, 3.3e26, 1e27, 9.99e27, 1e28, 5e28, 1e29, 1e30, -1e28, -2e26)
        .map(Some(_)),
      3 -> Gen.oneOf(0.00125, 0.02675, 0.01005, 0.00115, 1.115, 0.045, 2.675, 0.0001)
        .map(Some(_)),
      3 -> Gen.const(None))
    val mapped = Factors.byBranch.keys.toSeq.sorted
    val courts: Seq[(String, String)] = Seq(
      "STJ" -> "Tribunais Superiores", "TST" -> "Tribunais Superiores",
      "TRE-X" -> "Justiça Eleitoral", "XX1" -> "Justiça Desconhecida", "NR1" -> null) ++
      (0 until 60).map(i => f"A$i%02d" -> mapped(i % mapped.size))
    val rows = courts.flatMap { case (sigla, ramo) =>
      courtGen(sigla, adversarial)(Gen.Parameters.default, Seed(11L + sigla.hashCode))
        .getOrElse(fail(s"gen failed for $sigla"))
        .map(m => Row.fromSeq(Seq(sigla, ramo) ++ CnjSchema.numericCols.map(c => m(c).orNull)))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    // one set of sums for both sides: a sum's value depends on the order
    // it adds its cells in, and these cells are far apart in magnitude
    val sums = df.groupBy(col("sigla_tribunal"), col("ramo_justica"))
      .agg(MetaKernel.aggColumns.head, MetaKernel.aggColumns.tail: _*).collect().toSeq
    val typed = sums.map(MetaKernel.metas)
    val printed = MetasJob.printed(typed)
    assert(printed.exists(_.contains("NA")) && printed.exists(_.exists(_.endsWith("5"))))

    val sumsDf = spark.createDataFrame(spark.sparkContext.parallelize(sums, 2), MetaKernel.sumsSchema)
    val saved = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val oracleTyped = ColumnKernelOracle.metas(sumsDf)
      def keyed(rs: Seq[Row]) = rs.map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
      assert(keyed(typed) === keyed(oracleTyped.collect().toSeq))
      val oraclePrinted = ColumnKernelOracle.stringly(oracleTyped)
      assert(printed === oraclePrinted.collect().toSeq.map(_.toSeq))
      assert(MetasJob.chartBars(printed).toSeq === ColumnKernelOracle.chart(oraclePrinted)
        .collect().toSeq.map(r => (r.getString(0), r.getDouble(1))))
      assert(MetasJob.unmappedOnDriver(typed) === ColumnKernelOracle.unmapped(df)
        .collect().toSeq.map(r => (r.getString(0), r.getSeq[String](1))))
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
    // the lazy rendering under the session's own ANSI setting
    val lazyPrinted = MetasJob.stringlyOutput(
      spark.createDataFrame(typed.asJava, MetaKernel.resumoSchema)).collect().toSeq.map(_.toSeq)
    assert(lazyPrinted === printed)
  }
}
