package graft.cnj

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.CnjCsvFormat
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Differential: [[MetasJob.writeCsv]] (the direct encoder) against
  * Spark's own `csv` writer with the same options, part file for part
  * file and byte for byte, over generated canonical rows
  * ([[CnjCsvFormat.schema]]) and printed ResumoMetas rows (all
  * strings). The generators aim at the cells that decide between the
  * direct encoding and Spark's generator: separators, quotes, escapes,
  * blanks at either end, empty and null cells, non-ASCII, CR and LF,
  * invalid UTF-8, and doubles at the edges of their printed forms.
  */
class DirectCsvSpec extends SparkTestBase {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private val keyGen: Gen[Array[Byte]] = Gen.frequency(
    10 -> Gen.oneOf("TJSP", "TRT3", "Justiça Estadual", "São Paulo", "Tribunal Superior do Trabalho",
      "STJ", "a-b_c.d/e", "x!y?z", "NA", "123.45", "-0.0").map(_.getBytes("UTF-8")),
    4 -> Gen.oneOf("a;b", "say \"hi\"", "\"", "back\\slash", " lead", "trail ", " both ", "",
      "line\nbreak", "cr\rhere", "crlf\r\n", "\ttab", "#hash", "mid#hash", "a  b", "\u00a0nbsp\u00a0",
      "\u3000ideo", "emoji \uD83D\uDE00", ";", "\\", "'quote'", "\u0001ctl", "del\u007f")
      .map(_.getBytes("UTF-8")),
    1 -> Gen.oneOf(b(0xc3), b(0x41, 0xff, 0x42), b(0xed, 0xa0, 0x80), b(0xc0, 0xaf), b(0xe2, 0x82)),
    2 -> Gen.const(null))

  private val doubleGen: Gen[java.lang.Double] = Gen.frequency(
    3 -> Gen.const(null),
    4 -> Gen.choose(-9999999L, 9999999L).map(v => java.lang.Double.valueOf(v.toDouble)),
    3 -> Gen.oneOf(0.0, -0.0, 1e-3, Math.nextDown(1e-3), Math.nextUp(1e-3), -1e-3, 1e7, -1e7,
      Math.nextDown(1e7), Math.nextUp(1e7), 9999999.0, -9999999.0, 9999999.5, 1e7 + 1,
      Math.pow(2, 53), Math.pow(2, 53) + 2, -Math.pow(2, 53), Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Math.nextDown(java.lang.Double.MIN_NORMAL), Double.MaxValue,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, 123.45, -0.5, 1e28, 1e-300)
      .map(java.lang.Double.valueOf),
    2 -> Gen.choose(-1e9, 1e9).map(java.lang.Double.valueOf),
    1 -> Gen.long.map(bits => java.lang.Double.valueOf(java.lang.Double.longBitsToDouble(bits))))

  private val csvOptions = Map("sep" -> ";", "header" -> "true", "encoding" -> "UTF-8")

  /** The generated rows as a frame of `schema`, string columns built
    * from bytes (so invalid UTF-8 reaches the writer), in 3 partitions. */
  private def frame(schema: StructType, rows: Seq[Seq[Any]]): DataFrame = {
    val raw = StructType(schema.map(f =>
      if (f.dataType == StringType) StructField(f.name, BinaryType) else f))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3), raw)
      .select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  private def partFiles(dir: String): Seq[(String, Array[Byte])] =
    new File(dir).listFiles().toSeq.filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => f.getName.take("part-00000".length) -> Files.readAllBytes(f.toPath))

  private def assertSameFiles(df: DataFrame, tag: String): Unit = {
    val root = Files.createTempDirectory(s"graft-directcsv-$tag").toString
    df.write.mode("overwrite").options(csvOptions).csv(s"$root/spark")
    MetasJob.writeCsv(df, s"$root/direct", singleFile = false)
    val want = partFiles(s"$root/spark")
    val got = partFiles(s"$root/direct")
    assert(got.map(_._1) == want.map(_._1), tag)
    got.zip(want).foreach { case ((name, g), (_, w)) =>
      if (!g.sameElements(w)) {
        val at = g.indices.find(i => i >= w.length || g(i) != w(i)).getOrElse(g.length)
        fail(s"$tag $name differs at byte $at: " +
          s"got ${new String(g.slice(at - 60 max 0, at + 60), "UTF-8")} " +
          s"want ${new String(w.slice(at - 60 max 0, at + 60), "UTF-8")}")
      }
    }
    assert(new File(s"$root/direct/_SUCCESS").exists(), tag)
  }

  test("canonical rows: the direct encoder writes Spark's csv bytes") {
    val params = Gen.Parameters.default
    val rows = (0 until 3000).map { i =>
      val s = Seed(i.toLong)
      val keys = (0 until 2).map(k => keyGen(params, s.reseed(k.toLong)).get)
      val nums = (0 until CnjSchema.numericCols.length).map(k =>
        doubleGen(params, s.reseed(100L + k)).get)
      // every 50th row all null
      if (i % 50 == 7) Seq.fill(2 + nums.length)(null) else keys ++ nums
    }
    assertSameFiles(frame(CnjCsvFormat.schema, rows), "canonical")
  }

  test("printed ResumoMetas rows: the direct encoder writes Spark's csv bytes") {
    val columns = MetasJob.orderedColumns(
      CnjSchema.keyCols ++ ("meta1" +: (CnjSchema.metaSpecs ++ CnjSchema.stjSpecs).map(_.name)))
    val cell: Gen[Array[Byte]] = Gen.frequency(
      4 -> Gen.oneOf("NA", "123.45", "-0.5", "0.0", "1e28", "100.0").map(_.getBytes("UTF-8")),
      3 -> keyGen)
    val params = Gen.Parameters.default
    val rows = (0 until 1500).map(i => columns.indices.map(k => cell(params, Seed(i * 1000L + k)).get))
    assertSameFiles(frame(StructType(columns.map(StructField(_, StringType))), rows), "printed")
  }

  test("an empty frame writes Spark's header-only part") {
    assertSameFiles(frame(CnjCsvFormat.schema, Seq.empty), "empty")
  }
}
