package graft.cnj

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.graft.CnjCsvFormat
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The byte path of [[CnjFileParser.parse]] against the String path
  * ([[CnjFileParser.parseString]] on the decoded line), cell for cell,
  * over generated lines: quoted cells, CRLF, a BOM, ragged and
  * over-long lines, non-ASCII and invalid UTF-8 bytes, blank-padded,
  * signed, exponent, special and junk numbers, long mantissas and
  * header echoes. Doubles compare by their raw bits, so -0.0 against
  * 0.0 or one ulp apart fails.
  */
class CnjParsePropertySpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** The parser of a file with `header`, for every canonical column. */
  private def parser(header: String): CnjFileParser = CnjFileParser(header, CnjCsvFormat.schema).get

  private val headers = Seq(
    "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025,suspensos_2025,dessobrestados_2025",
    "julgm2_a,ramo_justica,sigla_tribunal,distm2_a,suspm2_a,extra",
    "ramo_justica,sigla_tribunal",
    // a header that decodes with a replacement character
    "sigla_tribunal,ramo_justica,julgados_2025,\uFFFDx")

  private val nKeys = CnjSchema.keyCols.length

  private val unsigned: Gen[String] = Gen.oneOf(
    Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString)),
    for {
      i <- Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString))
      f <- Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString))
    } yield s"$i.$f",
    Gen.choose(-1e9, 1e9).map(_.toString),
    Gen.choose(0L, 999999999999999L).map(_.toString),
    Gen.oneOf("0", "00", "0.0", ".5", "5.", ".", "", "1e5", "1E-3", "2.5e+10", "NaN", "Infinity",
      "0x1p3", "1d", "2.5f", "x", "n/a", "\u0661", "1..2", "9007199254740993",
      "123456789012345.6", "1234567890123456", "0.000000000000000000000001", "4.35",
      "999999999999999", "0.1", "0.3"))

  private val numberCell: Gen[Array[Byte]] = for {
    lead <- Gen.frequency(12 -> "", 1 -> " ", 1 -> "\t", 1 -> "\u00a0")
    sign <- Gen.frequency(6 -> "", 2 -> "-", 1 -> "+", 1 -> "+-")
    body <- unsigned
    trail <- Gen.frequency(12 -> "", 1 -> " ", 1 -> "x")
  } yield bytes(lead + sign + body + trail)

  private val keyCell: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.oneOf("TJSP", "TRT3", "Justiça Estadual", "São Paulo", "STJ", " A ", "a b", "").map(bytes),
    1 -> Gen.oneOf("\"a,b\"", "\"say \"\"hi\"\"\"", "\"\"", "a\"b").map(bytes),
    1 -> Gen.oneOf(b(0xc3), b(0xff), b(0x41, 0xc3, 0x28), b(0xed, 0xa0, 0x80), b(0xc0, 0xaf),
      b(0xf4, 0x90, 0x80, 0x80), b(0xe2, 0x82), b(0xf0, 0x9f, 0x98, 0x80), b(0xef, 0xbb, 0xbf, 0x41)))

  /** Whole lines as bytes: mostly well-formed rows, with ragged widths,
    * header echoes, a BOM, CR endings and raw junk mixed in. */
  private def lineGen(header: String, width: Int): Gen[Array[Byte]] = {
    val cell = Gen.frequency(4 -> numberCell, 2 -> keyCell)
    val row = for {
      n <- Gen.frequency(8 -> Gen.const(width), 1 -> Gen.choose(0, width + 2))
      cells <- Gen.listOfN(n, cell)
    } yield cells.reduceOption((a, c) => a ++ Array(','.toByte) ++ c).getOrElse(Array.emptyByteArray)
    for {
      body <- Gen.frequency(12 -> row, 1 -> Gen.const(bytes(header)),
        1 -> Gen.listOf(Gen.oneOf(b(','), b('"'), b('\r'), b('1'), b(0xc3), b('.'))).map(_.flatten.toArray))
      bom <- Gen.frequency(10 -> false, 1 -> true)
      cr <- Gen.frequency(4 -> false, 1 -> true)
    } yield (if (bom) b(0xef, 0xbb, 0xbf) else Array.emptyByteArray) ++ body ++
      (if (cr) b('\r') else Array.emptyByteArray)
  }

  test("the byte path parses every generated line as the String path does") {
    val params = Gen.Parameters.default
    var lines, kept, viaBytes = 0
    headers.zipWithIndex.foreach { case (header, h) =>
      val s = Reader.fileSpec(header).get
      val p = parser(header)
      val gen = lineGen(header, s.width)
      (0 until 6000).foreach { i =>
        val line = gen(params, Seed(h * 100000L + i)).get
        // the line inside a larger buffer, so offsets other than 0 are read
        val padded = b('x', ',') ++ line ++ b('\r', '9')
        val want = CnjFileParser.parseString(s, UTF8String.fromBytes(line).toString)
        val got = p.parse(padded, 2, line.length)
        val shown = s"header $h line ${new String(line, UTF_8)} (${line.map(x => f"$x%02x").mkString(" ")})"
        lines += 1
        if (want == null) assert(got == null, shown)
        else {
          kept += 1
          if (s.bytePath && !line.contains('"'.toByte)) viaBytes += 1
          assert(got != null, shown)
          want.indices.foreach { j =>
            if (want(j) == null) assert(got.isNullAt(j), s"$shown cell $j")
            else if (j < nKeys) assert(got.getUTF8String(j) == want(j), s"$shown cell $j")
            else assert(java.lang.Double.doubleToRawLongBits(got.getDouble(j)) ==
              java.lang.Double.doubleToRawLongBits(want(j).asInstanceOf[java.lang.Double]), s"$shown cell $j")
          }
        }
      }
    }
    assert(kept > lines / 2, s"only $kept of $lines lines parsed to a row")
    assert(viaBytes > lines / 3, s"only $viaBytes of $lines lines could take the byte path")
  }

  test("a simple decimal of up to 15 significant digits parses to Double.parseDouble's bits") {
    val p = parser("sigla_tribunal,ramo_justica,julgados_2025")
    val decimal = for {
      sign <- Gen.oneOf("", "-", "+")
      digits <- Gen.choose(1, 15).flatMap(n => Gen.listOfN(n, Gen.numChar).map(_.mkString))
      zeros <- Gen.choose(0, 8).map("0" * _)
      dot <- Gen.choose(0, digits.length)
      lead <- Gen.oneOf("", "0", "0.", ".")
    } yield lead match {
      case "0." | "." => s"$sign$lead$zeros$digits"
      case _ => s"$sign$lead${digits.take(dot)}.${digits.drop(dot)}"
    }
    (0 until 50000).foreach { i =>
      val cell = decimal(Gen.Parameters.default, Seed(i.toLong)).get
      val line = s"AA,JE,$cell".getBytes(UTF_8)
      val got = p.parse(line, 0, line.length)
      val want = java.lang.Double.parseDouble(cell)
      val at = nKeys + CnjSchema.numericCols.indexOf("julgados_2025")
      assert(java.lang.Double.doubleToRawLongBits(got.getDouble(at)) ==
        java.lang.Double.doubleToRawLongBits(want), cell)
    }
  }
}
