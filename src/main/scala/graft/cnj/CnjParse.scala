package graft.cnj

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.graft.Utf8
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The CNJ tolerant-CSV parse of ONE court file: each line's UTF-8 bytes
  * in, one `UnsafeRow` of the columns the scan asks for out, or null for
  * a line to skip. The file's reader
  * ([[org.apache.spark.sql.graft.CnjCsvFormat]]) builds one parser per
  * file split from that file's own first line, so the header is known
  * before the first data line and nothing is looked up per line. The
  * parser owns the row writer: every call reuses the row the previous
  * call returned.
  *
  * The parse reads the line's bytes where the reader left them: a
  * trailing `\r`, the header echo and the separators are found by byte, a
  * key cell is copied into the output row as its byte slice, and a
  * number cell of the shape `[+-]?digits[.digits]` with at most 15
  * significant digits and at most 22 fraction digits is the quotient
  * `m / 10^k` of two exactly representable doubles, which IEEE division
  * rounds correctly (Clinger's fast path), so it equals
  * `Double.parseDouble`'s answer. Every other number cell (blanks,
  * exponents, `NaN`, `Infinity`, long mantissas, junk) goes to
  * [[Reader.parseDouble]] on its decoded text. A line holding a `"` or a
  * requested key cell that is not well-formed UTF-8, and every line of a
  * file whose header decoded with a replacement character, takes the
  * String path ([[CnjFileParser.parseString]]): decode the line, then
  * split it with [[Reader.splitCsv]]. The byte path gives what the String
  * path gives on every line; `CnjParsePropertySpec` checks it cell for
  * cell.
  *
  * Skip semantics: header echo → skip, wrong token count → skip (pandas
  * on_bad_lines='skip'); empty key cell → null; empty, malformed or NaN
  * number cell → null. A column the scan does not ask for is not parsed.
  *
  * @param canonical for each output column, its index in
  *   [[CnjSchema.allCols]]
  */
final class CnjFileParser private[cnj] (spec: Reader.FileSpec, canonical: Array[Int]) {
  import CnjFileParser._

  private val out = new UnsafeRowWriter(canonical.length)
  /** For each output column, the token it comes from, -1 if the file lacks it. */
  private val pos = canonical.map(spec.positions)
  /** starts(j) is where cell j begins; cell j ends one byte before starts(j + 1). */
  private val starts = new Array[Int](spec.width + 1)

  /** The row of the line held in `length` bytes of `bytes` from `offset`;
    * null = skip. */
  def parse(bytes: Array[Byte], offset: Int, length: Int): InternalRow = {
    val ok = if (spec.bytePath) parseBytes(bytes, offset, length) else viaString(bytes, offset, length)
    if (ok) out.getRow else null
  }

  /** The String path; false = skip. Writes the row into `out`. */
  private def viaString(bytes: Array[Byte], offset: Int, length: Int): Boolean =
    put(parseString(spec, new String(bytes, offset, length, StandardCharsets.UTF_8)))

  /** The byte path; false = skip. Writes the row into `out`. */
  private def parseBytes(base: Array[Byte], offset: Int, length: Int): Boolean = {
    val off = Platform.BYTE_ARRAY_OFFSET + offset
    var n = length
    if (n > 0 && Platform.getByte(base, off + n - 1) == '\r') n -= 1
    val header = spec.headerBytes
    if (n == header.length &&
        ByteArrayMethods.arrayEquals(base, off, header, Platform.BYTE_ARRAY_OFFSET, n)) return false
    val width = spec.width
    var cells = 1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == ',') {
        if (cells < width) starts(cells) = i + 1
        cells += 1
      } else if (b == '"') return viaString(base, offset, length)
      i += 1
    }
    if (cells != width) return false
    starts(0) = 0
    starts(width) = n + 1
    out.reset()
    out.zeroOutNullBytes()
    var j = 0
    while (j < pos.length) {
      val p = pos(j)
      if (canonical(j) < nKeys) {
        val s = if (p < 0) 0 else starts(p)
        val len = if (p < 0) 0 else starts(p + 1) - 1 - s
        if (len == 0) out.setNullAt(j)
        else if (Utf8.wellFormed(base, off + s, len)) out.write(j, UTF8String.fromAddress(base, off + s, len))
        else return viaString(base, offset, length)
      } else {
        val v = if (p < 0) Double.NaN else {
          val s = starts(p)
          number(base, off + s, starts(p + 1) - 1 - s)
        }
        if (v.isNaN) out.setNullAt(j) else out.write(j, v)
      }
      j += 1
    }
    true
  }

  /** Writes the String path's cells into `out`; false = skip. */
  private def put(cells: Array[Any]): Boolean = cells != null && {
    out.reset()
    out.zeroOutNullBytes()
    var j = 0
    while (j < canonical.length) {
      cells(canonical(j)) match {
        case null => out.setNullAt(j)
        case s: UTF8String => out.write(j, s)
        case d: java.lang.Double => out.write(j, d.doubleValue)
      }
      j += 1
    }
    true
  }
}

object CnjFileParser {

  private val nKeys = CnjSchema.keyCols.length
  private val nOut = CnjSchema.allCols.length

  /** The parser of a court file whose first line is `header`, writing
    * the canonical columns `required` names, in its order; None for a
    * file the reference skips ([[Reader.fileSpec]]). */
  def apply(header: String, required: StructType): Option[CnjFileParser] = {
    val canonical = required.fieldNames.map(CnjSchema.allCols.indexOf)
    require(canonical.forall(_ >= 0),
      s"not a CNJ column: ${required.fieldNames.filterNot(CnjSchema.allCols.contains).mkString(", ")}")
    Reader.fileSpec(header).map(new CnjFileParser(_, canonical))
  }

  /** The String path, and the oracle the byte path is held to: the line
    * decoded, a trailing `\r` dropped, the header echo and wrong-width
    * lines skipped (null), the rest split by [[Reader.splitCsv]] into
    * the canonical cells — keys as UTF8String, numbers as
    * java.lang.Double, gaps as null. */
  private[cnj] def parseString(spec: Reader.FileSpec, line: String): Array[Any] = {
    val ln =
      if (line.nonEmpty && line.charAt(line.length - 1) == '\r') line.substring(0, line.length - 1)
      else line
    if (ln == spec.headerLine) return null
    val parts = Reader.splitCsv(ln)
    if (parts.length != spec.width) return null
    val cells = new Array[Any](nOut)
    val pos = spec.positions
    var i = 0
    while (i < nKeys) {
      val p = pos(i)
      cells(i) = if (p < 0 || parts(p).isEmpty) null else UTF8String.fromString(parts(p))
      i += 1
    }
    while (i < nOut) {
      val p = pos(i)
      cells(i) = if (p < 0) null else Reader.parseDouble(parts(p))
      i += 1
    }
    cells
  }

  private val pow10: Array[Double] = Array.tabulate(23)(k => math.pow(10, k))

  /** A number cell's value, NaN for null. `[+-]?digits[.digits]` with at
    * most 15 significant digits (so the mantissa m is below 2^53) and at
    * most 22 fraction digits (so 10^k is exact) is m / 10^k; anything
    * else is [[Reader.parseDouble]] on the cell's text. */
  private def number(base: AnyRef, at: Long, len: Int): Double = {
    if (len == 0) return Double.NaN
    val end = at + len
    var i = at
    val b0 = Platform.getByte(base, i)
    val neg = b0 == '-'
    if (neg || b0 == '+') i += 1
    var m = 0L
    var digits = 0
    var significant = 0
    var fraction = 0
    var dot = false
    var simple = true
    while (simple && i < end) {
      val b = Platform.getByte(base, i)
      if (b >= '0' && b <= '9') {
        digits += 1
        if (significant > 0 || b != '0') significant += 1
        m = m * 10 + (b - '0')
        if (dot) fraction += 1
      } else if (b == '.' && !dot) dot = true
      else simple = false
      i += 1
    }
    if (simple && digits > 0 && significant <= 15 && fraction < pow10.length) {
      val v = if (fraction == 0) m.toDouble else m.toDouble / pow10(fraction)
      if (neg) -v else v
    } else if (junkOrNaN(base, at, end)) Double.NaN
    else {
      val d = Reader.parseDouble(UTF8String.fromAddress(base, at, len).toString)
      if (d == null) Double.NaN else d.doubleValue
    }
  }

  private val nanBytes = "NaN".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** [[Reader.parseDouble]]'s junk test on bytes, so a junk cell is not
    * decoded: after bytes up to ' ' and one sign, a cell that ends, or
    * goes on with anything but a digit, '.', 'N' or 'I', is null, and so
    * is a cell that goes on with exactly "NaN". (A byte above 0x7f is
    * part of a character above ' ' that is none of those.) */
  private def junkOrNaN(base: AnyRef, at: Long, end: Long): Boolean = {
    var i = at
    while (i < end && (Platform.getByte(base, i) & 0xff) <= ' ') i += 1
    if (i < end && (Platform.getByte(base, i) == '+' || Platform.getByte(base, i) == '-')) i += 1
    if (i == end) return true
    val c = Platform.getByte(base, i)
    (!(c >= '0' && c <= '9') && c != '.' && c != 'N' && c != 'I') ||
      (end - i == nanBytes.length &&
        ByteArrayMethods.arrayEquals(base, i, nanBytes, Platform.BYTE_ARRAY_OFFSET, nanBytes.length))
  }
}
