package graft.cnj

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Utf8
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The CNJ tolerant-CSV parse as a CATALYST EXPRESSION: one line + its
  * file name → a 0-or-1-element array of the canonical struct, exploded
  * by the caller. As an expression inside a Generate, the parse runs
  * where it reads, UTF8String in and an UnsafeRow out, and the
  * surrounding scan → parse → sink stage stays one codegen unit: no
  * Serialize/DeserializeToObject fence and no external Row per line
  * (the `mapPartitions` closure it replaced cost ~11 s against ~4 s for
  * the parse stage at the 0.93 GB corpus).
  *
  * Code generation is a true [[doGenCode]]: the children evaluate
  * inside the fused stage's own generated code and the parse is ONE
  * virtual call on a referenced object. The parse body itself stays a
  * JVM method (a tolerant CSV splitter is control flow, not an
  * expression tree; there is nothing for Janino to fuse inside it).
  *
  * The parse reads the line's UTF-8 bytes where they lie: a trailing
  * `\r`, the header echo and the separators are found by byte, a key
  * cell is copied into the output row as its byte slice, and a number
  * cell of the shape `[+-]?digits[.digits]` with at most 15 significant
  * digits and at most 22 fraction digits is the quotient `m / 10^k` of
  * two exactly representable doubles, which IEEE division rounds
  * correctly (Clinger's fast path), so it equals `Double.parseDouble`'s
  * answer. Every other number cell (blanks, exponents, `NaN`,
  * `Infinity`, long mantissas, junk) goes to [[Reader.parseDouble]] on
  * its decoded text. A line holding a `"` or a key cell that is not
  * well-formed UTF-8, and every line of a file whose header decoded
  * with a replacement character, takes the String path
  * ([[CnjParseLine.parseString]]): decode the line, then split it with
  * [[Reader.splitCsv]]. The byte path gives what the String path gives
  * on every line; `CnjParsePropertySpec` checks it cell for cell.
  *
  * Skip semantics: unknown file → skip (a stream may list files that
  * arrived after the spec snapshot), header echo → skip, wrong token
  * count → skip (pandas on_bad_lines='skip'); empty key cell → null;
  * empty, malformed or NaN number cell → null.
  *
  * The per-file spec is resolved through a per-THREAD cursor (partitions
  * are file splits, so consecutive rows share a file; expression
  * instances are shared across a stage's tasks, hence ThreadLocal, and
  * the file key is cloned — the scan reuses its UTF8String buffer). The
  * cursor also holds the thread's row writer and separator offsets. */
private[cnj] final case class CnjParseLine(file: Expression, line: Expression,
    specs: Map[String, Reader.FileSpec])
    extends Expression {
  import CnjParseLine._

  override def children: Seq[Expression] = Seq(file, line)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(Reader.canonicalSchema, containsNull = false)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(file = newChildren(0), line = newChildren(1))

  @transient private lazy val cursors = new ThreadLocal[Cursor]
  @transient private lazy val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any =
    parse(file.eval(input).asInstanceOf[UTF8String],
      line.eval(input).asInstanceOf[UTF8String])

  /** The whole parse, nulls in = skip out — public so the generated code
    * can call it directly. */
  def parse(f: UTF8String, l: UTF8String): ArrayData = {
    if (f == null) return empty
    var c = cursors.get()
    if (c == null) { c = new Cursor; cursors.set(c) }
    if (c.file == null || !c.file.equals(f)) {
      c.file = f.clone()
      c.spec = specs.getOrElse(Reader.decodeFileUri(f.toString), null)
    }
    val spec = c.spec
    if (spec == null || l == null) return empty
    val ok = if (spec.bytePath) parseBytes(spec, l, c) else c.put(parseString(spec, l.toString))
    if (ok) new GenericArrayData(Array[Any](c.out.getRow.copy())) else empty
  }

  /** The byte path; false = skip. Writes the row into `c.out`. */
  private def parseBytes(spec: Reader.FileSpec, l: UTF8String, c: Cursor): Boolean = {
    val base = l.getBaseObject
    val off = l.getBaseOffset
    var n = l.numBytes
    if (n > 0 && Platform.getByte(base, off + n - 1) == '\r') n -= 1
    val header = spec.headerBytes
    if (n == header.length &&
        ByteArrayMethods.arrayEquals(base, off, header, Platform.BYTE_ARRAY_OFFSET, n)) return false
    // starts(j) is where cell j begins; cell j ends one byte before starts(j + 1)
    val width = spec.width
    if (c.starts.length <= width) c.starts = new Array[Int](width + 1)
    val starts = c.starts
    var cells = 1
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == ',') {
        if (cells < width) starts(cells) = i + 1
        cells += 1
      } else if (b == '"') return c.put(parseString(spec, l.toString))
      i += 1
    }
    if (cells != width) return false
    starts(0) = 0
    starts(width) = n + 1
    val out = c.out
    out.reset()
    out.zeroOutNullBytes()
    val pos = spec.positions
    var j = 0
    while (j < nKeys) {
      val p = pos(j)
      val s = if (p < 0) 0 else starts(p)
      val len = if (p < 0) 0 else starts(p + 1) - 1 - s
      if (len == 0) out.setNullAt(j)
      else if (Utf8.wellFormed(base, off + s, len)) out.write(j, UTF8String.fromAddress(base, off + s, len))
      else return c.put(parseString(spec, l.toString))
      j += 1
    }
    while (j < nOut) {
      val p = pos(j)
      val v = if (p < 0) Double.NaN else {
        val s = starts(p)
        number(base, off + s, starts(p + 1) - 1 - s)
      }
      if (v.isNaN) out.setNullAt(j) else out.write(j, v)
      j += 1
    }
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cnjParse", this, classOf[CnjParseLine].getName)
    val fEv = file.genCode(ctx)
    val lEv = line.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    ev.copy(
      code = code"""
        ${fEv.code}
        ${lEv.code}
        final $arrCls ${ev.value} = $ref.parse(
          ${fEv.isNull} ? null : ${fEv.value},
          ${lEv.isNull} ? null : ${lEv.value});
      """,
      isNull = FalseLiteral)
  }
}

private[cnj] object CnjParseLine {

  private val nKeys = CnjSchema.keyCols.length
  private val nOut = nKeys + CnjSchema.numericCols.length

  /** One thread's parse state: the file it is in and that file's spec,
    * its row writer, and the separator offsets of the current line. */
  private final class Cursor {
    var file: UTF8String = _
    var spec: Reader.FileSpec = _
    val out = new UnsafeRowWriter(nOut)
    var starts = new Array[Int](64)

    /** Writes the String path's cells into `out`; false = skip. */
    def put(cells: Array[Any]): Boolean = cells != null && {
      out.reset()
      out.zeroOutNullBytes()
      var j = 0
      while (j < nOut) {
        cells(j) match {
          case null => out.setNullAt(j)
          case s: UTF8String => out.write(j, s)
          case d: java.lang.Double => out.write(j, d.doubleValue)
        }
        j += 1
      }
      true
    }
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
