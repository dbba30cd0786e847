package org.apache.spark.sql.graft

import java.io.CharArrayWriter
import java.nio.charset.{Charset, StandardCharsets}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Spark's CSV sink with a direct encoder: `df.write.format(classOf[
  * DirectCsvFormat].getName)` writes the files `df.write.csv` writes,
  * byte for byte, through the same commit protocol and file layout
  * (`part-*.csv` with a header each, `_SUCCESS`, a header-only part
  * for an empty input). Spark's own CSV format prepares the write
  * (schema check, compression codec, file extension); only the
  * per-task [[DirectCsvWriter]] differs. Lives under org.apache.spark.sql
  * for the same reason as [[ListedFileScan]]: the file-format and
  * writer interfaces are private[sql].
  */
class DirectCsvFormat extends FileFormat {
  private val csv = new CSVFileFormat

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = csv.inferSchema(spark, options, files)

  override def supportDataType(dataType: DataType): Boolean = csv.supportDataType(dataType)

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val spark0 = csv.prepareWrite(spark, job, options, dataSchema)
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    new DirectCsvFactory(spark0,
      new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone))
  }
}

private[graft] final class DirectCsvFactory(spark: OutputWriterFactory, options: CSVOptions)
    extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    spark.getFileExtension(context)
  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter =
    new DirectCsvWriter(path, dataSchema, context, options)
}

/** One part file. A row of string and double cells is encoded straight
  * from the row: a double from its primitive value (an integral value
  * below 1e7 in magnitude, other than -0.0, as its digits plus ".0";
  * anything else through `Double.toString`, the call Spark's converter
  * makes), a string as its UTF-8 bytes, a null as nothing. A row with a
  * string cell that Spark's `UnivocityGenerator` might quote, escape,
  * trim or replace by the empty-value marker — empty, blank at either
  * end, holding a control character, the separator, the quote, the
  * escape or the comment character, or not well-formed UTF-8 — is
  * handed to that generator, as is every row when the options or the
  * schema ask for more than this encoder does (another charset, quoting
  * everything, a null marker, other column types, one column). So every
  * byte is the one Spark's writer would write; `DirectCsvSpec` checks
  * it against Spark's `csv` writer. */
private[graft] final class DirectCsvWriter(val path: String, schema: StructType,
    context: TaskAttemptContext, options: CSVOptions) extends OutputWriter {

  private val charset = Charset.forName(options.charset)
  private val stream = CodecStreams.createOutputStream(context, new Path(path))
  private val chars = new CharArrayWriter
  private val gen = new UnivocityGenerator(schema, chars, options)
  private val nFields = schema.length
  private val isDouble = schema.fields.map(_.dataType == DoubleType)
  private val sep = options.delimiter.charAt(0)
  private val eol =
    options.asWriterSettings.getFormat.getLineSeparatorString.getBytes(StandardCharsets.UTF_8)
  private val direct = charset == StandardCharsets.UTF_8 && options.delimiter.length == 1 &&
    sep < 0x80 && !options.quoteAll && options.nullValue.isEmpty && nFields > 1 &&
    !SQLConf.get.getConf(SQLConf.LEGACY_NULL_VALUE_WRITTEN_AS_QUOTED_EMPTY_STRING_CSV) &&
    schema.forall(f => f.dataType == DoubleType || f.dataType == StringType)
  /** ASCII bytes a direct string cell may hold anywhere. */
  private val plainAscii: Array[Boolean] = Array.tabulate(128) { c =>
    c >= ' ' && c < 0x7f && c != sep && c != options.quote && c != options.escape &&
      c != (if (options.isCommentSet) options.comment else '#') && // univocity's default
      !options.charToEscapeQuoteEscaping.contains(c.toChar)
  }

  private var buf = new Array[Byte](1 << 16)
  private var pos = 0

  if (options.headerFlag) { gen.writeHeaders(); drainGen() }

  override def write(row: InternalRow): Unit =
    if (!direct || !encode(row)) { gen.write(row); drainGen() }

  override def close(): Unit =
    try { flush(); gen.close() } finally stream.close()

  private def flush(): Unit = { stream.write(buf, 0, pos); pos = 0 }

  private def reserve(n: Int): Unit =
    if (pos + n > buf.length) {
      flush()
      if (n > buf.length) buf = new Array[Byte](n)
    }

  /** Appends what the generator wrote for the header or a row. */
  private def drainGen(): Unit = {
    gen.flush()
    val bytes = chars.toString.getBytes(charset)
    chars.reset()
    reserve(bytes.length)
    System.arraycopy(bytes, 0, buf, pos, bytes.length)
    pos += bytes.length
  }

  /** Encodes the row directly; false (nothing written) when a string
    * cell is not plain. */
  private def encode(row: InternalRow): Boolean = {
    var need = nFields + eol.length
    var i = 0
    while (i < nFields) {
      if (!row.isNullAt(i)) {
        if (isDouble(i)) need += 24 // the longest Double.toString
        else {
          val s = row.getUTF8String(i)
          if (!plain(s)) return false
          need += s.numBytes
        }
      }
      i += 1
    }
    reserve(need)
    i = 0
    while (i < nFields) {
      if (i > 0) { buf(pos) = sep.toByte; pos += 1 }
      if (!row.isNullAt(i)) {
        if (isDouble(i)) putDouble(row.getDouble(i))
        else {
          val s = row.getUTF8String(i)
          s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += s.numBytes
        }
      }
      i += 1
    }
    System.arraycopy(eol, 0, buf, pos, eol.length)
    pos += eol.length
    true
  }

  private def putDouble(d: Double): Unit =
    if (d > -1e7 && d < 1e7 && d == Math.rint(d) &&
        java.lang.Double.doubleToRawLongBits(d) != java.lang.Long.MIN_VALUE) {
      var v = d.toLong
      if (v < 0) { buf(pos) = '-'; pos += 1; v = -v }
      var digits = 1
      var t = v / 10
      while (t > 0) { digits += 1; t /= 10 }
      var k = pos + digits - 1
      while (k >= pos) { buf(k) = ('0' + v % 10).toByte; v /= 10; k -= 1 }
      pos += digits
      buf(pos) = '.'
      buf(pos + 1) = '0'
      pos += 2
    } else {
      val s = java.lang.Double.toString(d)
      var k = 0
      while (k < s.length) { buf(pos + k) = s.charAt(k).toByte; k += 1 }
      pos += s.length
    }

  /** A string cell that the generator writes as its own bytes: not
    * empty, no blank at either end, only plain ASCII bytes or
    * well-formed UTF-8 sequences. */
  private def plain(s: UTF8String): Boolean = {
    val n = s.numBytes
    if (n == 0) return false
    val base = s.getBaseObject
    val off = s.getBaseOffset
    if (Platform.getByte(base, off) == ' ' || Platform.getByte(base, off + n - 1) == ' ') return false
    var ascii = true
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b < 0) ascii = false
      else if (!plainAscii(b)) return false
      i += 1
    }
    ascii || Utf8.wellFormed(base, off, n)
  }
}

object Utf8 {

  /** Whether `len` bytes at `at` are well-formed UTF-8 (no overlong
    * form, surrogate or code point above U+10FFFF): exactly the byte
    * strings that decode without a replacement character and encode
    * back to themselves. */
  def wellFormed(base: AnyRef, at: Long, len: Int): Boolean = {
    val end = at + len
    var i = at
    while (i < end) {
      val b0 = Platform.getByte(base, i) & 0xff
      if (b0 < 0x80) i += 1
      else {
        // the sequence length, and the range of its second byte
        val n = if (b0 < 0xc2 || b0 > 0xf4) return false else if (b0 < 0xe0) 2 else if (b0 < 0xf0) 3 else 4
        val lo = if (b0 == 0xe0) 0xa0 else if (b0 == 0xf0) 0x90 else 0x80
        val hi = if (b0 == 0xed) 0x9f else if (b0 == 0xf4) 0x8f else 0xbf
        if (i + n > end) return false
        val b1 = Platform.getByte(base, i + 1) & 0xff
        if (b1 < lo || b1 > hi) return false
        var k = 2
        while (k < n) {
          val b = Platform.getByte(base, i + k) & 0xff
          if (b < 0x80 || b > 0xbf) return false
          k += 1
        }
        i += n
      }
    }
    true
  }
}
