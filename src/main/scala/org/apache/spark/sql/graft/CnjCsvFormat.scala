package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.util.LineReader

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, OutputWriterFactory, PartitionedFile, TextBasedFileFormat}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.cnj.{CnjFileParser, CnjSchema}

/** The CNJ court files as a read-only file source: every line of a court
  * CSV lands on the canonical CNJ schema ([[CnjCsvFormat.schema]]), like
  * the reference's per-file `pd.read_csv` with its own header
  * (Versao_Np.py:155). Each file split is read as `TextFileFormat` reads
  * it (Hadoop's line reader; splittable unless compressed), and the
  * split's lines go through one [[CnjFileParser]] built from that file's
  * own first line: the first split takes it from the reader, a split
  * that starts past offset 0 reads it with one extra short read
  * ([[CnjCsvFormat.firstLine]], which the driver's listing uses too). The
  * reader emits the parser's row for the columns the scan asks for, with
  * no copy. A file whose header lacks the identity columns yields no
  * rows. Lives under org.apache.spark.sql for the same reason as
  * [[ListedFileScan]]: the file-format interfaces are private[sql].
  */
class CnjCsvFormat extends TextBasedFileFormat {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(CnjCsvFormat.schema)

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException(s"$this is read-only")

  /** Each split's rows are the reader's own: there are no partition
    * values to append, so no projection copies them. */
  override def buildReaderWithPartitionValues(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    require(partitionSchema.isEmpty, s"$this reads no partition columns: $partitionSchema")
    val conf = SerializableConfiguration.broadcast(spark.sparkContext, hadoopConf)
    file => CnjCsvFormat.rows(file, requiredSchema, conf.value.value)
  }

  override def toString: String = "CnjCsv"
}

object CnjCsvFormat {

  /** The canonical CNJ schema: key columns as strings, metric columns as
    * nullable doubles, in [[CnjSchema.allCols]] order. */
  val schema: StructType = StructType(
    CnjSchema.keyCols.map(StructField(_, StringType)) ++
      CnjSchema.numericCols.map(StructField(_, DoubleType)))

  /** The first line of the file at `path` as Hadoop's line reader
    * returns it for a split at offset 0: up to the first CR, LF or CRLF,
    * a leading UTF-8 byte order mark dropped; decoded as UTF-8, "" for an
    * empty file. One open and one short read, without the line reader's
    * per-file set-up. */
  def firstLine(path: Path, conf: Configuration): String =
    Using.resource(path.getFileSystem(conf).open(path)) { in =>
      val line = new Text
      new LineReader(in, 4096).readLine(line)
      val b = line.getBytes
      utf8(line, if (line.getLength >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte) 3 else 0)
    }

  private def utf8(line: Text, from: Int): String =
    new String(line.getBytes, from, line.getLength - from, StandardCharsets.UTF_8)

  /** The rows of one file split: its lines through the parser of the
    * file's first line, skipped lines left out. */
  private def rows(file: PartitionedFile, required: StructType,
      conf: Configuration): Iterator[InternalRow] = {
    val lines = new HadoopFileLinesReader(file, conf)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
    val header =
      if (file.start > 0) firstLine(file.toPath, conf)
      else if (lines.hasNext) utf8(lines.next(), 0)
      else ""
    CnjFileParser(header, required) match {
      case None => lines.close(); Iterator.empty
      case Some(parser) =>
        lines.map(line => parser.parse(line.getBytes, 0, line.getLength)).filter(_ != null)
    }
  }
}
