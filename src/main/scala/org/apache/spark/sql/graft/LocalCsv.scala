package org.apache.spark.sql.graft

import java.io.OutputStreamWriter
import java.nio.charset.Charset
import java.util.UUID

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A CSV write of rows that are already on the driver, with no Spark
  * job: what `df.coalesce(1).write.mode("overwrite").options(options)
  * .csv(path)` writes for a frame of string columns, written here
  * through the Hadoop `FileSystem` with Spark's own CSV encoder
  * (`UnivocityGenerator` over `CSVOptions`, as Spark's `CsvOutputWriter`
  * drives it). The directory holds the same files: one
  * `part-00000-<uuid>-c000.csv`, an empty `_SUCCESS`, and the checksum
  * siblings the file system adds. The part file holds the header alone
  * when there are no rows, as Spark's does. Lives under
  * org.apache.spark.sql for the same reason as [[ListedFileScan]].
  */
object LocalCsv {

  def write(spark: SparkSession, header: Seq[String], rows: Seq[Seq[String]], path: String,
      options: Map[String, String]): Unit = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val csv = new CSVOptions(options, state.conf.csvColumnPruning, state.conf.sessionLocalTimeZone)
    val dir = new Path(path)
    val fs = dir.getFileSystem(state.newHadoopConf())
    fs.delete(dir, true)
    val part = new Path(dir, s"part-00000-${UUID.randomUUID()}-c000.csv")
    val gen = new UnivocityGenerator(StructType(header.map(StructField(_, StringType))),
      new OutputStreamWriter(fs.create(part, false), Charset.forName(csv.charset)), csv)
    try {
      if (csv.headerFlag) gen.writeHeaders()
      rows.foreach(r => gen.write(InternalRow.fromSeq(r.map(UTF8String.fromString))))
    } finally gen.close()
    // the commit marker last, as a job commit writes it
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }
}
