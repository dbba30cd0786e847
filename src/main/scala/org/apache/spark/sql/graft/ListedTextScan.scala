package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** A text scan (one `value` line column, as `spark.read.text`) over files
  * the caller has already listed. `spark.read.text(paths)` re-stats
  * every path, and above `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * paths it does so in a Spark job with one task per file. Here the
  * index's status cache already holds each root file's own status, so
  * the index fetches nothing and no listing job runs at any file count.
  * Lives under org.apache.spark.sql for the same reason as
  * [[ColumnBridge]]: `Dataset.ofRows` and the file index are
  * private[sql].
  */
object ListedTextScan {

  /** Serves exactly the given statuses and never stores anything, so it
    * neither reads nor fills the session's shared file status cache. */
  private final class GivenStatuses(files: Map[Path, Array[FileStatus]]) extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = files.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** `files` must be files (not directories) with qualified paths, as
    * `FileSystem.listStatus` returns them; the scan reads them in this
    * order. */
  def frame(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(session, files.map(_.getPath), Map.empty, None,
      new GivenStatuses(files.map(f => f.getPath -> Array(f)).toMap))
    val relation = HadoopFsRelation(index, index.partitionSchema,
      new StructType().add("value", StringType), None, new TextFileFormat, Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }
}
