package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** A file scan in any `FileFormat` over files the caller has already
  * listed. `spark.read.format(..).load(paths)` re-stats every path, and
  * above `spark.sql.sources.parallelPartitionDiscovery.threshold` paths
  * it does so in a Spark job with one task per file. Here the index's
  * status cache already holds each root file's own status, so the index
  * fetches nothing and no listing job runs at any file count. Lives
  * under org.apache.spark.sql for the same reason as [[ColumnBridge]]:
  * `Dataset.ofRows` and the file index are private[sql].
  */
object ListedFileScan {

  /** Serves exactly the given statuses and never stores anything, so it
    * neither reads nor fills the session's shared file status cache. */
  private final class GivenStatuses(files: Map[Path, Array[FileStatus]]) extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = files.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** `files` must be files (not directories) with qualified paths, as
    * `FileSystem.listStatus` returns them; the scan reads them in this
    * order, with `format` and its data `schema`. */
  def frame(spark: SparkSession, files: Seq[FileStatus], format: FileFormat,
      schema: StructType): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(session, files.map(_.getPath), Map.empty, None,
      new GivenStatuses(files.map(f => f.getPath -> Array(f)).toMap))
    val relation = HadoopFsRelation(index, index.partitionSchema, schema, None, format,
      Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }
}
