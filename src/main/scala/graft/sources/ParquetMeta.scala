package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Driver-side parquet FOOTER reads — the metadata behind every
  * cadence / broadcast-preflight decision in the store family.
  *
  * A `spark.read.parquet(dir).count()` on an unfiltered directory is
  * already metadata-only per file (parquet count-star reads footers,
  * never data pages), but it still costs a full Spark JOB: plan, task
  * launch per file split, a shuffle-free aggregate, result collection.
  * The store's read/maintenance verbs make MANY such decisions per
  * operation (broadcast-vs-shuffle preflight, fold-cadence row ratios,
  * DML return counts, describe's census) — at bench scale each job is
  * ~100 ms of pure scheduling for a number the driver could read in
  * ~1 ms, and on a cluster it occupies a scheduling slot and a stage in
  * the UI for the same footer bytes. Reading the footers directly on
  * the driver removes the job entirely; the bytes read are identical.
  *
  * Scale contract: O(files) metadata on the driver, parallelized over a
  * small shared pool (object-store footer reads are latency-bound). The
  * call sites are all bounded by construction: delta dirs are bounded
  * by the maintenance policy ([[graft.operators.CorpusStore.maintain]]),
  * and a base generation is one compact's output (file count set by the
  * fold's own partitioning). This is exactly where the table formats
  * read their manifest row counts — from metadata adjacent to the
  * files, never via a cluster job.
  */
object ParquetMeta {

  /** Shared daemon pool for footer reads: bounded so a huge directory
    * cannot fork-bomb the driver, shared so per-call pools don't churn
    * OS threads on a streaming writer's cadence. */
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-parquet-meta")
      t.setDaemon(true)
      t
    })

  /** Data files of a directory: everything not underscore/dot-prefixed
    * (commit markers, fold markers, CRCs are metadata by the parquet
    * directory convention). A path that IS a file counts as itself (the
    * single-file table layout). NESTED data directories fail loudly: the
    * callers' contract is flat store dirs, and silently skipping a
    * subdirectory would undercount rows — `rowsAndFiles` claims parity
    * with `spark.read.parquet(dirs).count()`, which recurses. */
  private def dataFiles(conf: Configuration, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val d = p.getFileSystem(conf)
    val st0 = d.getFileStatus(p)
    if (st0.isFile) return Seq(p)
    d.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          throw new IllegalArgumentException(
            s"ParquetMeta expects a flat parquet directory but $dir contains " +
              s"a nested data directory ${st.getPath} — a footer census here " +
              "would silently undercount vs spark.read.parquet().count()")
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath)
  }

  /** invokeAll + get, unwrapping ExecutionException so call sites see the
    * same IOException/AnalysisException surface a direct read would
    * throw, not a java.util.concurrent wrapper. */
  private def pooled[T](tasks: Seq[java.util.concurrent.Callable[T]]): Seq[T] = {
    import scala.jdk.CollectionConverters._
    pool.invokeAll(tasks.asJava).asScala.toSeq.map { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }

  private def footerRows(conf: Configuration, f: Path): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
    try r.getRecordCount
    finally r.close()
  }

  /** Total row count across `dirs`' parquet files plus the file count —
    * bit-identical to `spark.read.parquet(dirs: _*).count()` (both sum
    * the same footer record counts), without the Spark job. */
  def rowsAndFiles(spark: SparkSession, dirs: Seq[String]): (Long, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dirs.flatMap(dataFiles(conf, _))
    if (files.isEmpty) return (0L, 0)
    val rows = pooled(files.map { f =>
      new java.util.concurrent.Callable[Long] {
        def call(): Long = footerRows(conf, f)
      }: java.util.concurrent.Callable[Long]
    }).sum
    (rows, files.size)
  }

  /** The Spark schema every file of `dirs` was WRITTEN with, when they
    * all agree: parquet files written by Spark carry the exact serialized
    * StructType in footer key-value metadata — reading it back is a
    * driver-side footer sweep, no Spark job and no schema conversion.
    * None when any file lacks the metadata (non-Spark writer) or the
    * schemas differ (a widened delta — the caller falls back to Spark's
    * own mergeSchema read, which is built for exactly that case). */
  def uniformSparkSchema(spark: SparkSession,
      dirs: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dirs.flatMap(dataFiles(conf, _))
    if (files.isEmpty) return None
    val key = "org.apache.spark.sql.parquet.row.metadata"
    val jsons = pooled(files.map { f =>
      new java.util.concurrent.Callable[String] {
        def call(): String = {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try r.getFooter.getFileMetaData.getKeyValueMetaData.get(key)
          finally r.close()
        }
      }: java.util.concurrent.Callable[String]
    })
    if (jsons.exists(_ == null)) return None
    try {
      val parsed = jsons.distinct.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      if (parsed.distinct.size == 1) Some(parsed.head) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The Spark schema recorded in the FIRST data file's footer (by name
    * order) — the same single-footer answer Spark's own inference
    * returns for a mergeSchema-off read, read driver-side. None when the
    * file was not Spark-written (no serialized schema in the key-value
    * metadata) or nothing is there to read. ONE footer regardless of
    * directory size — the 100 TB-safe form (a base generation can hold
    * ~10^5 files; only bounded delta/manifest dirs may sweep them all,
    * see [[uniformSparkSchema]]). A single Spark write emits one schema
    * across its files, so for any committed store dir the first file IS
    * the directory's schema. */
  def firstFileSparkSchema(spark: SparkSession,
      dirs: Seq[String]): Option[org.apache.spark.sql.types.StructType] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val f = dirs.iterator.flatMap(dataFiles(conf, _)).toSeq
        .sortBy(_.getName).headOption.getOrElse(return None)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val json =
        try r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        finally r.close()
      Option(json).map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `spark.read.parquet` with the schema recovered driver-side when the
    * footers carry it: parquet schema inference costs a Spark JOB per
    * uncached read even with mergeSchema off
    * (SchemaMergeUtils.mergeSchemasInParallel always schedules one), and
    * the store's verbs construct MANY reads per operation — the
    * inference jobs, not the data jobs, dominated the e2e store wall
    * (per-job census, r15). Non-Spark-written files fall back to the normal
    * inference read. */
  def read(spark: SparkSession,
      dirs: Seq[String]): org.apache.spark.sql.DataFrame =
    firstFileSparkSchema(spark, dirs) match {
      case Some(s) => spark.read.schema(s).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }

  /** Footer-statistics max of an integral column across `dirs` — the
    * same number `df.agg(max(col))` scans for, from the metadata alone.
    * None when the footers cannot reproduce the aggregate exactly
    * ([[fileColumnStats]]' trust rules) — callers fall back to the scan. */
  def colMax(spark: SparkSession, dir: String, c: String): Option[Long] =
    fileColumnStats(spark, dir, Seq(c)).flatMap { fs =>
      val maxes = fs.flatMap(_.minMax.head._2).map {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      if (maxes.isEmpty) None else Some(maxes.max)
    }

  /** [[rowsAndFiles]]' row count alone. */
  def rows(spark: SparkSession, dirs: Seq[String]): Long =
    rowsAndFiles(spark, dirs)._1

  /** One data file's footer census for a stats manifest: plain path,
    * row count, and per requested column the (min, max) merged across
    * its row groups' column-chunk statistics. */
  final case class FileStats(path: String, rows: Long,
      minMax: Seq[(Option[Any], Option[Any])])

  /** Per-file footer statistics over `dir` for integral columns —
    * `None` whenever footers cannot be trusted to reproduce the
    * one-pass aggregate EXACTLY, so callers fall back to the scan:
    *   - a requested column is not physically INT64/INT32 with a plain
    *     or int logical annotation (dates, decimals, strings all have
    *     subtler stats semantics — truncation, ordering — and floats
    *     have NaN ordering; exactness is only free for fixed-width
    *     integers);
    *   - any column chunk lacks statistics, or carries ambiguous ones
    *     (no recorded non-null value while the chunk has non-null rows
    *     — treating that as "all null" would fabricate a null min/max
    *     and silently DROP the file from every box intersection).
    * Min/max values come back as java.lang.Long / Integer matching the
    * physical type; an all-null column yields (None, None), exactly the
    * aggregate's null min/max. */
  def fileColumnStats(spark: SparkSession, dir: String,
      cols: Seq[String]): Option[Seq[FileStats]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(conf, dir)
    if (files.isEmpty) return None // scan path's schema read throws the same contract error

    // null result = this file's footers cannot reproduce the aggregate
    def statsOf(f: Path): FileStats = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val blocks = r.getRowGroups.asScala.toSeq
        var ok = true
        val perCol = cols.map { c =>
          var mn: Option[Any] = None
          var mx: Option[Any] = None
          if (ok) {
            val okType = schema.containsField(c) && {
              val fld = schema.getType(Seq(c): _*)
              fld.isPrimitive && {
                val pt = fld.asPrimitiveType()
                (pt.getPrimitiveTypeName == INT64 ||
                  pt.getPrimitiveTypeName == INT32) &&
                (pt.getLogicalTypeAnnotation == null ||
                  pt.getLogicalTypeAnnotation.isInstanceOf[
                    org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation])
              }
            }
            if (!okType) ok = false
            else blocks.foreach { b =>
              if (ok) b.getColumns.asScala.find(_.getPath.toDotString == c) match {
                case None => ok = false
                case Some(cc) =>
                  val st = cc.getStatistics
                  if (st == null) ok = false
                  else if (st.hasNonNullValue) (st.genericGetMin, st.genericGetMax) match {
                    case (p: java.lang.Long, q: java.lang.Long) =>
                      mn = Some(mn.fold(p: Any)(m =>
                        if (p < m.asInstanceOf[java.lang.Long]) p else m))
                      mx = Some(mx.fold(q: Any)(m =>
                        if (q > m.asInstanceOf[java.lang.Long]) q else m))
                    case (p: java.lang.Integer, q: java.lang.Integer) =>
                      mn = Some(mn.fold(p: Any)(m =>
                        if (p < m.asInstanceOf[java.lang.Integer]) p else m))
                      mx = Some(mx.fold(q: Any)(m =>
                        if (q > m.asInstanceOf[java.lang.Integer]) q else m))
                    case _ => ok = false
                  }
                  else if (!(st.isNumNullsSet && st.getNumNulls == b.getRowCount))
                    ok = false // not provably all-null: a fabricated null
                               // min/max would DROP the file from box scans
              }
            }
          }
          (mn, mx)
        }
        if (!ok) null
        else FileStats(f.toUri.getPath, blocks.map(_.getRowCount).sum, perCol)
      } finally r.close()
    }

    val out = pooled(files.map { f =>
      new java.util.concurrent.Callable[FileStats] {
        def call(): FileStats = statsOf(f)
      }: java.util.concurrent.Callable[FileStats]
    })
    if (out.contains(null)) None else Some(out)
  }
}
