package graft.cnj

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets

import scala.util.Using

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListedTextScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Tolerant CSV ingestion (S1-S3, U1 of SURVEY.md §2.1/2.7).
  *
  * Mirrors pd.read_csv(sep=',', on_bad_lines='skip') + per-file schema
  * drift + pd.concat outer alignment (/root/reference/Versao_Np.py:
  * 143,155-161,226): each file's header is read driver-side (one line of
  * I/O), files missing the identity columns are excluded up front, and
  * every surviving row lands on the canonical CNJ column set with nulls
  * for the gaps.
  *
  * Execution shape ([[readDir]]): one driver listing, then ONE text scan
  * over every court file plus one narrow parse stage keyed by
  * `input_file_name()` against a broadcast header map. The obvious
  * alternative — a 90-way union of per-file CSV scans, each with its own
  * projection — was measured and rejected: 90 distinct scan+project
  * children mean 90 analyzed relations and codegen units, costing ~18 s
  * of core-count-invariant driver/compile time PER ACTION at the 90-file
  * corpus, and the uniVocity full-width parse itself ran at ~1 MB/s/core
  * (22.8 s for 0.93 GB even as a single multi-file scan). The parse is
  * one Catalyst expression ([[CnjParseLine]]) inside a Generate, so the
  * plan collapses to scan → parse → downstream, one codegen unit, one
  * relation, at any file count. It works on the line's UTF-8 bytes:
  * separators, the header echo and simple decimals are read by byte,
  * key cells are copied as byte slices, and only lines holding a quote
  * or a malformed key are decoded to a String and split by
  * [[splitCsv]].
  *
  * The listing: the driver lists the directory ONCE with the
  * Hadoop `FileSystem` and reads each `.csv` file's header; Spark then
  * gets those file statuses as they are (`ListedTextScan`), so its file
  * index has nothing left to fetch and no listing job runs at any file
  * count. Handing `spark.read.textFile` the path list instead makes
  * Spark stat every path again, and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
  * it does that in a Spark job with one task per file: for the 90-file
  * corpus, 90 of the 121 tasks of a `runAll` and ~1 s of a ~3 s warm run
  * on 4 cores, spent learning what the driver already knew. Two other
  * ways out were rejected. Raising that threshold in
  * [[graft.GraftSession]] would change every other multi-path read
  * (store deltas, pruned scans) too. Reading the directory as one root
  * path would change what is read: Spark's own listing recurses into
  * subdirectories and infers `k=v` partition columns from their names.
  *
  * Files the reference skips contribute nothing: a file missing the
  * identity columns is dropped from the file list; a header-only file
  * contributes only its header line, which the parser drops.
  *
  * Scale note: the 100 TB path is the same plan over files landed once
  * as parquet with this canonical schema, where the parse stage
  * disappears entirely.
  */
object Reader {

  /** Canonical output schema: key columns as strings, metric columns as
    * nullable doubles — column order keyCols ++ numericCols. */
  private[cnj] val canonicalSchema: StructType = StructType(
    CnjSchema.keyCols.map(StructField(_, StringType)) ++
      CnjSchema.numericCols.map(StructField(_, DoubleType)))

  /** Literal NaNs behave like nulls in pandas (`notna()`/`sum` skip
    * them); the parser nulls them at the edge. Infinities pass through,
    * matching Spark's cast and pandas float semantics.
    *
    * A junk cell ("x", "n/a") is null without a thrown exception:
    * `Double.parseDouble` trims chars <= ' ', takes one optional sign,
    * and then needs a digit, '.', "NaN" or "Infinity" (hex starts with
    * '0'), so a cell whose first char after those is anything else
    * cannot parse. Throwing and catching its `NumberFormatException`
    * (which fills in a stack trace) costs tens of times the parse of a
    * number, and a corpus can hold thousands of such cells. */
  private[cnj] def parseDouble(s: String): java.lang.Double = {
    var i = 0
    while (i < s.length && s.charAt(i) <= ' ') i += 1
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    if (i == s.length) null
    else {
      val c = s.charAt(i)
      if (!(c >= '0' && c <= '9') && c != '.' && c != 'N' && c != 'I') null
      else
        try {
          val d = java.lang.Double.parseDouble(s)
          if (d.isNaN) null else java.lang.Double.valueOf(d)
        } catch { case _: NumberFormatException => null }
    }
  }

  /** Raw first line of the file (driver-side, one line of I/O). Doubles
    * as the header — column names split from it — and as the parser's
    * header-row sentinel: rows equal to it are dropped, which is how
    * header lines are skipped inside a scan that has no per-file header
    * notion. A data row can never equal the header (headers are
    * alphabetic identifiers; every data row carries the court acronym in
    * column 0, and acronyms never collide with 'sigla_tribunal'). */
  private def rawFirstLine(path: String): String =
    Using.resource(scala.io.Source.fromFile(path, StandardCharsets.UTF_8.name())) { src =>
      src.getLines().nextOption().getOrElse("")
    }

  /** Split one CSV line with a minimal RFC-4180 state machine, so quoted
    * separators and doubled quotes survive. This is the String path of
    * [[CnjParseLine]]: it sees only lines that hold a '"' or a key cell
    * that is not well-formed UTF-8; every other line is split by byte.
    *
    * LIMITATION: the scan is line-based, so a quoted field containing an
    * embedded NEWLINE arrives as two wrong-width lines and both are
    * skipped as malformed (pandas' default parser would stitch them).
    * Acceptable for the CNJ corpus, which is newline-free inside fields
    * by construction; a corpus that quotes newlines needs a multiline
    * CSV reader (spark.read.option("multiLine", true)), not this one. */
  private[cnj] def splitCsv(line: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQ = false
        } else sb.append(c)
      } else c match {
        case '"' => inQ = true
        case ',' => out += sb.toString; sb.setLength(0)
        case _ => sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    out.toArray
  }

  /** Per-file parse spec: the exact header line (dropped when seen as a
    * row), the expected token count (rows with any other count are
    * malformed and skipped — pandas on_bad_lines='skip'), and for each
    * canonical output column the source token index, -1 if the file
    * lacks it. The byte path compares lines with the header's UTF-8
    * bytes; a header that decoded with a replacement character could
    * equal a line whose bytes differ, so its file takes the String path
    * throughout. */
  private[cnj] final case class FileSpec(headerLine: String, width: Int, positions: Array[Int]) {
    private[cnj] val headerBytes: Array[Byte] = headerLine.getBytes(StandardCharsets.UTF_8)
    private[cnj] val bytePath: Boolean = headerLine.indexOf('\uFFFD') < 0
  }

  private[cnj] def fileSpec(path: String): Option[FileSpec] = {
    val first = rawFirstLine(path)
    val cols = first.split(",", -1).map(_.trim).toSeq
    if (!CnjSchema.keyCols.forall(cols.contains)) None
    else {
      // duplicate header names: pandas mangles repeats (col, col.1, ..),
      // so the reference's name lookups always resolve to the FIRST
      // occurrence — mirror that. A bare zipWithIndex.toMap would keep
      // the LAST and silently read the wrong token position.
      val dups = cols.diff(cols.distinct).distinct
        .filter((CnjSchema.keyCols ++ CnjSchema.numericCols).contains)
      if (dups.nonEmpty)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$path: duplicated header column(s) ${dups.mkString(", ")}; " +
            "using the first occurrence of each (pandas pre-mangle position)")
      val idx = cols.zipWithIndex.reverse.toMap // reversed: first wins
      val pos = (CnjSchema.keyCols ++ CnjSchema.numericCols)
        .map(c => idx.getOrElse(c, -1)).toArray
      Some(FileSpec(first, cols.length, pos))
    }
  }

  /** Read one CNJ CSV and project it onto the canonical schema; returns
    * None for files the reference skips (missing identity columns;
    * Versao_Np.py:157-159). Same parser as [[readDir]], scoped to one
    * file. */
  def readFile(spark: SparkSession, path: String): Option[DataFrame] =
    fileSpec(path).map(spec =>
      parsedFrom(spark, spark.read.textFile(path).toDF("value"), Map(normalizePath(path) -> spec)))

  /** `input_file_name()` yields a URL-ENCODED URI ("file:/a/b%20c.csv" —
    * Spark's FileScanRDD publishes `PartitionedFile.urlEncodedPath`);
    * driver-side paths are plain. Key the broadcast map by the plain
    * absolute path and DECODE on the executor — a bare scheme-strip
    * would silently drop every row of a file whose path contains a
    * space, '%', or any non-ASCII character (court names make that a
    * realistic path shape, and tolerant ingest must not lose files
    * silently). */
  private def normalizePath(p: String): String = new File(p).getAbsolutePath

  private[graft] def decodeFileUri(uri: String): String =
    try new java.net.URI(uri).getPath
    catch {
      case _: java.net.URISyntaxException =>
        // not URI-parseable (unencoded specials): best-effort scheme strip
        val noScheme = if (uri.startsWith("file:")) uri.substring(5) else uri
        var i = 0
        while (i + 1 < noScheme.length && noScheme.charAt(i) == '/' && noScheme.charAt(i + 1) == '/') i += 1
        noScheme.substring(i)
    }

  /** Parse stage over any text frame (batch or stream) carrying a
    * `value` line column from a file source — `input_file_name()`
    * resolves per row in both cases. */
  private def parsedFrom(spark: SparkSession, text: DataFrame, specs: Map[String, FileSpec]): DataFrame = {
    // the parse as a native EXPRESSION inside a Generate (see
    // [[CnjParseLine]]): no Serialize/DeserializeToObject fence and no
    // per-row external Row — the scan → parse → downstream chain stays
    // one codegen unit
    import org.apache.spark.sql.graft.ColumnBridge
    val arr = ColumnBridge.column(CnjParseLine(
      ColumnBridge.expression(input_file_name()),
      ColumnBridge.expression(col("value")), specs))
    text.select(explode(arr).as("__r")).select(col("__r.*"))
  }

  /** The directory's court files and their parse specs, from ONE
    * non-recursive driver listing: files named `*.csv` (hidden-named
    * ones included), sorted by path, and only those whose header yields
    * a [[FileSpec]]. Specs are keyed by the file's absolute path, which
    * is what the parse stage decodes from `input_file_name()`. */
  private def courtFiles(spark: SparkSession, dir: String): (Seq[FileStatus], Map[String, FileSpec]) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing directory lists as empty; listing a plain file returns
    // the file itself, which is not a directory entry either
    val listed = try fs.listStatus(root).toSeq catch { case _: FileNotFoundException => Seq.empty }
    val qualifiedRoot = fs.makeQualified(root)
    val files = listed
      .filter(f => f.isFile && f.getPath.getName.endsWith(".csv") && f.getPath != qualifiedRoot)
      .map(f => f -> f.getPath.toUri.getPath).sortBy(_._2)
      .flatMap { case (f, p) => fileSpec(p).map(spec => (f, p -> spec)) }
    require(files.nonEmpty, s"no readable CNJ csv files under $dir")
    (files.map(_._1), files.map(_._2).toMap)
  }

  /** All court files in a directory as one canonical-schema DataFrame:
    * one text scan, one parse stage, regardless of file count. The scan
    * is built from the statuses [[courtFiles]] listed, so Spark lists
    * nothing again. */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val (files, specs) = courtFiles(spark, dir)
    parsedFrom(spark, ListedTextScan.frame(spark, files), specs)
  }

  /** The SURVEY §2.9 north star: the same tolerant ingest as a
    * Structured Streaming file source — the identical parse stage over
    * `readStream.text`, so court files landing in the directory are
    * picked up incrementally and every downstream aggregation becomes a
    * continuously-updating result. The per-file header map is
    * snapshotted at stream start: rows from files not present then are
    * dropped, exactly like a headerless file in batch (re-plan to admit
    * new schemas — header discovery is driver-side I/O, not state). */
  def readDirStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val (_, specs) = courtFiles(spark, dir)
    // options pass through to the file source (e.g. maxFilesPerTrigger
    // to bound per-microbatch work — the incremental-ingest knob)
    parsedFrom(spark, spark.readStream.options(options).text(s"$dir/*.csv"), specs)
  }
}
