package graft.cnj

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{CnjCsvFormat, ListedFileScan}

/** Tolerant CSV ingestion (S1-S3, U1 of SURVEY.md §2.1/2.7).
  *
  * Mirrors pd.read_csv(sep=',', on_bad_lines='skip') + per-file schema
  * drift + pd.concat outer alignment (/root/reference/Versao_Np.py:
  * 143,155-161,226): each court file is read with its own header, files
  * missing the identity columns contribute nothing, and every surviving
  * row lands on the canonical CNJ column set with nulls for the gaps.
  *
  * Execution shape ([[readDir]]): one driver listing, then ONE file scan
  * over every court file in the CNJ format
  * ([[org.apache.spark.sql.graft.CnjCsvFormat]]), whose per-file reader
  * parses each split's lines with a [[CnjFileParser]] built from that
  * file's first line and emits the canonical rows (only the columns the
  * plan reads) straight from the scan. The plan is scan → downstream: one
  * relation, one codegen unit, at any file count. The obvious
  * alternative — a 90-way union of per-file CSV scans, each with its own
  * projection — was measured and rejected: 90 distinct scan+project
  * children mean 90 analyzed relations and codegen units, costing ~18 s
  * of core-count-invariant driver/compile time PER ACTION at the 90-file
  * corpus, and the uniVocity full-width parse itself ran at ~1 MB/s/core
  * (22.8 s for 0.93 GB even as a single multi-file scan). The parse
  * works on the line's UTF-8 bytes: separators, the header echo and
  * simple decimals are read by byte, key cells are copied as byte
  * slices, and only lines holding a quote or a malformed key are decoded
  * to a String and split by [[splitCsv]].
  *
  * The listing: the driver lists the directory ONCE with the Hadoop
  * `FileSystem` and reads each `.csv` file's first line, as the reader
  * of its first split will ([[CnjCsvFormat.firstLine]]), to drop the
  * files without identity columns and warn about duplicated header
  * names; Spark then gets the surviving file statuses as they are
  * ([[org.apache.spark.sql.graft.ListedFileScan]]), so its file index
  * has nothing left to fetch and no listing job runs at any file count.
  * Handing Spark the path list instead makes it stat every path again,
  * and above `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * (32) paths it does that in a Spark job with one task per file: for
  * the 90-file corpus, 90 of the 121 tasks of a `runAll` and ~1 s of a
  * ~3 s warm run on 4 cores, spent learning what the driver already
  * knew. Two other ways out were rejected. Raising that threshold in
  * [[graft.GraftSession]] would change every other multi-path read
  * (store deltas, pruned scans) too. Reading the directory as one root
  * path would change what is read: Spark's own listing recurses into
  * subdirectories and infers `k=v` partition columns from their names.
  *
  * Files the reference skips contribute nothing: a file missing the
  * identity columns is dropped from the file list (and its reader would
  * emit nothing); a header-only file contributes only its header line,
  * which the reader consumes as the header.
  *
  * Scale note: the 100 TB path is the same plan over files landed once
  * as parquet with this canonical schema, where the parse disappears
  * entirely.
  */
object Reader {

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

  /** Split one CSV line with a minimal RFC-4180 state machine, so quoted
    * separators and doubled quotes survive. This is the String path of
    * [[CnjFileParser]]: it sees only lines that hold a '"' or a key cell
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

  private def headerCols(first: String): Seq[String] = first.split(",", -1).map(_.trim).toSeq

  /** The parse spec of a court file whose first line is `first`; None for
    * a file the reference skips (missing identity columns;
    * Versao_Np.py:157-159). The driver's listing and each file's reader
    * both call this on the same decoded first line. Duplicate header
    * names: pandas mangles repeats (col, col.1, ..), so the reference's
    * name lookups always resolve to the FIRST occurrence — mirror that.
    * A bare zipWithIndex.toMap would keep the LAST and silently read the
    * wrong token position. */
  private[cnj] def fileSpec(first: String): Option[FileSpec] = {
    val cols = headerCols(first)
    if (!CnjSchema.keyCols.forall(cols.contains)) None
    else {
      val idx = cols.zipWithIndex.reverse.toMap // reversed: first wins
      Some(FileSpec(first, cols.length, CnjSchema.allCols.map(c => idx.getOrElse(c, -1)).toArray))
    }
  }

  /** The directory's court files, from ONE non-recursive driver listing:
    * files named `*.csv` (hidden-named ones included), sorted by path,
    * and only those whose first line yields a [[FileSpec]]. */
  private def courtFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    // a missing directory lists as empty; listing a plain file returns
    // the file itself, which is not a directory entry either
    val listed = try fs.listStatus(root).toSeq catch { case _: FileNotFoundException => Seq.empty }
    val qualifiedRoot = fs.makeQualified(root)
    val files = listed
      .filter(f => f.isFile && f.getPath.getName.endsWith(".csv") && f.getPath != qualifiedRoot)
      .sortBy(_.getPath.toUri.getPath)
      .filter { f =>
        val first = CnjCsvFormat.firstLine(f.getPath, conf)
        val cols = headerCols(first)
        val dups = cols.diff(cols.distinct).distinct.filter(CnjSchema.allCols.contains)
        val court = fileSpec(first).isDefined
        if (court && dups.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"${f.getPath.toUri.getPath}: duplicated header column(s) ${dups.mkString(", ")}; " +
              "using the first occurrence of each (pandas pre-mangle position)")
        court
      }
    require(files.nonEmpty, s"no readable CNJ csv files under $dir")
    files
  }

  /** All court files in a directory as one canonical-schema DataFrame:
    * one file scan in the CNJ format, regardless of file count. The scan
    * is built from the statuses [[courtFiles]] listed, so Spark lists
    * nothing again. */
  def readDir(spark: SparkSession, dir: String): DataFrame =
    ListedFileScan.frame(spark, courtFiles(spark, dir), new CnjCsvFormat, CnjCsvFormat.schema)

  /** The SURVEY §2.9 north star: the same tolerant ingest as a
    * Structured Streaming file source — the CNJ format over the
    * directory's `*.csv` files, so court files landing in the directory
    * are picked up incrementally and every downstream aggregation becomes
    * a continuously-updating result. Each file, including one that lands
    * after the stream started, is parsed with its own header; a file
    * without the identity columns contributes no rows. */
  def readDirStream(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    // options pass through to the file source (e.g. maxFilesPerTrigger
    // to bound per-microbatch work — the incremental-ingest knob)
    spark.readStream.format(classOf[CnjCsvFormat].getName).schema(CnjCsvFormat.schema)
      .options(options).load(s"$dir/*.csv")
}
