package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** File-level data skipping over plain parquet directories — the
  * manifest half of the z-order story.
  *
  * Parquet predicate pushdown skips ROW GROUPS inside every file it
  * opens, but Spark still lists, opens, and footer-reads every file of a
  * plain parquet directory (file-level min/max skipping is a table-format
  * feature it does not do for raw directories). At 100 TB that is
  * millions of opens for a query that touches 1% of the data. The fix is
  * the standard lakehouse one, kept engine-native here: persist a tiny
  * per-file statistics manifest at landing, intersect it with the query
  * box at plan time, and hand Spark only the surviving file list.
  *
  * The persisted manifest is MULTI-PART — a directory of single-file
  * parquet parts, one per landed data directory (`<dirname>.parquet`),
  * exactly the shape every table format's manifest list takes:
  *
  * - [[writeManifest]] resets the manifest to one part covering
  *   `dataDir` (landing / compaction).
  * - [[appendManifest]] adds ONE new part built from one aggregate over
  *   JUST the new directory's files — O(batch) compute, O(batch) write,
  *   and ZERO round-trip of existing entries (the r12 single-file form
  *   collected every prior entry — including 8 KB/file bloom bytes — to
  *   the driver and rewrote the whole manifest per append, an O(files)
  *   cost on an O(batch) contract). A replayed append writes the SAME
  *   part name, replacing its stale file list instead of accumulating
  *   pointers to deleted part files — idempotence by part naming, not
  *   driver filtering.
  * - Reads (`spark.read.parquet(manifestPath)`) union the parts; parts
  *   are moved into place by rename (built under an underscore-prefixed
  *   temp dir readers ignore), so a concurrent read never sees a
  *   half-written part.
  * - [[rebuildManifest]] folds the parts back to one on compaction.
  *
  * Per-file entries are `file, n_rows, <c>_min, <c>_max` from ONE
  * column-pruned scan of the landing directory — O(files) rows, metadata
  * scale. Stored manifests carry DECODED plain file paths
  * (`input_file_name()` yields URL-encoded URIs — the same pitfall
  * graft.cnj.Reader documents; feeding "%20" back to
  * `spark.read.parquet` fails for any path with an encodable character).
  * The decode runs on the driver over the new part's O(batch) rows only.
  *
  * [[prunedScan]]: filter the manifest with any predicate over those
  * stat columns, collect the surviving file names (driver-bounded by
  * the manifest's cardinality, same contract as the model/boundary
  * tables elsewhere), and read exactly those files. Pruning is
  * TRANSPARENT: callers re-apply their row-level filter on the result;
  * a file kept by the box may still hold non-matching rows.
  *
  * Composes with [[Layout.zorderWrite]]: z-ordering makes each file's
  * min/max box tight in every clustered dimension, so the manifest
  * intersection drops most files for a multi-dimensional box — measured
  * structurally in ScanPruningSpec (files read, counted, not timed).
  * Composes with [[graft.operators.CorpusStore]]: the store maintains
  * its manifest incrementally across appends and rebuilds it on compact.
  *
  * Min/max boxes only prune CLUSTERED dimensions — on a hash-laid-out
  * corpus every file's box spans the whole key domain and nothing is
  * skipped. For key-equality lookups on such layouts the manifest can
  * instead carry a small per-file BLOOM FILTER per key column
  * (`bloomCols`): [[keyLookupPredicate]] probes each file's filter and a
  * point lookup opens ~(1 + fpp·files) files instead of all of them,
  * regardless of layout. No false negatives (a bloom never drops a file
  * that holds the key), and the same answer-transparency contract: the
  * caller re-applies the key filter on the surviving rows. Alongside
  * each filter the manifest records the probe hash count (`bloom_k`)
  * and the key column's data type (`<c>_bloom_dt`) — probes recompute
  * the build-time hash exactly instead of trusting the caller's literal
  * types (xxhash64 hashes Int and Long DIFFERENTLY, so an untyped probe
  * literal would silently generate false negatives).
  */
object ScanPruning {

  /** Floor for per-file bloom size: 2^16 bits = 8 KB per file per column —
    * O(files) metadata, sized for ~6.5k distinct keys per file at ~1% fpp
    * with 5 hashes. */
  val DefaultBloomBits: Int = 1 << 16

  /** Ceiling for auto-sized blooms: 2^27 bits = 16 MB per file — enough
    * for ~13M keys/file at ~1% fpp, i.e. a fully-compacted ~1 GB file of
    * short rows. Past this the fpp degrades gracefully (more file opens,
    * never wrong answers). */
  val MaxBloomBits: Int = 1 << 27

  val DefaultBloomHashes: Int = 5

  /** Sentinel: derive the bloom size from the landing directory's
    * footer-metadata rows-per-file at build time ([[sizeBloomBits]])
    * instead of a fixed constant — a compacted 128 MB–1 GB file holds
    * millions of keys, and a fixed 8 KB filter would quietly saturate
    * (fpp → 1, pruning decays to opening most files). */
  val AutoBloomBits: Int = 0

  /** ~10 bits/key ≈ 1% fpp at 5 hashes — the classic sizing rule. */
  val BloomBitsPerKey: Int = 10

  /** Bloom size (bits, power of two, clamped to
    * [[[DefaultBloomBits]], [[MaxBloomBits]]]) for a file expected to
    * hold `rowsPerFile` keys. */
  def sizeBloomBits(rowsPerFile: Long): Int = {
    val want = rowsPerFile * BloomBitsPerKey
    if (want <= DefaultBloomBits) DefaultBloomBits
    else if (want >= MaxBloomBits) MaxBloomBits
    else (java.lang.Long.highestOneBit(want - 1) << 1).toInt
  }

  /** Resolve [[AutoBloomBits]] against a landing directory: footer row
    * count / file count — a driver-side [[ParquetMeta]] footer read (the
    * same bytes a count-star job reads, without scheduling the job). */
  private def resolveBloomBits(spark: SparkSession, dataDir: String,
      bloomBits: Int): Int =
    if (bloomBits != AutoBloomBits) bloomBits
    else {
      val (rows, nFiles) = ParquetMeta.rowsAndFiles(spark, Seq(dataDir))
      val files = math.max(nFiles, 1)
      sizeBloomBits((rows + files - 1) / files)
    }

  /** Per-file stats manifest: `file, n_rows, <c>_min, <c>_max` for each
    * stat column — plus, for each bloom column, `<c>_bloom` (the
    * serialized filter over xxhash64 of the column), a constant
    * `bloom_k` column recording the hash count probes must reuse, and a
    * constant `<c>_bloom_dt` recording the column's data type so probe
    * literals hash identically to the build — from one column-pruned
    * scan of `dataDir`. Filters may differ in SIZE across parts (auto
    * sizing follows each landing's rows-per-file); probes read each
    * row's bit count from the serialized length, so mixed sizes stay
    * probe-compatible as long as `bloom_k` is constant. The `file`
    * column here is `input_file_name()`'s raw (URL-encoded URI) form;
    * the persisted writers below decode it and [[prunedScan]] decodes
    * defensively, so both forms read back correctly. */
  def buildManifest(spark: SparkSession, dataDir: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = AutoBloomBits,
      bloomHashes: Int = DefaultBloomHashes): DataFrame = {
    require(cols.nonEmpty || bloomCols.nonEmpty,
      "need at least one stat or bloom column")
    val data = ParquetMeta.read(spark, Seq(dataDir))
    val bits = if (bloomCols.isEmpty) DefaultBloomBits
      else resolveBloomBits(spark, dataDir, bloomBits)
    val aggs = (count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))) ++
      bloomCols.map(c => graft.functions.HashFunctions
        .bloomAgg(xxhash64(col(c)), bits, bloomHashes).as(s"${c}_bloom"))
    val m = data
      .select(input_file_name().as("file") +: (cols ++ bloomCols).distinct.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
    if (bloomCols.isEmpty) m
    else bloomCols.foldLeft(m.withColumn("bloom_k", lit(bloomHashes))) {
      (acc, c) => acc.withColumn(s"${c}_bloom_dt",
        lit(data.schema(c).dataType.catalogString))
    }
  }

  /** Decode a manifest `file` entry to a plain filesystem path. Only
    * URI-shaped strings (a scheme prefix) are decoded — an
    * already-plain path containing a literal '%' must not be mangled.
    * `input_file_name()` yields a URL-ENCODED URI ("file:/a/b%20c.csv" —
    * Spark's FileScanRDD publishes `PartitionedFile.urlEncodedPath`); a
    * bare scheme-strip would keep "%20" and every escaped non-ASCII
    * byte, so the entry would name no file on disk. */
  private[sources] def decodeFileUri(f: String): String =
    if (!f.startsWith("file:") && !f.contains("://")) f
    else
      try new java.net.URI(f).getPath
      catch {
        case _: java.net.URISyntaxException =>
          // not URI-parseable (unencoded specials): best-effort scheme strip
          val noScheme = if (f.startsWith("file:")) f.substring(5) else f
          var i = 0
          while (i + 1 < noScheme.length && noScheme.charAt(i) == '/' && noScheme.charAt(i + 1) == '/') i += 1
          noScheme.substring(i)
      }

  /** [[buildManifest]] with decoded driver-side rows — the persisted
    * form. O(files of dataDir) rows pass the driver, nothing else.
    * STATS-ONLY manifests over integral columns skip the aggregate scan
    * entirely: parquet column-chunk statistics are EXACT for fixed-width
    * integers, so `file, n_rows, min, max` all come from the footers the
    * driver already has to list ([[ParquetMeta.fileColumnStats]]) — the
    * manifest build becomes O(files) metadata with zero Spark jobs,
    * which is what the table formats do at landing. Any column the
    * footers cannot reproduce exactly (non-integral type, missing or
    * ambiguous chunk stats) falls back to the one-pass aggregate with
    * identical output; bloom manifests always scan (the filter needs
    * every value). */
  private def decodedRows(spark: SparkSession, dataDir: String,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = AutoBloomBits,
      bloomHashes: Int = DefaultBloomHashes): (Seq[Row], StructType) = {
    if (bloomCols.isEmpty) {
      footerDecodedRows(spark, dataDir, cols) match {
        case Some(r) => return r
        case None => ()
      }
    }
    val m = buildManifest(spark, dataDir, cols, bloomCols, bloomBits, bloomHashes)
    val rows = m.collect().toIndexedSeq
      .map(r => Row.fromSeq(decodeFileUri(r.getString(0)) +: r.toSeq.tail))
    (rows, m.schema)
  }

  /** The footer fast path of [[decodedRows]]: rows + schema shaped
    * exactly like the aggregate's (`file, n_rows, <c>_min, <c>_max` in
    * `cols` order, column-typed min/max), or None when any footer or
    * type cannot reproduce the aggregate exactly. */
  private def footerDecodedRows(spark: SparkSession, dataDir: String,
      cols: Seq[String]): Option[(Seq[Row], StructType)] =
    ParquetMeta.fileColumnStats(spark, dataDir, cols).flatMap { fs =>
      import org.apache.spark.sql.types._
      val dataSchema = ParquetMeta.firstFileSparkSchema(spark, Seq(dataDir))
        .getOrElse(return None) // non-Spark footer: scan fallback
      val dts = cols.map(c => dataSchema.fields.find(_.name == c).map(_.dataType))
      def matches(v: Any, dt: DataType): Boolean = (v, dt) match {
        case (_: java.lang.Long, LongType) => true
        case (_: java.lang.Integer, IntegerType) => true
        case _ => false // e.g. parquet int8/16 read as Byte/Short by Spark
      }
      lazy val typed = dts.map(_.get)
      if (dts.exists(_.isEmpty) ||
          fs.exists(f => f.minMax.zip(typed).exists { case ((mn, mx), dt) =>
            mn.exists(!matches(_, dt)) || mx.exists(!matches(_, dt)) })) None
      else {
        val schema = StructType(
          StructField("file", StringType, nullable = true) +:
            StructField("n_rows", LongType, nullable = false) +:
            cols.zip(typed).flatMap { case (c, dt) => Seq(
              StructField(s"${c}_min", dt, nullable = true),
              StructField(s"${c}_max", dt, nullable = true)) })
        val rows = fs.map(f => Row.fromSeq(
          f.path +: java.lang.Long.valueOf(f.rows) +: f.minMax.flatMap {
            case (mn, mx) => Seq(mn.orNull, mx.orNull) }))
        Some((rows, schema))
      }
    }

  /** The part name a data directory's entries land under: its last path
    * segment (`base`, `delta_<seq>`, ...) — so a same-directory rewrite
    * REPLACES its part instead of accumulating stale entries. */
  private def partTag(dataDir: String): String = new Path(dataDir).getName

  /** Write one manifest part: the rows land as a single parquet file
    * `<tag>.parquet` inside `manifestPath`, written DRIVER-SIDE
    * ([[org.apache.spark.sql.graft.DriverParquet]] — the rows are
    * O(files of one landing) driver-resident metadata, and a DataFrame
    * write would schedule a whole Spark job for one tiny task) to an
    * underscore-prefixed temp file (invisible to concurrent manifest
    * reads) and moved into place by rename. An existing same-name part
    * is replaced — the idempotent-replay contract. */
  /** Footer key-value slots for the manifest's per-build constants
    * (`bloom_k`, `<c>_bloom_dt` — constant across parts by contract):
    * probes read them back driver-side from any part's footer instead of
    * paying a limit(1) Spark job per lookup. Parts written before this
    * existed (or from zero-row builds) lack the keys; readers fall back
    * to the row read. */
  private val MetaBloomK = "graft.bloom_k"
  private def metaBloomDt(c: String) = s"graft.bloom_dt.$c"

  private def bloomFooterMeta(rows: Seq[Row],
      schema: StructType): Map[String, String] = {
    val bloomCols = bloomColsOf(schema)
    if (bloomCols.isEmpty || rows.isEmpty) return Map.empty
    val r = rows.head
    val kIdx = schema.fieldIndex("bloom_k")
    val base = Map(MetaBloomK -> r.getInt(kIdx).toString)
    bloomCols.foldLeft(base) { (m, c) =>
      val f = s"${c}_bloom_dt"
      if (schema.fieldNames.contains(f))
        m + (metaBloomDt(c) -> r.getString(schema.fieldIndex(f)))
      else m
    }
  }

  /** The footer key-value metadata of one manifest part (the first by
    * name) — empty when no part exists or the footer is unreadable. */
  private def manifestFooterMeta(spark: SparkSession,
      manifestPath: String): Map[String, String] =
    try {
      val dir = new Path(manifestPath)
      val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fsys.listStatus(dir).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).headOption.map { st =>
          import scala.jdk.CollectionConverters._
          ParquetMeta.withFooter(spark.sparkContext.hadoopConfiguration, st.getPath)(
            _.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
        }.getOrElse(Map.empty)
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Read a stored manifest with its schema recovered from one part
    * footer driver-side — `spark.read.parquet(manifestPath)` pays a
    * Spark schema-inference JOB per call even with mergeSchema off, and
    * every lookup/prune constructs this read. Parts share one schema by
    * construction (appendManifest recovers it before writing). */
  private[graft] def readManifest(spark: SparkSession,
      manifestPath: String): DataFrame =
    ParquetMeta.read(spark, Seq(manifestPath))

  /** A stored manifest's schema, from one part footer when possible. */
  private def manifestSchema(spark: SparkSession,
      manifestPath: String): StructType =
    ParquetMeta.firstFileSparkSchema(spark, Seq(manifestPath))
      .getOrElse(spark.read.parquet(manifestPath).schema)

  private def writePart(spark: SparkSession, manifestPath: String,
      tag: String, rows: Seq[Row], schema: StructType): Unit = {
    val dir = new Path(manifestPath)
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.mkdirs(dir)
    val tmp = new Path(dir, s"_tmp_$tag.parquet")
    org.apache.spark.sql.graft.DriverParquet.write(spark, schema,
      rows.sortBy(_.getString(0)), tmp,
      extraMetadata = bloomFooterMeta(rows, schema))
    val target = new Path(dir, s"$tag.parquet")
    if (fsys.exists(target))
      require(fsys.delete(target, false), s"could not replace manifest part $target")
    require(fsys.rename(tmp, target), s"could not move manifest part into $target")
  }

  /** Reset the manifest to a single part covering `dataDir` — the
    * landing / compaction form. */
  def writeManifest(spark: SparkSession, dataDir: String,
      manifestPath: String, cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBits: Int = AutoBloomBits,
      bloomHashes: Int = DefaultBloomHashes): Unit = {
    val (rows, schema) =
      decodedRows(spark, dataDir, cols, bloomCols, bloomBits, bloomHashes)
    // built before the reset: a failed build leaves the old manifest intact
    val p = new Path(manifestPath)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(p, true)
    writePart(spark, manifestPath, partTag(dataDir), rows, schema)
  }

  private def statColsOf(schema: StructType): Seq[String] =
    schema.fieldNames.toIndexedSeq.filter(_.endsWith("_min")).map(_.dropRight(4))

  private def bloomColsOf(schema: StructType): Seq[String] =
    schema.fieldNames.toIndexedSeq.filter(_.endsWith("_bloom")).map(_.dropRight(6))

  /** The stat columns a persisted manifest was built with, recovered
    * from its schema (`<c>_min` field order). */
  def manifestStatCols(spark: SparkSession, manifestPath: String): Seq[String] =
    statColsOf(manifestSchema(spark, manifestPath))

  /** The bloom columns a persisted manifest was built with (`<c>_bloom`
    * field order). */
  def manifestBloomCols(spark: SparkSession, manifestPath: String): Seq[String] =
    bloomColsOf(manifestSchema(spark, manifestPath))

  /** The probe hash count a persisted manifest's filters were built with
    * (constant across parts by contract): the footer key-value slot when
    * present (driver read, no job), else one recorded `bloom_k` row.
    * Falls back to the default for a zero-row manifest. */
  private def manifestBloomK(spark: SparkSession, manifestPath: String,
      bloomCols: Seq[String]): Int =
    if (bloomCols.isEmpty) DefaultBloomHashes
    else manifestFooterMeta(spark, manifestPath).get(MetaBloomK)
      .map(_.toInt)
      .orElse(readManifest(spark, manifestPath).select(col("bloom_k"))
        .limit(1).collect().headOption.map(_.getInt(0)))
      .getOrElse(DefaultBloomHashes)

  /** Extend a stored manifest with the files of `newDir`: one aggregate
    * over JUST those files, written as ONE NEW PART — O(batch) compute
    * and IO, no round-trip of existing entries through the driver. The
    * part is named after `newDir`, so a same-directory rewrite (e.g. a
    * replayed CorpusStore delta) replaces its stale file list instead of
    * accumulating pointers to deleted part files. Stat AND bloom columns
    * (with the original filters' hash count) are recovered from the
    * stored manifest's schema — footer metadata plus one `bloom_k` row,
    * never the entries themselves — so the new part stays
    * probe-compatible. Bloom SIZE is auto-fitted to the new directory's
    * rows-per-file ([[sizeBloomBits]]); probes handle mixed sizes. */
  def appendManifest(spark: SparkSession, manifestPath: String,
      newDir: String): Unit = {
    val mSchema = manifestSchema(spark, manifestPath)
    val cols = statColsOf(mSchema)
    val bloomCols = bloomColsOf(mSchema)
    require(cols.nonEmpty || bloomCols.nonEmpty,
      s"manifest at $manifestPath has no stat or bloom columns")
    val k = manifestBloomK(spark, manifestPath, bloomCols)
    val (rows, schema) = decodedRows(spark, newDir, cols, bloomCols,
      AutoBloomBits, k)
    writePart(spark, manifestPath, partTag(newDir), rows, schema)
  }

  /** Drop the manifest parts covering the named data-dir tags (their
    * `<tag>.parquet` part files) — the minor-compaction complement of
    * [[appendManifest]]: when several delta dirs fold into one, their
    * per-dir parts are replaced by the fold's single part, so the
    * manifest read unions O(live dirs) parts instead of O(appends).
    * Missing parts are skipped (idempotent — a crashed drop re-runs). */
  def dropParts(spark: SparkSession, manifestPath: String,
      tags: Seq[String]): Unit = {
    val dir = new Path(manifestPath)
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tags.foreach { t =>
      val p = new Path(dir, s"$t.parquet")
      if (fsys.exists(p))
        require(fsys.delete(p, false), s"could not drop manifest part $p")
    }
  }

  /** Rebuild a stored manifest over `dataDir` with the SAME stat/bloom
    * configuration it was built with (recovered before the overwrite),
    * folding all parts back to one — the compaction-time refresh. */
  def rebuildManifest(spark: SparkSession, dataDir: String,
      manifestPath: String): Unit = {
    val cols = manifestStatCols(spark, manifestPath)
    val bloomCols = manifestBloomCols(spark, manifestPath)
    val k = manifestBloomK(spark, manifestPath, bloomCols)
    // recovery above is eager (schema + one row); safe to overwrite
    writeManifest(spark, dataDir, manifestPath, cols, bloomCols,
      AutoBloomBits, k)
  }

  /** Box-intersection predicate over a manifest: keep files whose
    * [min, max] overlaps [lo, hi] in EVERY listed column. */
  def boxPredicate(bounds: Seq[(String, Any, Any)]): Column =
    bounds.map { case (c, lo, hi) =>
      col(s"${c}_max") >= lit(lo) && col(s"${c}_min") <= lit(hi)
    }.reduce(_ && _)

  /** Driver-side cast of a probe key to the bloom column's recorded data
    * type: xxhash64 hashes IntegerType and LongType (etc.) differently,
    * so probing with the literal's INFERRED type would silently miss
    * every file holding the key — a false-negative generator breaking
    * the no-false-negatives contract. A key that cannot be represented
    * in the column's type (cast fails or yields null) cannot match any
    * row, so it prunes everything (None). */
  private def typedKeyLiteral(v: Any, dt: DataType)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val l = Literal(v)
    if (l.dataType == dt) Some(l)
    else if (!Cast.canCast(l.dataType, dt)) None
    else try Option(Cast(l, dt, Some("UTC")).eval(null)).map(x => Literal(x, dt))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Key sets up to this size probe as an OR-chain of per-key
    * [[graft.functions.HashFunctions.bloomMightContain]] expressions
    * (readable plans, constant-folded hashes); larger sets switch to ONE
    * [[graft.functions.HashFunctions.bloomMightContainAny]] over an
    * array<long> literal of driver-hashed keys — the expression tree
    * stays O(1) in the key count, so a 100k-key lookup-join probe cannot
    * blow up codegen. */
  val OrChainMaxKeys: Int = 64

  /** Driver-side xxhash64 of a typed literal — the SAME expression the
    * manifest build applies per row ([[buildManifest]]'s
    * `xxhash64(col(c))`), so probe hashes match build hashes exactly. */
  private def xxhashOf(l: org.apache.spark.sql.catalyst.expressions.Literal): Long =
    new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(l))
      .eval(null).asInstanceOf[Long]

  /** Key-equality predicate over a manifest with a `<c>_bloom` column:
    * keep files whose filter MAY contain any of `keys` (bounded,
    * driver-side literals — a point/IN lookup or a collected lookup-join
    * key set; past [[OrChainMaxKeys]] the probe switches to one
    * array-literal [[graft.functions.HashFunctions.bloomMightContainAny]]
    * so the expression tree stays O(1) in the key count). No
    * false negatives, so pruning stays answer-transparent; expected
    * survivors ≈ (files holding a key) + fpp·files. The probe hash count
    * AND the key column's data type are read back from the manifest
    * (`bloom_k`, `<c>_bloom_dt`), so callers can neither drift from the
    * build-time configuration nor silently probe with a mistyped
    * literal — an Int key on a Long column is cast before hashing, and
    * an unrepresentable key prunes every file (it cannot match a row). */
  def keyLookupPredicate(spark: SparkSession, manifestPath: String,
      c: String, keys: Seq[Any]): Column = {
    require(keys.nonEmpty, "key lookup needs at least one key")
    require(manifestSchema(spark, manifestPath).fieldNames
        .contains(s"${c}_bloom"),
      s"manifest at $manifestPath has no bloom for '$c' " +
        s"(build it with bloomCols = Seq(\"$c\"))")
    def build(k: Int, dtOpt: Option[DataType]): Column = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.graft.ColumnBridge
      val lits: Seq[Literal] = dtOpt match {
        case Some(dt) => keys.flatMap(typedKeyLiteral(_, dt))
        case None => keys.map(Literal(_)) // pre-dt manifest: caller-typed literals
      }
      if (lits.isEmpty) lit(false) // no key representable in the column
      else if (lits.size <= OrChainMaxKeys)
        lits.map(v => graft.functions.HashFunctions
            .bloomMightContain(col(s"${c}_bloom"),
              xxhash64(ColumnBridge.column(v)), k))
          .reduce(_ || _)
      else {
        // big set: one array-literal probe per manifest row — hashes
        // computed driver-side with the build's own XxHash64
        val hashes = lits.map(xxhashOf)
        graft.functions.HashFunctions.bloomMightContainAny(
          col(s"${c}_bloom"),
          ColumnBridge.column(Literal.create(hashes,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType))), k)
      }
    }
    // build-constant fast path: k and the key column's data type from the
    // part footer's key-value slots — a driver read, where the row read
    // below schedules a whole Spark job for one constant
    val meta = manifestFooterMeta(spark, manifestPath)
    (meta.get(MetaBloomK), meta.get(metaBloomDt(c))) match {
      case (Some(k), Some(dt)) =>
        return build(k.toInt, Some(DataType.fromDDL(dt)))
      case _ => ()
    }
    val m = readManifest(spark, manifestPath)
    val dtField = s"${c}_bloom_dt"
    val hasDt = m.schema.fieldNames.contains(dtField)
    val sel = if (hasDt) m.select(col("bloom_k"), col(dtField))
      else m.select(col("bloom_k"))
    sel.limit(1).collect().headOption match {
      case None => lit(false) // empty manifest: nothing to keep
      case Some(r) =>
        build(r.getInt(0),
          if (hasDt) Some(DataType.fromDDL(r.getString(1))) else None)
    }
  }

  /** Read only the files of `dataDir` whose manifest row satisfies
    * `keep`. The result is a plain DataFrame over the surviving files —
    * callers apply their row-level filter on top (the manifest prunes,
    * it never answers). An empty survivor set returns an empty frame
    * with the directory's schema. */
  def prunedScan(spark: SparkSession, dataDir: String,
      manifest: DataFrame, keep: Column): DataFrame = {
    val files = manifest.filter(keep)
      .select(col("file")).collect().map(r => decodeFileUri(r.getString(0)))
    if (files.isEmpty) ParquetMeta.read(spark, Seq(dataDir)).filter(lit(false))
    else ParquetMeta.firstFileSparkSchema(spark, Seq(dataDir)) match {
      // schema from ONE footer of the dir (all files share one write's
      // schema); the surviving-file read then skips the inference job
      case Some(sch) => spark.read.schema(sch).parquet(files.toIndexedSeq: _*)
      case None => spark.read.parquet(files.toIndexedSeq: _*)
    }
  }
}
