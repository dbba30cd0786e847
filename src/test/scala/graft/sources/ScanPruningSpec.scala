package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** File-level data skipping: manifest stats are exact, the pruned scan
  * reads only intersecting files (counted via inputFiles — structural,
  * not timed), and pruning is transparent to the query result.
  */
class ScanPruningSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val tmp = System.getProperty("java.io.tmpdir")
  private val zDir = s"$tmp/graft-test-prune-z"

  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select("l_orderkey", "l_partkey", "l_quantity")

  private lazy val written: Unit =
    Layout.zorderWrite(li, zDir, Seq("l_orderkey", "l_partkey"),
      bits = 10, files = 32)

  test("manifest carries exact per-file min/max and row counts") {
    written
    val m = ScanPruning.buildManifest(spark, zDir, Seq("l_orderkey", "l_partkey"))
      .collect()
    assert(m.length === 32)
    assert(m.map(_.getAs[Long]("n_rows")).sum === li.count())
    // spot-check one file's stats against a direct read of that file
    val row = m.head
    val one = spark.read.parquet(row.getString(0))
      .agg(min("l_orderkey"), max("l_orderkey")).head()
    assert(row.getAs[Long]("l_orderkey_min") === one.getLong(0))
    assert(row.getAs[Long]("l_orderkey_max") === one.getLong(1))
  }

  test("pruned scan reads a fraction of the files and the same answer") {
    written
    val manifest = ScanPruning.buildManifest(spark, zDir,
      Seq("l_orderkey", "l_partkey"))
    val b = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    val (oLo, oHi) = (b.getLong(0), b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2)
    val (pLo, pHi) = (b.getLong(2), b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 8)

    val rowFilter = col("l_orderkey").between(oLo, oHi) &&
      col("l_partkey").between(pLo, pHi)
    val pruned = ScanPruning.prunedScan(spark, zDir, manifest,
      ScanPruning.boxPredicate(Seq(
        ("l_orderkey", oLo, oHi), ("l_partkey", pLo, pHi))))

    val nFiles = pruned.inputFiles.length
    assert(nFiles < 32 && nFiles <= 12,
      s"z-order + manifest should skip most files, read $nFiles of 32")

    val got = pruned.filter(rowFilter)
      .agg(count(lit(1)), sum("l_quantity")).head()
    val want = spark.read.parquet(zDir).filter(rowFilter)
      .agg(count(lit(1)), sum("l_quantity")).head()
    assert(got === want)
    assert(got.getLong(0) > 0, "box must be non-empty for the test to mean anything")
  }

  test("pruning is answer-transparent for random boxes (boundary property)") {
    written
    val manifest = ScanPruning.buildManifest(spark, zDir,
      Seq("l_orderkey", "l_partkey")).cache()
    val b = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { trial =>
      // random boxes, including degenerate (lo == hi) and full-range ones;
      // bounds land ON file min/max values often enough to catch an
      // exclusive-comparison bug at the box edge
      def range(lo: Long, hi: Long): (Long, Long) = {
        val a = lo + math.abs(rnd.nextLong()) % (hi - lo + 1)
        val c = lo + math.abs(rnd.nextLong()) % (hi - lo + 1)
        (math.min(a, c), math.max(a, c))
      }
      val (oLo, oHi) = range(b.getLong(0), b.getLong(1))
      val (pLo, pHi) = range(b.getLong(2), b.getLong(3))
      val rowFilter = col("l_orderkey").between(oLo, oHi) &&
        col("l_partkey").between(pLo, pHi)
      val pruned = ScanPruning.prunedScan(spark, zDir, manifest,
        ScanPruning.boxPredicate(Seq(
          ("l_orderkey", oLo, oHi), ("l_partkey", pLo, pHi))))
        .filter(rowFilter).agg(count(lit(1)), sum("l_quantity")).head()
      val full = spark.read.parquet(zDir).filter(rowFilter)
        .agg(count(lit(1)), sum("l_quantity")).head()
      assert(pruned === full,
        s"trial $trial box=($oLo,$oHi)x($pLo,$pHi): pruning changed the answer")
    }
    manifest.unpersist()
  }

  test("key blooms prune a hash layout that min/max boxes cannot; no false negatives") {
    val hDir = s"$tmp/graft-test-prune-hash"
    li.repartition(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(hDir)
    val mPath = s"$tmp/graft-test-prune-hash-manifest"
    ScanPruning.writeManifest(spark, hDir, mPath,
      cols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    val manifest = spark.read.parquet(mPath)
    // pick 3 real keys + 1 absent one
    val present = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(3).collect().map(_.getLong(0)).toSeq
    val keys: Seq[Any] = present :+ -1L
    val pred = ScanPruning.keyLookupPredicate(spark, mPath, "l_orderkey", keys)
    val survivors = manifest.filter(pred).count()
    assert(survivors < 16, s"bloom should skip files on a hash layout, kept $survivors/16")
    // answer transparency: pruned scan + row filter == full scan + row filter
    val rowFilter = col("l_orderkey").isin(keys: _*)
    val got = ScanPruning.prunedScan(spark, hDir, manifest, pred)
      .filter(rowFilter).agg(count(lit(1)), sum("l_quantity")).head()
    val want = spark.read.parquet(hDir).filter(rowFilter)
      .agg(count(lit(1)), sum("l_quantity")).head()
    assert(got === want)
    assert(got.getLong(0) > 0, "present keys must be found (no false negatives)")
    // probe hash count is read back from the manifest, not guessed: a
    // manifest built with non-default k still probes correctly
    val m5Path = s"$tmp/graft-test-prune-hash-k3"
    ScanPruning.writeManifest(spark, hDir, m5Path,
      cols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"), bloomHashes = 3)
    val pred3 = ScanPruning.keyLookupPredicate(spark, m5Path, "l_orderkey", keys)
    val got3 = ScanPruning.prunedScan(spark, hDir, spark.read.parquet(m5Path), pred3)
      .filter(rowFilter).agg(count(lit(1)), sum("l_quantity")).head()
    assert(got3 === want)
  }

  test("probe keys are cast to the bloom column's recorded type (no false negatives from Int-vs-Long)") {
    val hDir = s"$tmp/graft-test-prune-typed"
    li.repartition(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(hDir)
    val mPath = s"$tmp/graft-test-prune-typed-manifest"
    ScanPruning.writeManifest(spark, hDir, mPath,
      cols = Nil, bloomCols = Seq("l_orderkey"))
    val present = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(2).collect().map(_.getLong(0))
    // the ADVICE case: Int literals probing a LongType column — xxhash64
    // hashes the two types differently, so an untyped probe would prune
    // every file holding the key and silently return missing rows
    val intKeys: Seq[Any] = present.map(_.toInt).toSeq
    val pred = ScanPruning.keyLookupPredicate(spark, mPath, "l_orderkey", intKeys)
    val got = ScanPruning.prunedScan(spark, hDir, spark.read.parquet(mPath), pred)
      .filter(col("l_orderkey").isin(present.toIndexedSeq: _*)).count()
    val want = spark.read.parquet(hDir)
      .filter(col("l_orderkey").isin(present.toIndexedSeq: _*)).count()
    assert(want > 0 && got === want,
      "Int keys on a Long column must find every row (typed probe)")
    // a key no row can hold (unrepresentable in the column's type) prunes
    // every file rather than erroring or scanning
    val bogus = ScanPruning.keyLookupPredicate(spark, mPath, "l_orderkey",
      Seq("not-a-number"))
    assert(spark.read.parquet(mPath).filter(bogus).count() === 0)
    // string keys on a string column keep working (identity type path)
    val sDir = s"$tmp/graft-test-prune-strcol"
    li.select(concat(lit("k"), col("l_orderkey")).as("sk"), col("l_quantity"))
      .repartition(4, col("sk")).write.mode("overwrite").parquet(sDir)
    val smPath = s"$tmp/graft-test-prune-strcol-manifest"
    ScanPruning.writeManifest(spark, sDir, smPath, cols = Nil, bloomCols = Seq("sk"))
    val sPred = ScanPruning.keyLookupPredicate(spark, smPath, "sk",
      Seq(s"k${present.head}"))
    val sGot = ScanPruning.prunedScan(spark, sDir, spark.read.parquet(smPath), sPred)
      .filter(col("sk") === s"k${present.head}").count()
    assert(sGot === li.filter(col("l_orderkey") === present.head).count())
  }

  test("a big key set (> OrChainMaxKeys) probes as ONE array literal with no false negatives") {
    val hDir = s"$tmp/graft-test-prune-bigset"
    li.repartition(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(hDir)
    val mPath = s"$tmp/graft-test-prune-bigset-manifest"
    ScanPruning.writeManifest(spark, hDir, mPath,
      cols = Nil, bloomCols = Seq("l_orderkey"))
    val present = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(ScanPruning.OrChainMaxKeys + 40)
      .collect().map(_.getLong(0)).toIndexedSeq
    assert(present.size > ScanPruning.OrChainMaxKeys,
      "fixture too small to exercise the array-probe path")
    val keys: Seq[Any] = present :+ -1L
    val pred = ScanPruning.keyLookupPredicate(spark, mPath, "l_orderkey", keys)
    // the probe is ONE expression regardless of key count
    val predExpr = org.apache.spark.sql.graft.ColumnBridge.expression(pred)
    assert(predExpr.collectLeaves().size <= 4,
      s"big-set probe must not be an OR-chain: ${predExpr.treeString.take(200)}")
    val rowFilter = col("l_orderkey").isin(keys: _*)
    val got = ScanPruning.prunedScan(spark, hDir, spark.read.parquet(mPath), pred)
      .filter(rowFilter).agg(count(lit(1)), sum("l_quantity")).head()
    val want = spark.read.parquet(hDir).filter(rowFilter)
      .agg(count(lit(1)), sum("l_quantity")).head()
    assert(got === want, "array-literal probe changed the answer")
    assert(got.getLong(0) > 0, "present keys must be found (no false negatives)")
    // small sets keep the OR-chain (readable plans, constant-folded hashes)
    val small = ScanPruning.keyLookupPredicate(spark, mPath, "l_orderkey",
      present.take(3))
    val smallExpr =
      org.apache.spark.sql.graft.ColumnBridge.expression(small).toString
    assert(smallExpr.contains("bloom_might_contain") &&
      !smallExpr.contains("bloom_might_contain_any"))
  }

  test("auto-sized blooms keep pruning at a million-key file; a fixed 8 KB filter saturates") {
    val dir = s"$tmp/graft-test-prune-bigbloom"
    // 2 files x 1M distinct keys each, disjoint ranges but HASH layout
    // within is irrelevant — blooms are the only pruning signal probed
    spark.range(0L, 2000000L).selectExpr("id AS k")
      .repartitionByRange(2, col("k")) // two non-empty ~1M-key files
      .write.mode("overwrite").parquet(dir)
    val mAuto = s"$tmp/graft-test-prune-bigbloom-auto"
    ScanPruning.writeManifest(spark, dir, mAuto, cols = Nil, bloomCols = Seq("k"))
    // auto sizing: 1M rows/file -> 10M bits -> 2^24 (2 MB), recorded size
    val bytes = spark.read.parquet(mAuto).select(col("k_bloom")).head()
      .getAs[Array[Byte]](0).length
    assert(bytes === (1 << 24) / 8, s"expected 2^24-bit auto filter, got ${bytes * 8} bits")
    // a present key survives exactly its file; an absent key prunes both
    val pPresent = ScanPruning.keyLookupPredicate(spark, mAuto, "k", Seq(123456L))
    assert(spark.read.parquet(mAuto).filter(pPresent).count() === 1L,
      "auto-sized bloom must keep only the key's file at 1M keys/file")
    val pAbsent = ScanPruning.keyLookupPredicate(spark, mAuto, "k", Seq(-5L))
    assert(spark.read.parquet(mAuto).filter(pAbsent).count() === 0L)
    // the saturation counterfactual: the old fixed 8 KB default at the
    // same scale keeps every file even for an absent key (fpp -> 1)
    val mFixed = s"$tmp/graft-test-prune-bigbloom-fixed"
    ScanPruning.writeManifest(spark, dir, mFixed, cols = Nil,
      bloomCols = Seq("k"), bloomBits = ScanPruning.DefaultBloomBits)
    val pSat = ScanPruning.keyLookupPredicate(spark, mFixed, "k", Seq(-5L))
    assert(spark.read.parquet(mFixed).filter(pSat).count() === 2L,
      "fixed 8 KB filter should saturate at 1M keys/file (motivates auto sizing)")
  }

  test("appendManifest writes one NEW part and never rewrites existing parts (O(batch) contract)") {
    val aDir = s"$tmp/graft-test-prune-mp-a"
    val bDir = s"$tmp/graft-test-prune-mp-b"
    li.filter(col("l_orderkey") % 2 === 0).write.mode("overwrite").parquet(aDir)
    li.filter(col("l_orderkey") % 2 === 1).write.mode("overwrite").parquet(bDir)
    val mPath = s"$tmp/graft-test-prune-mp-manifest"
    ScanPruning.writeManifest(spark, aDir, mPath,
      cols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    val fsys = new org.apache.hadoop.fs.Path(mPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts() = fsys.listStatus(new org.apache.hadoop.fs.Path(mPath))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getModificationTime, st.getLen)).sortBy(_._1)
    val before = parts()
    assert(before.length === 1)
    ScanPruning.appendManifest(spark, mPath, bDir)
    val after = parts()
    assert(after.length === 2, "append must add exactly one part")
    assert(after.filter(_._1 == before.head._1).toSeq === before.toSeq,
      "append must not touch (rewrite, grow, or re-stamp) the existing part")
    // union read covers both dirs; entries are per-file and exact
    val m = spark.read.parquet(mPath)
    assert(m.agg(sum("n_rows")).head().getLong(0) === li.count())
    // replayed append REPLACES its own part (same tag), never duplicates
    ScanPruning.appendManifest(spark, mPath, bDir)
    val replayed = parts()
    assert(replayed.length === 2)
    val files = spark.read.parquet(mPath).select("file").collect().map(_.getString(0))
    assert(files.distinct.length === files.length, "no stale/duplicate entries after replay")
    // rebuild folds the parts back to one with the same config
    ScanPruning.rebuildManifest(spark, aDir, mPath)
    assert(parts().length === 1)
    assert(ScanPruning.manifestBloomCols(spark, mPath) === Seq("l_orderkey"))
  }

  test("decodeFileUri round-trips encoded specials and tolerates raw paths") {
    assert(ScanPruning.decodeFileUri("file:/a/teste%20TRE%20S%C3%A3o.csv") ==
      "/a/teste TRE São.csv")
    assert(ScanPruning.decodeFileUri("file:///a/b%25c.csv") == "/a/b%c.csv")
    // unencoded specials (not URI-parseable): best-effort scheme strip
    assert(ScanPruning.decodeFileUri("file:/a/plain path.csv") == "/a/plain path.csv")
    assert(ScanPruning.decodeFileUri("/no/scheme.csv") == "/no/scheme.csv")
  }

  test("empty intersection returns an empty frame with the data schema") {
    written
    val manifest = ScanPruning.buildManifest(spark, zDir, Seq("l_orderkey"))
    val out = ScanPruning.prunedScan(spark, zDir, manifest,
      ScanPruning.boxPredicate(Seq(("l_orderkey", -100L, -1L))))
    assert(out.count() === 0)
    assert(out.columns.toSeq === spark.read.parquet(zDir).columns.toSeq)
  }

  test("footer-built stats manifest equals the aggregate scan's, incl. nulls and the non-integral fallback") {
    // integral (long, with an all-null slice) + string stat columns: the
    // persisted writer takes the parquet-footer fast path for the former
    // and must fall back to the one-pass aggregate for the latter — both
    // with entries identical to buildManifest's scan, which is the
    // ground truth the footer path must reproduce EXACTLY
    val dir = s"$tmp/graft-test-prune-footer"
    val mLong = s"$tmp/graft-test-prune-footer-mlong"
    val mStr = s"$tmp/graft-test-prune-footer-mstr"
    import spark.implicits._
    val df = (1L to 4000L).map(i =>
        (i, if (i % 3 == 0) null else s"name_$i",
          if (i <= 2000) java.lang.Long.valueOf(i * 7) else null))
      .toDF("id", "name", "maybe")
      .repartitionByRange(4, col("id"))
    df.write.mode("overwrite").parquet(dir)
    def persisted(mPath: String, cols: Seq[String]) = {
      ScanPruning.writeManifest(spark, dir, mPath, cols)
      spark.read.parquet(mPath).collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
          r.toSeq.tail)).toMap
    }
    def scanned(cols: Seq[String]) =
      ScanPruning.buildManifest(spark, dir, cols).collect()
        .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
          r.toSeq.tail)).toMap
    // long columns (one holding an all-null file): footer path, row-identical
    assert(persisted(mLong, Seq("id", "maybe")) === scanned(Seq("id", "maybe")))
    // a string column cannot ride footer stats: fallback, still identical
    assert(persisted(mStr, Seq("id", "name")) === scanned(Seq("id", "name")))
    // and the footer-built manifest prunes transparently
    val m = spark.read.parquet(mLong)
    val pruned = ScanPruning.prunedScan(spark, dir, m,
      ScanPruning.boxPredicate(Seq(("id", 1L, 1000L))))
    assert(pruned.inputFiles.length < 4)
    assert(pruned.filter(col("id").between(1L, 1000L)).count() === 1000L)
  }
}
