package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Library hardening: every operator must degrade to an EMPTY result on
  * an empty input, never throw. An empty partition list is the normal
  * state of a freshly-partitioned production table (today's partition
  * before data lands), so "no rows" is a first-class input, not an edge
  * case.
  */
class EmptyInputSpec extends SparkTestBase {

  private def emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))

  private def emptyEmb = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))))

  private def emptyPairs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))))

  test("dedup operators return empty on an empty corpus") {
    assert(Dedup.exactKeepers(emptyDocs).count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, 0.2).count() == 0)
    assert(Dedup.minhashPairs(emptyDocs, 0.9).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    assert(Dedup.winnowingPairs(emptyDocs, 0.5).count() == 0)
    assert(Dedup.connectedComponents(emptyPairs).count() == 0)
  }

  test("incremental dedup with empty history keeps the whole batch; empty batch is empty") {
    import spark.implicits._
    val emptyFps = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("fp", StringType))))
    // both inputs carry the documented `fp` column
    val batch = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
      .withColumn("fp", md5(col("text")))
    assert(Dedup.incrementalDups(emptyFps, batch).count() == 0) // nothing is a dup
    assert(Dedup.incrementalDups(emptyFps, batch.limit(0)).count() == 0)
  }

  test("similarity operators return empty on an empty embedding table") {
    assert(Similarity.bruteForceTopK(emptyEmb, queryVecId = 1L, k = 5).count() == 0)
    assert(Similarity.semanticDupPairs(emptyEmb, 0.4).count() == 0)
    assert(Similarity.tiledNearDupPairs(emptyEmb, 0.9).count() == 0)
    assert(Similarity.bandedNearDupPairs(emptyEmb, 0.9).count() == 0)
    assert(Similarity.knnGraphWithinBlocks(emptyEmb, "label", 3).count() == 0)
  }

  test("query-style ops state their contract when the query id is absent") {
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emptyEmb, queryVecId = 42L, k = 5)
    }
    assert(e.getMessage.contains("vec_id=42"))
  }

  test("shard packing of an empty corpus is an empty manifest") {
    import spark.implicits._
    val df = Seq((1L, 10L)).toDF("doc_id", "w").limit(0)
    assert(Packing.packShards(df, col("doc_id"), col("w"), budget = 100L).count() == 0)
  }

  test("versioning degrades to identity/empty on empty sides") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "fp")
    val none = snap.limit(0)
    // empty old -> everything added; empty new -> everything removed
    assert(Versioning.diffSnapshots(none, snap, "id", "fp")
      .filter(col("change_type") === "added").count() == 2)
    assert(Versioning.diffSnapshots(snap, none, "id", "fp")
      .filter(col("change_type") === "removed").count() == 2)
    assert(Versioning.diffSnapshots(none, none, "id", "fp").count() == 0)
    // empty batch is a no-op; empty corpus becomes the batch
    assert(Versioning.upsert(snap, none, "id").count() == 2)
    assert(Versioning.upsert(none, snap, "id").count() == 2)
    // empty history opens the snapshot; empty snapshot closes everything
    val ts = "2026-02-01 00:00:00"
    val hist = snap.withColumn("valid_from", lit("2026-01-01 00:00:00").cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    assert(Versioning.scd2Apply(hist.limit(0), snap, "id", "fp", ts)
      .filter(col("valid_to").isNull).count() == 2)
    assert(Versioning.scd2Apply(hist, none, "id", "fp", ts)
      .filter(col("valid_to").isNotNull).count() == 2)
  }

  test("z-order write and manifest pruning handle an empty table") {
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test-z-empty"
    val none = Seq((1L, 2L)).toDF("a", "b").limit(0)
    graft.sources.Layout.zorderWrite(none, dir, Seq("a", "b"), bits = 4, files = 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == 0)
    val manifest = graft.sources.ScanPruning.buildManifest(spark, dir, Seq("a"))
    assert(graft.sources.ScanPruning.prunedScan(spark, dir, manifest,
      graft.sources.ScanPruning.boxPredicate(Seq(("a", 0L, 10L)))).count() == 0)
  }
}
