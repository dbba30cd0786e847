package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** Cross-checks of the native codegen'd expressions
  * (org.apache.spark.sql.graft) against independent models: the built-in
  * higher-order-function formulation for vecDot, plain-Scala
  * re-implementations for minhash / shingles.
  */
class ExpressionsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def hash(tok: String, seed: Long): Long =
    XXH64.hashUTF8String(UTF8String.fromString(tok), seed)

  test("native vecDot matches the built-in zip_with/aggregate formulation") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(200)
    val diff = emb
      .select(abs(VectorFunctions.vecDot(col("embedding"), col("embedding")) -
        VectorFunctions.vecDotBuiltin(col("embedding"), col("embedding"))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diff < 1e-9)
  }

  test("cosine is null on a zero-norm vector, never NaN") {
    import spark.implicits._
    val df = Seq((Array(0f, 0f), Array(1f, 2f))).toDF("a", "b")
    val r = df.select(VectorFunctions.cosine(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  private def toks(text: String): Array[String] =
    text.split(" ").filter(_.nonEmpty)

  test("word shingles match a plain-Scala sliding-window distinct") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val got = docs
      .select(col("text"),
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
      .collect()
    got.foreach { row =>
      val t = toks(row.getString(0))
      val expected =
        if (t.length < 3) Seq.empty
        else t.sliding(3).map(_.mkString(" ")).toSeq.distinct
      assert(row.getSeq[String](1) === expected)
    }
  }

  test("shinglesAll keeps every occurrence in document order") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val got = docs
      .select(col("text"),
        TextFunctions.shinglesAll(TextFunctions.tokens(col("text")), 2).as("sh"))
      .collect()
    var sawDuplicate = false
    got.foreach { row =>
      val t = toks(row.getString(0))
      val expected =
        if (t.length < 2) Seq.empty
        else t.sliding(2).map(_.mkString(" ")).toSeq
      assert(row.getSeq[String](1) === expected)
      if (expected.distinct.size < expected.size) sawDuplicate = true
    }
    // the corpus must actually exercise the multiset-vs-set difference
    assert(sawDuplicate, "no doc with a repeated bigram — test is vacuous")
  }

  test("minhash signature matches a plain-Scala model") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val sh = TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)
    val got = docs
      .select(col("text"), HashFunctions.minhashSignature(sh, 16).as("sig"))
      .collect()
    got.foreach { row =>
      val t = toks(row.getString(0))
      val grams =
        if (t.length < 3) Seq.empty
        else t.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val expected = (0 until 16).map { j =>
        if (grams.isEmpty) Long.MaxValue
        else grams.map(g => XXH64.hashLong(hash(g, 42L), j.toLong)).min
      }
      assert(row.getSeq[Long](1) === expected)
    }
  }

  test("int8 quantization round-trips within scale/2 per element and " +
    "preserves cosine to ~1%") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    val rows = emb.select(col("embedding"),
        VectorFunctions.dequantize8(
          VectorFunctions.quantize8(col("embedding"))).as("rt"),
        VectorFunctions.quantize8(col("embedding"))("scale").as("scale"),
        VectorFunctions.cosine(col("embedding"),
          VectorFunctions.dequantize8(
            VectorFunctions.quantize8(col("embedding")))).as("cos"))
      .collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](0)
      val rt = r.getSeq[Float](1)
      val scale = r.getFloat(2)
      assert(orig.length === rt.length)
      orig.lazyZip(rt).foreach { (a, b) =>
        assert(math.abs(a - b) <= scale / 2 + 1e-6, s"$a vs $b (scale $scale)")
      }
      assert(r.getDouble(3) > 0.99)
    }
  }

  test("quantize8/dequantize8 are callable from SQL") {
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
    val r = spark.sql(
      "SELECT dequantize8(quantize8(CAST(array(1.0, -2.0, 0.5) AS ARRAY<FLOAT>))) AS v")
      .head().getSeq[Float](0)
    assert(math.abs(r(1) + 2.0f) < 0.02)
  }

  test("gram_stats matches a plain-Scala multiset model") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val got = docs
      .select(col("doc_id"), col("text"),
        TextFunctions.gramStats(TextFunctions.tokens(col("text")), 2).as("g"))
      .select(col("doc_id"), col("text"),
        col("g.n_grams"), col("g.n_distinct"), col("g.top_count"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val t = toks(row.getString(1))
      val grams = t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size)
      assert(row.getLong(2) === grams.size.toLong, s"n_grams doc ${row.getLong(0)}")
      assert(row.getLong(3) === counts.size.toLong, s"n_distinct doc ${row.getLong(0)}")
      val top = if (counts.isEmpty) 0L else counts.values.max.toLong
      assert(row.getLong(4) === top, s"top_count doc ${row.getLong(0)}")
    }
  }

  test("gram_stats edge cases: short docs and degenerate repetition") {
    import spark.implicits._
    val df = Seq("one", "a a a a", "x y x y x").toDF("text")
      .select(TextFunctions.gramStats(TextFunctions.tokens(col("text")), 2).as("g"))
      .select(col("g.n_grams"), col("g.n_distinct"), col("g.top_count"))
      .collect()
    // fewer tokens than n -> all-zero stats, not null / negative
    assert(df(0).getLong(0) === 0L && df(0).getLong(1) === 0L && df(0).getLong(2) === 0L)
    // "a a a a": 3 occurrences of the single gram "a a"
    assert(df(1).getLong(0) === 3L && df(1).getLong(1) === 1L && df(1).getLong(2) === 3L)
    // "x y x y x": grams x-y, y-x, x-y, y-x -> 4 total, 2 distinct, top 2
    assert(df(2).getLong(0) === 4L && df(2).getLong(1) === 2L && df(2).getLong(2) === 2L)
  }

  test("hyperplane sign bits match a plain-Scala model") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val planes = VectorFunctions.planes(64, 16, 7L)
    val got = emb
      .select(col("embedding"),
        VectorFunctions.hyperplaneBits(col("embedding"), 64, 16, 7L).as("bits"))
      .collect()
    got.foreach { row =>
      val v = row.getSeq[Float](0)
      var expected = 0L
      (0 until 16).foreach { p =>
        val acc = (0 until math.min(v.length, 64))
          .map(i => v(i).toDouble * planes(p * 64 + i)).sum
        if (acc > 0) expected |= (1L << p)
      }
      assert(row.getLong(1) === expected)
    }
  }
}
