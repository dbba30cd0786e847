package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Dedup

class WinnowingSpec extends SparkTestBase {

  private def fps(texts: String*): Seq[Seq[Long]] = {
    import spark.implicits._
    texts.toDF("text")
      .select(HashFunctions.winnowing(TextFunctions.tokens(col("text")), 3, 4))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
  }

  test("documents sharing a run of >= w+n-1 tokens share a fingerprint") {
    val shared = "alpha bravo charlie delta echo foxtrot" // 6 tokens = w+n-1
    val Seq(a, b) = fps(
      s"one two $shared three four five six seven",
      s"nine ten eleven twelve $shared thirteen")
    assert(a.toSet.intersect(b.toSet).nonEmpty)
  }

  test("unrelated documents share no fingerprints") {
    val Seq(a, b) = fps(
      "the quick brown fox jumps over the lazy dog today",
      "completely different words describing entirely other subject matter")
    assert(a.toSet.intersect(b.toSet).isEmpty)
  }

  test("fingerprint density is far below the gram count") {
    val doc = (1 to 200).map(i => s"tok$i").mkString(" ")
    val Seq(a) = fps(doc)
    val grams = 200 - 3 + 1
    assert(a.length < grams / 2, s"${a.length} of $grams grams selected")
    assert(a.nonEmpty)
  }

  test("winnowingPairs surfaces near-dup pairs and verifies exact Jaccard") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra tail tokens here"), // near-dup of 1
      (3L, (100 to 140).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.winnowingPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("portable gram hash equals the documented cross-engine md5 formula") {
    import org.apache.spark.unsafe.types.UTF8String
    // independent model: Spark's own built-ins computing the formula the
    // scaladoc documents for other engines (first 15 md5 hex chars, base 16)
    Seq("a b c", "hello world x", "tok1 tok2 tok3").foreach { s =>
      val expected = spark.sql(
        s"SELECT CAST(conv(substring(md5('$s'), 1, 15), 16, 10) AS BIGINT)")
        .head().getLong(0)
      assert(org.apache.spark.sql.graft.HashUtil.md5Low60(UTF8String.fromString(s))
        === expected, s)
    }
  }

  test("portable winnowing selects window minima of the md5 gram hash") {
    val doc = (1 to 50).map(i => s"w$i").mkString(" ")
    val Seq(got) = fps(doc)
    // independent model on the driver: md5-low-60 per gram, min per window
    val toks = doc.split(" ")
    val grams = toks.sliding(3).map(_.mkString(" ")).toArray
    val gh = grams.map(g => org.apache.spark.sql.graft.HashUtil.md5Low60(
      org.apache.spark.unsafe.types.UTF8String.fromString(g)))
    val expected = gh.sliding(4).map(_.min).toSeq.distinct
    assert(got.sorted === expected.sorted)
  }

  test("winnowing_fingerprints is callable from SQL") {
    org.apache.spark.sql.graft.GraftFunctionRegistry.register(spark)
    val n = spark.sql(
      "SELECT size(winnowing_fingerprints(array('a','b','c','d','e','f','g'), 3, 4)) AS n")
      .head().getInt(0)
    assert(n >= 1)
  }
}
