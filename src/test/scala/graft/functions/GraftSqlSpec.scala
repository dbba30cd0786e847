package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftFunctionRegistry, HashUtil}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** SQL surface: the native expressions registered through
  * GraftExtensions/GraftFunctionRegistry behave identically to the
  * Column API.
  */
class GraftSqlSpec extends SparkTestBase {

  GraftFunctionRegistry.register(spark)

  test("simhash64 is callable from SQL and matches the Column API") {
    val viaSql = spark.sql(
      "SELECT simhash64(array('the', 'quick', 'fox', 'the')) AS s").head().getLong(0)
    import spark.implicits._
    val viaCol = Seq(Seq("the", "quick", "fox", "the")).toDF("t")
      .select(HashFunctions.simhash(col("t"))).head().getLong(0)
    assert(viaSql === viaCol)
  }

  private def md5Low60(s: String): Long =
    HashUtil.md5Low60(UTF8String.fromString(s))

  test("SQL simhash64 equals the md5-low-60 vote model") {
    val toks = Seq("the", "quick", "brown", "fox", "the", "lazy", "dog")
    val got = spark.sql(
      s"SELECT simhash64(array(${toks.map(t => s"'$t'").mkString(", ")})) AS s")
      .head().getLong(0)
    val votes = new Array[Int](60)
    toks.foreach { t =>
      val h = md5Low60(t)
      (0 until 60).foreach(i => votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
    }
    val expected = (0 until 60).foldLeft(0L) {
      case (acc, i) => if (votes(i) > 0) acc | (1L << i) else acc
    }
    assert(got === expected)
  }

  test("SQL winnowing_fingerprints equals the md5 window-minima model") {
    val toks = (1 to 12).map(i => s"w$i")
    val got = spark.sql(
      s"SELECT winnowing_fingerprints(array(${toks.map(t => s"'$t'").mkString(", ")}), 3, 4)")
      .head().getSeq[Long](0)
    val gh = toks.sliding(3).map(g => md5Low60(g.mkString(" "))).toSeq
    val expected = gh.sliding(4).map(_.min).toSeq.distinct
    assert(got.sorted === expected.sorted)
  }

  test("SQL quantize8 equals the all-f64 floor(v / scale + 0.5) bytes") {
    // -0.98818898 sits on an f32 rounding tie (-125.5 after an f32
    // division by max|v| / 127), so an f32 quantizer rounds it elsewhere
    val r = spark.sql(
      """SELECT v, quantize8(v) AS q FROM (SELECT
        |  CAST(array(1.0, -0.98818898, 0.25, -0.5, 0.1) AS ARRAY<FLOAT>) AS v)""".stripMargin)
      .head()
    val vs = r.getSeq[Float](0)
    val scale = vs.map(v => math.abs(v.toDouble)).max / 127.0
    val expected = vs.map(v =>
      math.max(-127.0, math.min(127.0, math.floor(v.toDouble / scale + 0.5))).toByte)
    val q = r.getStruct(1)
    assert(q.getAs[Array[Byte]]("q").toSeq === expected)
    assert(q.getAs[Float]("scale") === scale.toFloat)
  }

  test("word_shingles and minhash_signature compose in SQL") {
    val row = spark.sql(
      """SELECT word_shingles(array('a','b','c','d'), 3) AS sh,
        |       minhash_signature(word_shingles(array('a','b','c','d'), 3), 8) AS sig
        |""".stripMargin).head()
    assert(row.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(row.getSeq[Long](1).length === 8)
  }

  test("float_vector_dot implicit-casts numeric arrays") {
    val got = spark.sql(
      "SELECT float_vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(got === 11.0)
  }

  test("minhash_signature rejects a non-literal k") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('x'), CAST(rand() * 4 AS INT))")
        .collect()
    }
    assert(e.getMessage.contains("literal integer"))
  }

  test("gram_stats is callable from SQL") {
    val row = spark.sql(
      "SELECT gram_stats(array('a','b','a','b'), 2) AS g").head().getStruct(0)
    assert(row.getLong(0) === 3L && row.getLong(1) === 2L && row.getLong(2) === 2L)
  }

  test("misra_gries and bloom functions compose in SQL") {
    val hh = spark.sql(
      """SELECT misra_gries(t, 8) AS mg
        |FROM (SELECT explode(array('x','y','x','z','x')) AS t)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(hh.head.getString(0) === "x" && hh.head.getLong(1) === 3L)

    val probe = spark.sql(
      """WITH b AS (
        |  SELECT bloom_filter_build(xxhash64(t), 4096, 3) AS bl
        |  FROM (SELECT explode(array('in1','in2')) AS t)
        |)
        |SELECT bloom_might_contain(bl, xxhash64('in1'), 3) AS hit,
        |       bloom_might_contain(bl, xxhash64('definitely-not'), 3) AS miss
        |FROM b""".stripMargin).head()
    assert(probe.getBoolean(0) === true)
    assert(probe.getBoolean(1) === false)

    val anyProbe = spark.sql(
      """WITH b AS (
        |  SELECT bloom_filter_build(xxhash64(t), 4096, 3) AS bl
        |  FROM (SELECT explode(array('in1','in2')) AS t)
        |)
        |SELECT bloom_might_contain_any(bl,
        |         array(xxhash64('nope'), xxhash64('in2')), 3) AS hit,
        |       bloom_might_contain_any(bl,
        |         array(xxhash64('no1'), xxhash64('no2')), 3) AS miss,
        |       bloom_might_contain_any(bl, array(), 3) AS empty
        |FROM b""".stripMargin).head()
    assert(anyProbe.getBoolean(0) === true)
    assert(anyProbe.getBoolean(1) === false)
    assert(anyProbe.getBoolean(2) === false, "an empty key set probes false")
  }
}
