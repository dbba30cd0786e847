package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension exposing the graft native expressions to SQL:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions ...
  *   SELECT simhash64(word_tokens), minhash_signature(shingles, 64), ...
  * }}}
  *
  * or imperatively on an existing session via
  * [[GraftFunctionRegistry.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctionRegistry.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => CollapseRedundantRound)
  }
}

object GraftFunctionRegistry {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  private def info(clazz: Class[_], name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "built-in")

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info(classOf[SimHash64], "simhash64",
        "simhash64(tokens) - SimHash (md5-low-60 token votes) of an array<string>."),
      (args: Seq[Expression]) => SimHash64(args.head)),
    (FunctionIdentifier("minhash_signature"),
      info(classOf[MinHashSignature], "minhash_signature",
        "minhash_signature(shingles, k) - k-element MinHash signature."),
      (args: Seq[Expression]) =>
        MinHashSignature(args.head, intArg(args(1), "minhash_signature"))),
    (FunctionIdentifier("word_shingles"),
      info(classOf[WordShingles], "word_shingles",
        "word_shingles(tokens, n) - distinct word n-grams."),
      (args: Seq[Expression]) =>
        WordShingles(args.head, intArg(args(1), "word_shingles"))),
    (FunctionIdentifier("float_vector_dot"),
      info(classOf[FloatVectorDot], "float_vector_dot",
        "float_vector_dot(a, b) - dot product of two array<float>."),
      (args: Seq[Expression]) => FloatVectorDot(args.head, args(1))),
    (FunctionIdentifier("quantize8"),
      info(classOf[Quantize8], "quantize8",
        "quantize8(vec) - int8-quantize an array<float> to struct<scale, q>."),
      (args: Seq[Expression]) => Quantize8(args.head)),
    (FunctionIdentifier("dequantize8"),
      info(classOf[Dequantize8], "dequantize8",
        "dequantize8(s) - struct<scale, q> back to array<float>."),
      (args: Seq[Expression]) => Dequantize8(args.head)),
    (FunctionIdentifier("winnowing_fingerprints"),
      info(classOf[WinnowingFingerprints], "winnowing_fingerprints",
        "winnowing_fingerprints(tokens, n, w) - rolling-hash fingerprints."),
      (args: Seq[Expression]) =>
        WinnowingFingerprints(args.head, intArg(args(1), "winnowing_fingerprints"),
          intArg(args(2), "winnowing_fingerprints"))),
    (FunctionIdentifier("topk_by"),
      info(classOf[TopKByScore], "topk_by",
        "topk_by(score, payload, k) - top-k payloads by descending score."),
      (args: Seq[Expression]) =>
        TopKByScore(args.head, args(1), intArg(args(2), "topk_by"))),
    (FunctionIdentifier("gram_stats"),
      info(classOf[GramStats], "gram_stats",
        "gram_stats(tokens, n) - struct<n_grams, n_distinct, top_count> " +
          "word-n-gram multiplicity stats in one pass."),
      (args: Seq[Expression]) =>
        GramStats(args.head, intArg(args(1), "gram_stats"))),
    (FunctionIdentifier("misra_gries"),
      info(classOf[MisraGries], "misra_gries",
        "misra_gries(item, capacity) - heavy-hitters summary as " +
          "array<struct<item, cnt>>; exact while distinct <= capacity."),
      (args: Seq[Expression]) =>
        MisraGries(args.head, intArg(args(1), "misra_gries"))),
    (FunctionIdentifier("bloom_filter_build"),
      info(classOf[BloomFilterAgg], "bloom_filter_build",
        "bloom_filter_build(hash, numBits, numHashes) - bloom filter bytes " +
          "over a pre-hashed long column."),
      (args: Seq[Expression]) =>
        BloomFilterAgg(args.head, intArg(args(1), "bloom_filter_build"),
          intArg(args(2), "bloom_filter_build"))),
    (FunctionIdentifier("interleave_bits"),
      info(classOf[InterleaveBits], "interleave_bits",
        "interleave_bits(c1, ..., cN, bits) - Morton/Z-order key: " +
          "interleave the low `bits` bits of N long bucket columns."),
      (args: Seq[Expression]) =>
        InterleaveBits(args.init, intArg(args.last, "interleave_bits"))),
    (FunctionIdentifier("bloom_might_contain"),
      info(classOf[BloomMightContain], "bloom_might_contain",
        "bloom_might_contain(bloom, hash, numHashes) - may-contain probe " +
          "of a bloom_filter_build filter."),
      (args: Seq[Expression]) =>
        BloomMightContain(args.head, args(1), intArg(args(2), "bloom_might_contain"))),
    (FunctionIdentifier("bloom_might_contain_any"),
      info(classOf[BloomMightContainAny], "bloom_might_contain_any",
        "bloom_might_contain_any(bloom, hashes, numHashes) - true when ANY " +
          "hash of an array<long> key set may be in the filter; one " +
          "expression regardless of key count (empty set probes false)."),
      (args: Seq[Expression]) =>
        BloomMightContainAny(args.head, args(1),
          intArg(args(2), "bloom_might_contain_any"))),
  )

  /** Imperative registration on an already-built session (tests, REPL). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    descriptors.foreach { case (id, fnInfo, builder) =>
      registry.registerFunction(id, fnInfo, builder)
    }
  }
}
