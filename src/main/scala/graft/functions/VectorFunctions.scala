package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ArgMaxFloatDot, ColumnBridge, Dequantize8, FloatVectorDot, HyperplaneSignBits, Quantize8, QuantizedDot}

/** User-facing vector math over array<float> embedding columns.
  * Backed by native codegen'd expressions (org.apache.spark.sql.graft).
  */
object VectorFunctions {

  /** dot(a, b), accumulated in double. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatVectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm. */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Index of the centroid with the largest dot product against `a`,
    * ties -> lowest index. One native pass over the flattened float
    * model — the scalable coarse-quantizer assignment (see ArgMaxFloatDot
    * for the arithmetic contract that keeps it oracle-reproducible). */
  def argMaxDot(a: Column, centroids: Array[Array[Float]]): Column = {
    require(centroids.nonEmpty, "argMaxDot needs at least one centroid")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim), "centroids must share one dim")
    ColumnBridge.column(
      ArgMaxFloatDot(ColumnBridge.expression(a), centroids.flatten, dim))
  }

  /** Cosine similarity; null on zero norms instead of NaN. */
  def cosine(a: Column, b: Column): Column = cosine(a, b, vecNorm(a), vecNorm(b))

  /** [[cosine]] over precomputed norms: a pair loop whose norms were
    * computed once per vector pays a single dot product per pair. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column = {
    val n = normA * normB
    when(n =!= 0.0, vecDot(a, b) / n)
  }

  /** Random-hyperplane LSH signature (nPlanes sign bits packed in a long).
    * Deterministic planes derived from `seed`. */
  def hyperplaneBits(a: Column, dim: Int, nPlanes: Int, seed: Long): Column =
    ColumnBridge.column(
      HyperplaneSignBits(ColumnBridge.expression(a), planes(dim, nPlanes, seed), dim))

  /** Deterministic pseudo-random unit-ish hyperplanes, flattened row-major. */
  def planes(dim: Int, nPlanes: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes * dim)(rnd.nextGaussian())
  }

  /** Symmetric int8 quantization of an embedding: struct<scale, q:binary>,
    * 4x smaller than float32 at rest and on the shuffle wire; max
    * elementwise round-trip error scale/2. The bytes come from the
    * all-f64 clamp(floor(v / (max|v|/127) + 0.5)) formula any IEEE
    * engine reproduces bit-for-bit. */
  def quantize8(a: Column): Column =
    ColumnBridge.column(Quantize8(ColumnBridge.expression(a)))

  def dequantize8(a: Column): Column =
    ColumnBridge.column(Dequantize8(ColumnBridge.expression(a)))

  /** Cosine over quantize8 structs scored in the int8 domain (no
    * dequantization, so a quantized-index scan moves 1/4 the bytes of
    * float32). The scale factors cancel, leaving a pure integer cosine
    * over exact long dots: with one IEEE sqrt/division each, the double
    * result is bit-identical in any engine evaluating
    * dot_ab / (sqrt(dot_aa) * sqrt(dot_bb)). Null on zero norms, like
    * [[cosine]]. */
  def quantizedCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = ColumnBridge.column(
      QuantizedDot(ColumnBridge.expression(x), ColumnBridge.expression(y))).cast("double")
    val n = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(n =!= 0.0, dot(a, b) / n)
  }

  /** Reference implementation of vecDot via built-in higher-order
    * functions — used in tests to cross-check the native expression. */
  def vecDotBuiltin(a: Column, b: Column): Column =
    aggregate(
      // coalesce aligns the edge semantics with FloatVectorDot: zip_with
      // pads the shorter array with nulls, so coalescing each product to
      // 0 yields the partial dot over min(len(a), len(b)) — exactly what
      // the native kernel computes on a truncated vector (well-formed
      // equal-length inputs are unaffected; both paths accumulate
      // sequentially in double)
      zip_with(a, b, (x, y) => coalesce(x.cast("double") * y.cast("double"), lit(0.0))),
      lit(0.0),
      (acc, v) => acc + v)
}
