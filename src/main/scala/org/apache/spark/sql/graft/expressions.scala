package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Column <-> catalyst Expression bridge. Lives under org.apache.spark.sql
  * because the Spark 4 conversion utilities are private[sql]; this is the
  * conventional shim for session-extension libraries and touches no Spark
  * internals beyond the two public-bytecode helpers.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Codegen'd dot product over two array<float> columns, accumulated in
  * double with per-element float->double promotion (bit-compatible with
  * DuckDB list_dot_product over DOUBLE[]-cast lists, which keeps the
  * similarity oracles exact).
  *
  * Reads UnsafeArrayData directly inside whole-stage codegen — no boxing,
  * no UDF serialization — so brute-force cosine scans stay CPU-bound at
  * scale. See graft.functions.VectorFunctions for the user-facing API.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd argmax-dot cluster assignment: the index of the centroid
  * with the largest dot product against the input vector, ties -> lowest
  * index. `cents` is the flattened (c x dim) FLOAT-cast centroid model
  * baked into the plan as one reference object.
  *
  * This is THE coarse-quantizer primitive at scale: one tight c x dim
  * loop per row, no per-centroid array allocation, generated-code size
  * constant in c. The two Column-algebra formulations it supersedes both
  * fail at scale in different ways — unrolling c `float_vector_dot`
  * calls duplicates the dots array across array_position/array_max and
  * blows past JIT/codegen method limits even at c=16 (measured: the
  * assignment scan dominated every IVF probe at 200k vectors), and the
  * higher-order zip_with/aggregate form allocates a dim-length array per
  * centroid per row (measured: c=1600 over 200k rows spent minutes in
  * allocation). Both remain as package-private test references;
  * SimilaritySpec asserts all three assign identically.
  *
  * Arithmetic contract (the pinned-model oracle depends on it): each dot
  * accumulates sequentially in double over float->double promotions —
  * exactly [[FloatVectorDot]] over the float-cast model — and the strict
  * `>` comparison keeps the FIRST maximum, matching both
  * `array_position(dots, array_max(dots))` and the DuckDB oracle's
  * `row_number() OVER (ORDER BY dot DESC, cluster_id)`.
  */
case class ArgMaxFloatDot(child: Expression, cents: Array[Float], dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  // dim first: nCents divides by it, and a zero dim must fail with this
  // message, not a bare ArithmeticException out of the field initializer
  require(dim >= 1, s"dim must be >= 1, got $dim")
  private val nCents = cents.length / dim
  require(nCents >= 1 && cents.length == nCents * dim,
    "cents must be a non-empty flattened (c x dim) matrix")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmax_float_dot"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    var best = Double.NegativeInfinity
    var bestNaN = false
    var bestIdx = 0
    var c = 0
    while (c < nCents) {
      var acc = 0.0
      var i = 0
      val off = c * dim
      while (i < n) { acc += x.getFloat(i).toDouble * cents(off + i).toDouble; i += 1 }
      // NaN ranks GREATEST (first NaN wins), matching Spark's double
      // ordering in array_max/array_position and DuckDB's ORDER BY dot
      // DESC — a plain `>` would silently skip NaN dots and break the
      // bit-identical-assignment invariant vs the reference bodies
      val accNaN = java.lang.Double.isNaN(acc)
      if (!bestNaN && (accNaN || acc > best)) {
        best = acc; bestNaN = accNaN; bestIdx = c
      }
      c += 1
    }
    bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "float[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val best = ctx.freshName("best")
      val bestNaN = ctx.freshName("bestNaN")
      val bestIdx = ctx.freshName("bestIdx")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val accNaN = ctx.freshName("accNaN")
      val off = ctx.freshName("off")
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $dim);
         |double $best = java.lang.Double.NEGATIVE_INFINITY;
         |boolean $bestNaN = false;
         |int $bestIdx = 0;
         |for (int $c = 0; $c < $nCents; $c++) {
         |  double $acc = 0.0;
         |  final int $off = $c * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $x.getFloat($i) * (double) $centsRef[$off + $i];
         |  }
         |  // NaN ranks greatest, first NaN wins (mirrors nullSafeEval)
         |  final boolean $accNaN = java.lang.Double.isNaN($acc);
         |  if (!$bestNaN && ($accNaN || $acc > $best)) {
         |    $best = $acc; $bestNaN = $accNaN; $bestIdx = $c;
         |  }
         |}
         |${ev.value} = $bestIdx;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd random-hyperplane signature: packs the signs of `planes` dot
  * products into the low bits of a long. `planes` is a flattened
  * (nPlanes x dim) double array baked into the plan as a literal — the
  * LSH bucketing primitive for cosine ANN (one pass, no explode).
  */
case class HyperplaneSignBits(child: Expression, planes: Array[Double], dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ImplicitCastInputTypes {

  private val nPlanes = planes.length / dim
  require(nPlanes >= 1 && nPlanes <= 64, "1..64 hyperplanes fit a long")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sign_bits"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      var i = 0
      val off = p * dim
      while (i < n) { acc += x.getFloat(i).toDouble * planes(off + i); i += 1 }
      if (acc > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val bits = ctx.freshName("bits")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $dim);
         |long $bits = 0L;
         |for (int $p = 0; $p < $nPlanes; $p++) {
         |  double $acc = 0.0;
         |  final int off = $p * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $x.getFloat($i) * $planesRef[off + $i];
         |  }
         |  if ($acc > 0) $bits |= (1L << $p);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Tight-loop kernels shared by interpreted eval and generated Java (the
  * Scala object emits static forwarders, so codegen calls them directly).
  * SimHash, winnowing and int8 quantization each have ONE kernel, the
  * form any SQL engine recomputes bit for bit (md5-low-60 hashes, all-f64
  * arithmetic), so the registered queries carry full DuckDB oracles.
  */
object HashUtil {

  /** SimHash over per-occurrence token votes: bit i is set when the count
    * of tokens whose [[md5Low60]] hash has bit i minus the count without
    * it is positive. Per-occurrence ±1 votes are exactly the classic
    * per-distinct-token frequency weighting, without building the
    * frequency map. Bits 60-63 are never set, which also keeps the
    * signature positive in engines without unsigned longs. Any engine
    * with md5 and integer bit ops reproduces the signature — and
    * therefore the hamming-<=k pair set — bit-for-bit. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        val h = md5Low60(arr.getUTF8String(k))
        var i = 0
        while (i < 60) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      k += 1
    }
    var bits = 0L
    var i = 0
    while (i < 60) { if (votes(i) > 0) bits |= (1L << i); i += 1 }
    bits
  }

  /** MinHash signature: each shingle is hashed once (xxhash64, seed 42),
    * then the j-th permutation is the cheap per-long remix
    * xxhash64(base, seed=j) — one string pass + numHashes long mixes per
    * shingle instead of numHashes full string hashes.
    */
  def minhashSignature(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        val base = XXH64.hashUTF8String(arr.getUTF8String(k), 42L)
        var j = 0
        while (j < numHashes) {
          val h = XXH64.hashLong(base, j.toLong)
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) over
    * the token stream: hash every n-token gram (n tokens joined by one
    * space — the exact WordShingles text) with [[md5Low60]], then select
    * the minimum hash in each window of w consecutive grams (ties ->
    * rightmost), deduplicating repeated selections. Guarantee: documents
    * sharing a run of >= w + n - 1 tokens share at least one
    * fingerprint. Any engine with md5 reproduces the fingerprint set
    * bit-for-bit (DuckDB: min-over-window of
    * CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT)), which is what
    * lets a winnowing dedup carry a cross-engine oracle. */
  def winnowing(arr: ArrayData, n: Int, w: Int): ArrayData = {
    val num = arr.numElements()
    val m = num - n + 1
    if (m < 1) return new GenericArrayData(Array.empty[Any])
    val space = UTF8String.fromString(" ")
    val gh = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      gh(i) = md5Low60(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    selectWindowMinima(gh, w)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s) as a non-negative long — numerically equal
    * to parsing the first 15 hex chars of the digest base-16, the same
    * portable bucket formula as graft.operators.Sampling. */
  def md5Low60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Min hash value per window of w consecutive grams (ties -> rightmost
    * position), deduplicating repeated selections. The emitted set is
    * exactly the distinct window-minimum VALUES — position tie-breaks
    * only suppress re-adds, so `SELECT DISTINCT min-over-window` in any
    * SQL engine reproduces it. */
  private def selectWindowMinima(gh: Array[Long], w: Int): ArrayData = {
    val m = gh.length
    val selected = new java.util.LinkedHashSet[java.lang.Long]()
    var lastPick = -1
    var i = 0
    val windows = math.max(1, m - w + 1)
    while (i < windows) {
      var minPos = i
      var j = i
      val end = math.min(i + w, m)
      while (j < end) { if (gh(j) <= gh(minPos)) minPos = j; j += 1 }
      if (minPos != lastPick) { selected.add(gh(minPos)); lastPick = minPos }
      i += 1
    }
    new GenericArrayData(selected.toArray())
  }

  /** Whitespace tokens of a string, empty tokens dropped — the base of
    * every text operator, so it must not pay interpreted-lambda costs. */
  def whitespaceTokens(text: UTF8String): ArrayData = {
    val parts = text.split(UTF8String.fromString(" "), -1)
    val out = new java.util.ArrayList[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).numBytes() > 0) out.add(parts(i))
      i += 1
    }
    new GenericArrayData(out.toArray())
  }

  /** Symmetric int8 quantization: scale = max|v| / 127 (1 when the
    * vector is all-zero), bytes = round(v / scale) clamped to [-127, 127].
    * All arithmetic in f64 (float inputs widen exactly), rounding spelled
    * floor(x + 0.5) — every step is a single correctly-rounded IEEE op,
    * so any engine computing clamp(floor(v / (max|v| / 127.0) + 0.5))
    * over CAST(v AS DOUBLE) reproduces the bytes bit-for-bit (DuckDB:
    * list_transform + GREATEST/LEAST/FLOOR). The stored scale is the f64
    * value narrowed to f32 for the struct; cosine scoring cancels it
    * anyway. */
  def quantize8(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(arr.getFloat(i).toDouble)
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
    val q = new Array[Byte](n)
    i = 0
    while (i < n) {
      val r = math.floor(arr.getFloat(i).toDouble / scale + 0.5)
      q(i) = math.max(-127.0, math.min(127.0, r)).toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(scale.toFloat, q)
  }

  /** Integer MAC over two quantized byte vectors, WITHOUT the scale
    * product — exact in long (64 * 127^2 << 2^63). Cosine over these dots
    * cancels the scales, and it is bit-for-bit reproducible across
    * engines (integer inputs, one IEEE div/sqrt each), which is what the
    * quantized top-k oracle needs. */
  def quantizedDot(a: org.apache.spark.sql.catalyst.InternalRow,
      b: org.apache.spark.sql.catalyst.InternalRow): Long = {
    val qa = a.getBinary(1)
    val qb = b.getBinary(1)
    val n = math.min(qa.length, qb.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += qa(i).toLong * qb(i).toLong; i += 1 }
    acc
  }

  def dequantize8(scale: Float, q: Array[Byte]): ArrayData = {
    val out = new Array[Float](q.length)
    var i = 0
    while (i < q.length) { out(i) = q(i) * scale; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ALL word n-gram occurrences (n consecutive tokens joined by one
    * space) in document order — the occurrence-counting input for
    * collocation/PMI statistics, where multiplicity matters; empty when
    * fewer than n tokens. */
  def wordShinglesAll(arr: ArrayData, n: Int): ArrayData = {
    val num = arr.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](num - n + 1)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= num - n) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-grams (n consecutive tokens joined by one space),
    * first-occurrence order; empty when fewer than n tokens. */
  def wordShingles(arr: ArrayData, n: Int): ArrayData = {
    val num = arr.numElements()
    if (num < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= num - n) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray())
  }

  /** Per-document word-n-gram multiplicity stats in one pass:
    * (total occurrences, distinct grams, count of the most frequent gram).
    * The building block for Gopher-style repetition filters — computed
    * in-row, so the repetition metrics of a corpus need NO per-gram
    * shuffle (the explode+groupBy(doc, gram) formulation moves every gram
    * occurrence through an exchange; this moves three longs per doc).
    */
  def gramStats(arr: ArrayData, n: Int): InternalRow = {
    val num = arr.numElements()
    val total = num - n + 1
    if (total <= 0) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[UTF8String, Integer]()
    val space = UTF8String.fromString(" ")
    var top = 0
    var i = 0
    while (i < total) {
      val parts = new Array[UTF8String](n)
      var k = 0
      while (k < n) { parts(k) = arr.getUTF8String(i + k); k += 1 }
      val g = UTF8String.concatWs(space, parts: _*)
      val prev = counts.getOrDefault(g, Integer.valueOf(0)).intValue() + 1
      counts.put(g, Integer.valueOf(prev))
      if (prev > top) top = prev
      i += 1
    }
    new GenericInternalRow(Array[Any](total.toLong, counts.size.toLong, top.toLong))
  }
}

/** Codegen'd whitespace tokenization (split on single spaces, empties
  * dropped) — replaces filter(split(text, " "), t -> t <> ""), whose
  * per-token lambda evaluates interpretively under every text operator.
  */
case class WhitespaceTokens(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "whitespace_tokens"

  override def nullSafeEval(a: Any): Any =
    HashUtil.whitespaceTokens(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.whitespaceTokens($x);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd symmetric int8 quantization of an array<float> embedding:
  * returns struct<scale: float, q: binary> with q[i] =
  * round(v[i] / scale) clamped to [-127, 127] and scale = max|v| / 127,
  * computed in f64 so any IEEE engine reproduces the bytes (see
  * [[HashUtil.quantize8]]). 4x smaller at rest and on the shuffle wire
  * than float32 — the storage/bandwidth half of an IVF-quantized ANN
  * index. Dequantize with [[Dequantize8]]; max elementwise round-trip
  * error is scale / 2.
  */
case class Quantize8(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("q", BinaryType, nullable = false)))
  override def prettyName: String = "quantize8"

  override def nullSafeEval(a: Any): Any = HashUtil.quantize8(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.quantize8($x);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Inverse of [[Quantize8]]: struct<scale, q> back to array<float>. */
case class Dequantize8(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("q", BinaryType, nullable = false))))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "dequantize8"

  override def nullSafeEval(a: Any): Any = {
    val row = a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    HashUtil.dequantize8(row.getFloat(0), row.getBinary(1))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.dequantize8($x.getFloat(0), $x.getBinary(1));")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd dot product of two [[Quantize8]] structs computed entirely in
  * the int8 domain: the exact long multiply-accumulate over the quantized
  * bytes, without the scale product. This is the scoring half of a
  * quantized ANN index — the 4x storage/bandwidth saving of int8 only
  * pays off if scans score the bytes directly instead of dequantizing to
  * float first. For cosine the scales cancel:
  * qdot(a,b) / (sqrt(qdot(a,a)) * sqrt(qdot(b,b))) is a pure integer
  * cosine, bit-for-bit across engines (integer inputs, one IEEE division
  * and sqrt each) — the scoring form the quantized top-k oracle uses.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  private val quantType = StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("q", BinaryType, nullable = false)))

  override def inputTypes: Seq[AbstractDataType] = Seq(quantType, quantType)
  override def dataType: DataType = LongType
  override def prettyName: String = "quantized_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.quantizedDot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      b.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.quantizedDot($x, $y);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd winnowing fingerprints of an array<string> token column —
  * array<long> of selected md5-low-60 gram hashes (see
  * [[HashUtil.winnowing]]). The fingerprint density is ~2/(w+1) of the
  * gram count, so the inverted index a dedup builds on these is ~w/2
  * times smaller than a full shingle index while still guaranteeing
  * detection of shared runs of >= w + n - 1 tokens.
  */
case class WinnowingFingerprints(child: Expression, n: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1 && w >= 1, "n, w >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowing_fingerprints"

  override def nullSafeEval(a: Any): Any =
    HashUtil.winnowing(a.asInstanceOf[ArrayData], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.winnowing($x, $n, $w);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd word-n-gram shingling of an array<string> token column —
  * one pass per row inside whole-stage codegen, replacing a
  * transform(sequence(...), concat_ws(element_at...)) + array_distinct
  * chain of interpreted higher-order lambdas. `distinct` (the default)
  * yields each gram once in first-occurrence order (the set semantics
  * dedup blocking wants); `distinct = false` yields every occurrence in
  * document order (the multiset semantics collocation counting wants).
  */
case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, "n >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  private def fn: String = if (distinct) "wordShingles" else "wordShinglesAll"

  override def nullSafeEval(a: Any): Any =
    if (distinct) HashUtil.wordShingles(a.asInstanceOf[ArrayData], n)
    else HashUtil.wordShinglesAll(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.$fn($x, $n);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd SimHash (md5-low-60 token votes, see [[HashUtil.simhash64]])
  * of an array<string> token column — the document-fingerprint primitive
  * for near-dedup blocking. One pass over the tokens inside whole-stage
  * codegen; replaces a nested
  * aggregate(sequence(0,63), aggregate(tokens, ...)) higher-order
  * formulation that evaluated lambdas interpretively per bit per token
  * (~37x slower end-to-end at sf0.1).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any = HashUtil.simhash64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.simhash64($x);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd MinHash signature (array<long> of length numHashes) of an
  * array<string> shingle column. One string hash + numHashes long remixes
  * per shingle, all inside whole-stage codegen.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(numHashes >= 1, "numHashes >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(a: Any): Any =
    HashUtil.minhashSignature(a.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.minhashSignature($x, $numHashes);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd per-document gram-multiplicity stats
  * struct<n_grams, n_distinct, top_count> (all long) over an
  * array<string> token column — see [[HashUtil.gramStats]]. Repetition
  * scoring stays embarrassingly parallel: no explode, no per-gram
  * exchange, three longs of state per document.
  */
case class GramStats(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, "n >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
  override def prettyName: String = "gram_stats"

  override def nullSafeEval(a: Any): Any =
    HashUtil.gramStats(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.gramStats($x, $n);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Codegen'd bit interleaving (Morton / Z-order key) over N long bucket
  * columns: output bit `i*N + c` is input bit `i` of child `c`, for
  * `i < bits` — each input masked to its low `bits` bits first, so the
  * expression is total over any long (callers bucket however they like;
  * the mask is plain two's-complement `& (2^bits - 1)`, which replays
  * exactly in ANSI SQL / DuckDB integer arithmetic, keeping the oracle
  * bit-for-bit).
  *
  * This is the data-LAYOUT primitive for multi-dimensional parquet
  * pruning at 100 TB: sorting a table by the interleaved key clusters
  * rows that are close in EVERY bucketed dimension into the same row
  * groups, so the per-row-group column min/max stats become tight boxes
  * and a predicate on any subset of the dimensions skips most groups at
  * scan time (a lexicographic sort only ever prunes its leading column).
  * See graft.sources.Layout.zorderWrite for the write-side operator and
  * ZOrderSpec for the footer-stats pruning measurement.
  */
case class InterleaveBits(children: Seq[Expression], bits: Int)
    extends Expression with ImplicitCastInputTypes {

  require(children.nonEmpty, "interleave_bits needs at least one column")
  require(bits >= 1 && bits * children.size <= 63,
    s"bits * n_cols must be in [1, 63], got $bits * ${children.size}")

  private val n = children.size
  private val mask = (1L << bits) - 1L

  override def inputTypes: Seq[AbstractDataType] = Seq.fill(n)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "interleave_bits"

  override def eval(input: InternalRow): Any = {
    var z = 0L
    var c = 0
    while (c < n) {
      val v = children(c).eval(input)
      if (v == null) return null
      val m = v.asInstanceOf[Long] & mask
      var i = 0
      while (i < bits) {
        z |= ((m >>> i) & 1L) << (i * n + c)
        i += 1
      }
      c += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val spread = evals.zipWithIndex.map { case (e, c) =>
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val nullGuard =
        if (children(c).nullable) s"if (${e.isNull}) { ${ev.isNull} = true; } else"
        else ""
      s"""
         |${e.code}
         |$nullGuard if (!${ev.isNull}) {
         |  final long $m = ${e.value} & ${mask}L;
         |  for (int $i = 0; $i < $bits; $i++) {
         |    ${ev.value} |= (($m >>> $i) & 1L) << ($i * $n + $c);
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(code =
      code"""
         |boolean ${ev.isNull} = false;
         |long ${ev.value} = 0L;
         |$spread
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
