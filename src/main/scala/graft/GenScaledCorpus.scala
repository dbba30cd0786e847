package graft

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Non-replicated scaled corpus generator: documents + embeddings at
  * `scale` x the sf0.1 row counts with a CONSTANT planted duplicate /
  * near-duplicate rate — the fixture that retires the 10x-replica caveat
  * on the dedup/ANN scale story (SCALE.md §9).
  *
  * Why replication distorts: replicating sf0.1 10x multiplies TRUE
  * duplicate pairs ~100x (every doc gains 9 identical twins), so
  * pair-verify families measure duplicate MASS, not corpus scaling. And
  * the driver fixture's 31-word vocabulary makes candidate-gram mass
  * inherently quadratic (two random 54-token docs share a 3-gram with
  * p ~ 0.09) — realistic corpora don't look like that.
  *
  * The generative model here is scale-honest:
  *  - Heaps-law vocabulary: the global word pool grows linearly with the
  *    corpus (V = 4000 x scale) under a Zipf(1) rank distribution, plus
  *    doc-local unique tokens — per-gram document frequency stays
  *    roughly constant as the corpus grows (top-ranked "stopword" grams
  *    grow and are exactly what the maxDf boilerplate guard exists for),
  *    so candidate mass scales ~linearly at constant dup rate.
  *  - Planted near-dups at a constant rate: 5% of docs are a mutated
  *    copy of their predecessor (each token resampled with p = 0.1 →
  *    3-gram Jaccard ~0.4-0.9), 1/333 an exact copy. At scale=1 that is
  *    ~250 qualifying pairs — the same order as sf0.1's measured 256.
  *  - Embeddings: uniform unit-sphere vectors with 5% planted perturbed
  *    copies at cos ~0.78-0.9. At dim 64 organic random-pair cosine is
  *    ~N(0, 1/64): a DEEP-tail threshold (>= ~0.65 = 5.2 sigma) sees
  *    qualifying mass ~ the planted rate (linear), while a 3.2-sigma
  *    threshold like 0.4 sits on a quadratic organic noise floor
  *    (measured: 1,101 -> 97,516 pairs for 10x data) — that contrast is
  *    deliberate and documented in SCALE.md §9. Labels (the knn-graph
  *    block key) number 10 x scale, so block SIZE stays constant as the
  *    corpus grows — the bounded-block contract sim_knn_graph documents.
  *
  * Copiers always derive from their predecessor's BASE text/vector (a
  * doc that is itself a copier is never used as a source), keeping the
  * derivation non-recursive and every planted pair a true near-dup.
  *
  * Deterministic per-id hashing (splitmix-seeded Random): every row's
  * content is a pure function of (seed, id), so regeneration yields
  * row-identical corpora on any machine. Row-to-part-file placement is
  * NOT pinned (repartition's round-robin depends on input slicing) —
  * compare regenerated fixtures by content, not by file checksums.
  *
  * Usage: runMain graft.GenScaledCorpus <scale> <outDir> [seed]
  *   e.g. runMain graft.GenScaledCorpus 1  /tmp/gen1x
  *        runMain graft.GenScaledCorpus 10 /tmp/gen10x
  */
object GenScaledCorpus {

  private final val DocsPerScale = 5000L
  private final val VecsPerScale = 2000L
  private final val Dim = 64

  /** splitmix64 finalizer: decorrelates (seed, id) into an RNG seed. */
  private def mix(seed: Long, id: Long): Long = {
    var z = seed ^ (id * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def isExactCopy(id: Long): Boolean =
    id % 333 == 332 && !isBaseCopier(id - 1)
  private def isNearCopy(id: Long): Boolean =
    id % 20 == 19 && (id - 1) % 333 != 332
  private def isBaseCopier(id: Long): Boolean =
    id % 20 == 19 || id % 333 == 332

  /** Zipf(1)-ish rank over [1, v]: inverse-CDF of 1/r via the log trick
    * (density ~ 1/r). */
  private def zipfRank(rng: Random, v: Int): Int =
    math.min(v, math.max(1, math.exp(rng.nextDouble() * math.log(v.toDouble)).toInt))

  /** The UN-copied generative token stream of a doc id. */
  private def baseTokens(seed: Long, id: Long, vocab: Int): IndexedSeq[String] = {
    val rng = new Random(mix(seed, id))
    val k = 10 + rng.nextInt(91)
    (0 until k).map { j =>
      if (rng.nextDouble() < 0.4) s"w${zipfRank(rng, vocab)}"
      else s"u${id}x$j"
    }
  }

  private def docText(seed: Long, id: Long, vocab: Int): String = {
    if (isExactCopy(id)) baseTokens(seed, id - 1, vocab).mkString(" ")
    else if (isNearCopy(id)) {
      // resample ~10% of the source's tokens with copier-local uniques:
      // enough surviving 3-grams for Jaccard >= 0.2, spread over 0.4-0.9
      val rng = new Random(mix(seed ^ 0x5DEECE66DL, id))
      baseTokens(seed, id - 1, vocab).zipWithIndex.map { case (t, j) =>
        if (rng.nextDouble() < 0.1) s"m${id}x$j" else t
      }.mkString(" ")
    } else baseTokens(seed, id, vocab).mkString(" ")
  }

  private def baseVec(seed: Long, id: Long): Array[Double] = {
    val rng = new Random(mix(seed + 17, id))
    normalize(Array.fill(Dim)(rng.nextGaussian()))
  }

  private def vec(seed: Long, id: Long): Array[Float] = {
    val v =
      if (isExactCopy(id)) baseVec(seed, id - 1)
      else if (isNearCopy(id)) {
        // cos ~ 1/sqrt(1 + 0.1^2 * 64) ~ 0.78-0.9 against the source
        val rng = new Random(mix(seed + 29, id))
        normalize(baseVec(seed, id - 1).map(_ + 0.1 * rng.nextGaussian()))
      } else baseVec(seed, id)
    v.map(_.toFloat)
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** The documents table at `scale`, as a (lazy, in-memory-generated)
    * DataFrame — exposed so scale specs can run against gen-model data
    * without a /tmp fixture dependency. */
  def documentsDf(spark: SparkSession, scale: Int, seed: Long = 42L)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val vocab = 4000 * scale
    val langs = Array("en", "zh", "es", "fr", "de")
    spark.range(DocsPerScale * scale).repartition(nPart(scale))
      .map { id =>
        val rng = new Random(mix(seed + 3, id))
        val text = docText(seed, id, vocab)
        val lang = if (rng.nextDouble() < 0.41) "en" else langs(1 + rng.nextInt(4))
        (id, text, lang, s"src${rng.nextInt(20)}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The embeddings table at `scale` (see [[documentsDf]]). */
  def embeddingsDf(spark: SparkSession, scale: Int, seed: Long = 42L)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val nLabels = 10 * scale
    spark.range(VecsPerScale * scale).repartition(nPart(scale))
      .map { id =>
        val rng = new Random(mix(seed + 5, id))
        (id, vec(seed, id).toSeq, rng.nextInt(nLabels))
      }
      .toDF("vec_id", "embedding", "label")
  }

  // multi-file layout: scans must parallelize (a single-file table
  // hands compute-heavy chains one task — SCALE.md §9 rule)
  private def nPart(scale: Int): Int = math.max(8, 4 * scale)

  def main(args: Array[String]): Unit = {
    val scale = args(0).toInt
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 42L
    require(scale >= 1, "scale must be >= 1")
    val spark = Harness.session()

    val nDocs = DocsPerScale * scale
    val nVecs = VecsPerScale * scale
    val vocab = 4000 * scale
    val nLabels = 10 * scale

    documentsDf(spark, scale, seed)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    embeddingsDf(spark, scale, seed)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    Tables.invalidate(outDir)
    // a corpus rewritten in place invalidates any persisted IVF model for
    // it — belt to the fingerprint-revalidation braces in
    // IvfModelStore.ensure (a same-cardinality regeneration with another
    // seed would otherwise rely on the content check alone)
    operators.IvfModelStore.invalidate(spark, outDir)
    println(Harness.jsonLine(spark, "gen_scaled_corpus", "scale" -> scale, "docs" -> nDocs,
      "vecs" -> nVecs, "vocab" -> vocab, "labels" -> nLabels, "out" -> outDir))
    spark.stop()
  }
}
