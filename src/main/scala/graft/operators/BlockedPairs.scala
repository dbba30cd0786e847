package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shapes every blocked-pair family in [[Dedup]] and [[Similarity]]
  * shares: the in-block self-join, LSH band candidates, shared-key
  * counts over an inverted index, the pair-mass preflight and the score
  * tail. A family is a key generator, a pin choice and a verifier around
  * these; pins and compute-budget floors stay at the family's call site,
  * next to the measurements that chose them.
  *
  * Self-joins alias the two sides `a` and `b`, so join conditions and
  * `extra` pair columns read `a.<col>` / `b.<col>`.
  */
private[operators] object BlockedPairs {

  /** Rows per LSH band when `total` signature positions split into
    * `bands` bands. A band count that does not divide the signature
    * degrades blocking silently: with bands > total every band slice is
    * empty, every row shares one key per band, and the candidate set
    * becomes all pairs. */
  def rowsPerBand(total: Int, bands: Int): Int = {
    require(bands >= 1 && total % bands == 0,
      s"bands must be >= 1 and divide the $total signature positions, got $bands")
    total / bands
  }

  /** Pairs of `df` rows that agree on every `keys` column, as (`idA`,
    * `idB`) with idA < idB, once per shared block (callers whose rows
    * share several blocks dedupe), plus any `extra` pair columns. */
  def inBlock(df: DataFrame, keys: Seq[String], id: String,
      idA: String, idB: String, extra: Column*): DataFrame =
    selfJoin(df, keys, id)
      .select(col(s"a.$id").as(idA) +: col(s"b.$id").as(idB) +: extra: _*)

  /** LSH band candidates: each row's `bandKeys` (an
    * array<struct<band, bkey>>) explodes to one row per band, rows
    * sharing a (band, bkey) bucket pair up, and a pair that collides in
    * several bands is kept once. */
  def bandCandidates(df: DataFrame, id: String, bandKeys: Column,
      idA: String, idB: String): DataFrame = {
    val bandRows = df
      .select(col(id), explode(bandKeys).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    inBlock(bandRows, Seq("band", "bkey"), id, idA, idB).distinct()
  }

  /** Shared-key counts over an inverted index `inv` of (`id`, `key`)
    * postings: [[dfCut]], self-join on the key, and count the keys each
    * pair shares as `as`. The count lands in a map-side-combinable pair
    * aggregation; no candidate list is materialized. */
  def sharedKeyCounts(inv: DataFrame, key: String, id: String, maxDf: Int,
      idA: String, idB: String, as: String): DataFrame =
    selfJoin(dfCut(inv, key, maxDf), Seq(key), id)
      .groupBy(col(s"a.$id").as(idA), col(s"b.$id").as(idB))
      .agg(count(lit(1)).as(as))

  /** Pair-mass preflight: [[Dedup.pairMassStats]] of `df` grouped by
    * `key`, refused with `refusal(stats)` when the predicted pair mass
    * exceeds `budget(n_rows)`. An empty input (null stats) passes. */
  def requirePairMass(df: DataFrame, key: Column, budget: Long => Long)(
      refusal: Row => String): Unit = {
    val pm = Dedup.pairMassStats(df, key).head()
    if (!pm.isNullAt(0))
      require(pm.getAs[Long]("pair_mass") <= budget(pm.getAs[Long]("n_rows")),
        refusal(pm))
  }

  /** Verified pairs: keep `score >= threshold`, round it to `digits` as
    * `as`, ordered by the pair. */
  def scoreTail(scored: DataFrame, idA: String, idB: String, score: String,
      threshold: Double, digits: Int, as: String): DataFrame =
    scored.filter(col(score) >= threshold)
      .select(col(idA), col(idB), round(col(score), digits).as(as))
      .orderBy(col(idA), col(idB))

  // a.id < b.id as a filter over the equi-join, not in its condition:
  // the optimizer merges it into the join as the FIRST residual
  // conjunct, ahead of any verify predicate pushed down later, so the
  // cheap id test short-circuits the dot product or intersection
  private def selfJoin(df: DataFrame, keys: Seq[String], id: String): DataFrame =
    df.as("a").join(df.as("b"), keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
      .filter(col(s"a.$id") < col(s"b.$id"))

  /** Document-frequency cut for an inverted index: drop keys present in
    * more than maxDf documents, and keys present in ONE, before any
    * self-join. One key shared by d documents emits d^2/2 join rows, so a
    * single boilerplate shingle (license header, navigation chrome) turns
    * an index self-join quadratic — the classic 100 TB skew bomb. The
    * maxDf cut bounds every posting list (worst-case join fan-out
    * maxDf^2/2 per key) at the cost of the recall contract stated on the
    * callers. The df = 1 prune is output-invariant: a SHARED key has
    * df >= 2 by definition, and on a Heaps-law corpus unique keys are
    * the overwhelming majority of the index (measured at 5M docs: 96% of
    * 103M winnowing postings were unique; cutting them shrank the
    * self-join input ~25x and the candidate stage 190 s -> seconds). Both
    * the frequency aggregation and the rejoin hash on the same key, so
    * this costs one extra well-partitioned pass. */
  private def dfCut(inv: DataFrame, key: String, maxDf: Int): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // at maxDf == Int.MaxValue only the df = 1 prune applies: __df is a
    // Long, and comparing it against the Int sentinel would silently
    // drop a key with df > 2^31-1 — exactly the theoretical-scale key
    // the "exact regardless of corpus df shape" default contract keeps
    val keep =
      if (maxDf == Int.MaxValue) col("__df") >= 2
      else col("__df") <= maxDf && col("__df") >= 2
    val dfs = inv.groupBy(col(key)).agg(count(lit(1)).as("__df"))
      .filter(keep)
      .drop("__df")
    inv.join(dfs, key)
  }
}
