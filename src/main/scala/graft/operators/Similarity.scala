package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.VectorFunctions._

/** Similarity search over array<float> embedding columns.
  *
  * Brute force is the exact baseline: one broadcast of the query vector,
  * one codegen'd dot-product scan, TakeOrderedAndProject for top-k
  * (partition-local heaps + driver merge of k rows — this IS the scalable
  * plan for single-query scans; no shuffle of the fact table).
  *
  * The LSH variant is the high-QPS scale path: 16 random-hyperplane sign
  * bits bucket the corpus; a query probes its bucket plus all buckets
  * within Hamming distance `probeRadius`, then scores only candidates.
  *
  * The pair families (semantic, tiled, banded, kNN graph) share their
  * blocked-pair shape (in-block self-join, band candidates, pair-mass
  * preflight, score tail) through [[BlockedPairs]]; each is a key
  * generator + a pin choice + a verifier. [[nearDupPairs]] stays off that
  * core on purpose: it is the independent reference the tiled path is
  * tested against.
  */
object Similarity {

  val Dim = 64
  val NPlanes = 16
  val Seed = 7L

  /** Target k-means cell size for [[semanticDupPairs]]: cells bound the
    * quadratic step only if cell SIZE is held constant as the corpus
    * grows, i.e. cell COUNT must scale with the corpus. 128 keeps the
    * in-cell pair mass at ~64 pairs/row — linear total work — while
    * cells stay large enough for k-means to be meaningful. */
  val TargetCellSize = 128

  /** Default cosine threshold for [[semanticDupPairs]]: ~5 sigma at
    * dim 64 (random-pair cosine ~N(0, 1/dim), so 0.65 = 5.2/sqrt(64)).
    * At 5 sigma the emitted pair list tracks the true near-dup rate
    * (measured ~7x per 10x of corpus on the gen series); a 3-sigma
    * threshold like 0.4 rides a quadratic organic-noise floor (~30x per
    * decade, 301,811 rows at 100x) — still available as an explicit
    * opt-in for high-recall regimes, with the runtime warning below. */
  val DefaultSemanticThreshold = 0.65

  /** Corpus-derived cell count, at the cost-optimal cell SIZE.
    *
    * SemDeDup's total work has two terms: the cluster assignment
    * (n x c dot products = n²·d/S at cell size S) and the in-cell pair
    * enumeration (n·S·d/2). Holding S constant keeps the SECOND term
    * linear but leaves the FIRST quadratic — measured at the third
    * gen decade (2M vectors, c = 15,625): the assignment/training
    * passes dominated at ~6 min wall while in-cell pairs cost seconds.
    * d(total)/dS = 0 gives S* = sqrt(2n): both terms balance and the
    * total drops to Θ(n^1.5·d) — 8x fewer flops at 2M vectors, and the
    * per-decade wall ratio falls from ~100x (n²) to ~32x (n^1.5).
    * (The remaining superlinearity is inherent to FLAT cluster
    * assignment; a hierarchical/tree quantizer reaches n·log n and is
    * the stated 100 TB path — SCALE.md §9.)
    *
    * The 128 floor keeps every corpus below ~8k vectors on the
    * historical derivation (committed sf0.001/sf0.01 fixtures: c = 16,
    * results unchanged); recall only improves as cells grow, since
    * boundary misses shrink while the threshold owns precision. */
  def scaledCellCount(n: Long, targetCellSize: Int = TargetCellSize): Int = {
    val s = math.max(targetCellSize.toLong, math.ceil(math.sqrt(2.0 * n)).toLong)
    math.max(16L, (n + s - 1) / s).toInt
  }

  /** Exact cosine top-k of `queryVecId`'s embedding against the corpus. */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    cosineTopK(embeddings.crossJoin(broadcast(q)), queryVecId, k)
  }

  /** Query top-k tail: the candidate rows other than the query, scored
    * by cosine against the broadcast query vector `q_emb`, best `k`
    * first (ties to the smaller vec_id). */
  private def cosineTopK(cands: DataFrame, queryVecId: Long, k: Int): DataFrame =
    cands.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)

  /** LSH-bucketed approximate top-k: candidates from multi-probe bucket
    * lookup, exact cosine only on candidates. */
  def lshTopK(spark: SparkSession, embeddings: DataFrame, queryVecId: Long,
      k: Int, probeRadius: Int = 3): DataFrame = {
    val signed = embeddings
      .withColumn("sig", hyperplaneBits(col("embedding"), Dim, NPlanes, Seed))
    val q = signed.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"), col("sig").as("q_sig"))
    // all signatures within Hamming <= probeRadius of the query's
    val masks = probeMasks(probeRadius)
    import spark.implicits._
    val maskDf = masks.toDF("mask")
    val probes = q.crossJoin(broadcast(maskDf))
      .select(col("q_emb"), col("q_sig").bitwiseXOR(col("mask")).as("probe_sig"))
    cosineTopK(signed.join(broadcast(probes), col("sig") === col("probe_sig")), queryVecId, k)
  }

  /** XOR masks enumerating all signatures within Hamming distance r. */
  def probeMasks(r: Int): Seq[Long] = {
    def combos(bits: List[Int], choose: Int): Seq[Long] =
      if (choose == 0) Seq(0L)
      else bits match {
        case Nil => Seq.empty
        case h :: t => combos(t, choose - 1).map(_ | (1L << h)) ++ combos(t, choose)
      }
    (0 to r).flatMap(c => combos((0 until NPlanes).toList, c))
  }

  /** Spherical-k-means coarse centroids for an IVF index: deterministic
    * corpus-sample init, `iters` Lloyd rounds (assign by max cosine,
    * re-center on the normalized mean), all as DataFrame aggregations —
    * only the C x dim centroid model is ever collected.
    *
    * Sign-LSH (hyperplaneBits) buckets well when near-duplicates have
    * cosine near 1; for nearest-among-weakly-similar corpora (cos ~0.3)
    * its per-bit agreement is barely above chance, so the IVF coarse
    * quantizer — which adapts to the data's actual directions — is the
    * ANN scale path used by the harness query.
    */
  def ivfCentroids(embeddings: DataFrame, dim: Int, c: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    var cents = embeddings
      .orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(c)
      .select(col("embedding"))
      .collect()
      .map(r => normalize(r.getSeq[Float](0).toArray.map(_.toDouble)))
    (0 until iters).foreach { _ =>
      val assigned = embeddings
        .withColumn("cluster", assignCluster(col("embedding"), cents))
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .collect()
      val next = Array.fill(cents.length)(new Array[Double](dim))
      assigned.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      // empty clusters keep their previous centroid
      cents = next.zip(cents).map { case (n, prev) =>
        if (n.forall(_ == 0.0)) prev else normalize(n)
      }
    }
    cents
  }

  /** Cluster id = argmax cosine against the (unit-norm) centroids;
    * ties -> lowest id. Empty centroid set (possible only when the table
    * that seeded k-means was empty) yields a typed null column — no row
    * ever materializes it.
    *
    * One native codegen'd expression ([[org.apache.spark.sql.graft.ArgMaxFloatDot]]):
    * a tight c x dim loop per row over the flattened float-cast model,
    * generated-code size constant in c, no per-centroid allocation. The
    * two Column-algebra formulations it replaced both failed at scale —
    * unrolled `array_position(array(c dots), array_max(...))` duplicates
    * the dots array and overflows JIT/codegen method budgets (the
    * assignment scan dominated every IVF probe at 200k vectors), and the
    * higher-order transform/zip_with form allocates a dim-array per
    * centroid per row (minutes at c=1600 x 200k rows). Both remain below
    * as package-private references; `SimilaritySpec` asserts all three
    * bodies assign identically, which is what keeps cell assignment
    * bit-reproducible for the pinned-model oracles. */
  def assignCluster(emb: Column, centroids: Array[Array[Double]]): Column =
    if (centroids.isEmpty) lit(null).cast("int")
    else graft.functions.VectorFunctions.argMaxDot(
      emb, centroids.map(_.map(_.toFloat)))

  private[operators] def assignClusterUnrolled(
      emb: Column, centroids: Array[Array[Double]]): Column = {
    val dots = centroids.toIndexedSeq.map(ct => vecDot(emb, typedlit(ct.map(_.toFloat))))
    val arr = array(dots: _*)
    (array_position(arr, array_max(arr)) - 1).cast("int")
  }

  private[operators] def assignClusterHof(
      emb: Column, centroids: Array[Array[Double]]): Column = {
    val centsLit = typedlit(centroids.map(_.map(_.toFloat).toSeq).toSeq)
    // vecDotBuiltin, not a re-derivation: one reference HOF dot (its
    // min-length edge semantics match FloatVectorDot, so the reference
    // bodies agree even on truncated vectors)
    val dots = transform(centsLit, ct => vecDotBuiltin(emb, ct))
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** IVF-flat approximate top-k: assign the corpus to `nCentroids` coarse
    * cells, probe the `nProbe` cells nearest the query, exact cosine only
    * within probed cells (~nProbe/nCentroids of the corpus scanned). The
    * assignment is one scan; at scale it is computed once at landing and
    * stored as a partition column, making a probe a partition-pruned
    * read — demonstrated end to end (plan-asserted PartitionFilters +
    * result identical to this in-memory path) in SimilaritySpec
    * "IVF probe over a cluster-partitioned layout". */
  def ivfTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      dim: Int = Dim, nCentroids: Int = 16, nProbe: Int = 6,
      iters: Int = 2, seed: Long = Seed): DataFrame =
    ivfTopKWith(embeddings, ivfCentroids(embeddings, dim, nCentroids, iters, seed),
      queryVecId, k, nProbe)

  /** [[ivfTopK]] against a pre-trained centroid model. Every arithmetic
    * step — probe selection AND cell assignment — uses the FLOAT-cast
    * model (the exact values [[assignCluster]] broadcasts), so pinning
    * the float model reproduces the query bit-for-bit in another engine:
    * float->double casts are exact, dots accumulate sequentially in
    * double on both sides, ties break toward the lower cluster id. */
  def ivfTopKWith(embeddings: DataFrame, cents: Array[Array[Double]],
      queryVecId: Long, k: Int, nProbe: Int = 6): DataFrame = {
    // the model assignCluster actually evaluates: double -> float -> double
    val centsF = cents.map(_.map(_.toFloat.toDouble))
    // a query op needs its query: fail with the contract, not a bare
    // NoSuchElementException out of head()
    val qRows = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).head(1)
    require(qRows.nonEmpty,
      s"ivfTopK: query vec_id=$queryVecId not present in the embedding table")
    val qVec = qRows(0).getSeq[Float](0).toArray.map(_.toDouble)
    val probes = centsF.zipWithIndex
      .map { case (ct, i) =>
        i -> ct.zip(qVec).map { case (a, b) => a * b }.sum
      }
      .sortBy(-_._2).take(nProbe).map(_._1)
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val probed = embeddings
      .withColumn("cluster", assignCluster(col("embedding"), cents))
      .filter(col("cluster").isin(probes.toIndexedSeq.map(Integer.valueOf): _*))
    cosineTopK(probed.crossJoin(broadcast(q)), queryVecId, k)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means-partition the embedding space, then find near-duplicate
    * pairs (cosine >= threshold) only WITHIN each cluster — the cluster
    * plays the role LSH bands play for text near-dedup, bounding the
    * quadratic step to cell-sized groups. The within-cell pair join is an
    * equi-join on the cell id (shuffle bounded by sum of cell sizes
    * squared, never |corpus|^2); the centroid model is the only collected
    * state. Recall is bounded by cell purity: pairs straddling a cell
    * boundary are missed, which SemDeDup accepts by design (and
    * SimilaritySpec floors empirically against the exact tiled pairs).
    *
    * The cell count is DERIVED FROM THE CORPUS ([[scaledCellCount]]):
    * constant cell size is what makes the in-cell quadratic step linear
    * in n, so a caller-fixed c would be a scale bug by default — fix the
    * cell SIZE instead via `targetCellSize`. Threshold guidance: at
    * dimension d a random pair's cosine is ~N(0, 1/d), so `threshold`
    * should sit >= ~5 sigma (>= 5/sqrt(d); 0.65 at d = 64) for the
    * output to track true near-dups — a 3-sigma threshold rides a
    * quadratic organic noise floor. [[semanticDupPairsWith]] warns on a
    * sub-5-sigma threshold and its pair-mass preflight refuses the
    * pathological cases outright. */
  def semanticDupPairs(embeddings: DataFrame, threshold: Double,
      dim: Int = Dim, iters: Int = 2, seed: Long = Seed,
      targetCellSize: Int = TargetCellSize): DataFrame = {
    // parquet count-star is footer metadata, not a data scan
    val c = scaledCellCount(embeddings.count(), targetCellSize)
    semanticDupPairsWith(embeddings,
      ivfCentroids(embeddings, dim, c, iters, seed), threshold)
  }

  /** [[semanticDupPairs]] against a pre-trained centroid model (see
    * [[ivfTopKWith]] for the cross-engine reproducibility contract).
    *
    * Preflight ([[Dedup.pairMassStats]] over the cell assignment): the
    * within-cell join enumerates `pair_mass` pairs before any threshold
    * filter, so predicted mass above `maxPairsPerRow` x rows — an
    * undersized model for the corpus (the fixed-c=16 trap: n²/2c pairs)
    * or a degenerate model collapsing everything into one cell — fails
    * fast with the cell-size profile instead of launching the quadratic
    * job. A per-ROW budget, not a total: legitimate constant-cell-size
    * work grows linearly and must pass at any corpus size. */
  def semanticDupPairsWith(embeddings: DataFrame, cents: Array[Array[Double]],
      threshold: Double, maxPairsPerRow: Long = 16L * TargetCellSize): DataFrame = {
    val dim = if (cents.isEmpty) 0 else cents(0).length
    if (dim > 0 && threshold < 5.0 / math.sqrt(dim.toDouble))
      System.err.println(f"WARNING: semanticDupPairs threshold $threshold%.2f is " +
        f"${threshold * math.sqrt(dim.toDouble)}%.1f sigma at dim $dim (random-pair " +
        "cosine ~N(0,1/dim)); below ~5 sigma the output includes a quadratic " +
        "organic-pair noise floor, not just true near-dups")
    // checkpoint: the C dot-products-per-row assignment feeds both join
    // sides; without it the argmax scan runs twice. Compute-budget floor
    // first: the assignment is C dots per row at the input frame's
    // parallelism, and the checkpoint's partitioning is what every
    // downstream stage (the in-cell join) inherits.
    val assigned = Compute.toComputeBudgetIfScan(embeddings)
      .select(assignCluster(col("embedding"), cents).as("cluster"), col("vec_id"), col("embedding"))
      .transform(Compute.checkpointSer) // embedding arrays: serialized storage
    BlockedPairs.requirePairMass(assigned, col("cluster"), maxPairsPerRow * _) { pm =>
      s"semanticDupPairs preflight: predicted in-cell pair mass ${pm.getLong(0)} over " +
        s"${pm.getLong(1)} rows exceeds the $maxPairsPerRow pairs/row budget " +
        s"(cells=${pm.getLong(2)}, max cell=${pm.getLong(3)}, " +
        s"p99 cell=${pm.getLong(4)}). The model has too few (or too " +
        "skewed) cells for this corpus: derive it at constant cell size " +
        "(scaledCellCount) or raise maxPairsPerRow to consciously accept " +
        "the quadratic cost."
    }
    BlockedPairs.inBlock(assigned, Seq("cluster"), "vec_id", "id_a", "id_b",
        cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .transform(BlockedPairs.scoreTail(_, "id_a", "id_b", "cos", threshold, 6, "cos_sim"))
  }

  /** Batch ANN: many query vectors against the corpus through the IVF
    * index in ONE plan — each query explodes to its nProbe probe cells,
    * equi-joins the cluster-assigned corpus on the cell id (a bounded
    * shuffle: nProbe/nCentroids of |queries| x |corpus|, never a cross
    * join), and the per-query top-k comes from the bounded-heap
    * TopKByScore aggregate (no per-group sort). This is the shape that
    * serves m queries over a 100 TB corpus: cluster-pruned join + O(k)
    * aggregation state.
    */
  def ivfBatchTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = Dim, nCentroids: Int = 16, nProbe: Int = 6,
      iters: Int = 2, seed: Long = Seed): DataFrame =
    ivfBatchTopKWith(corpus, queries,
      ivfCentroids(corpus, dim, nCentroids, iters, seed), k, nProbe)

  /** [[ivfBatchTopK]] against a pre-trained centroid model (see
    * [[ivfTopKWith]] for the cross-engine reproducibility contract: the
    * probe dots here already evaluate against the float-cast model via
    * typedlit, and TopKByScore orders (score desc, payload asc) with
    * null/NaN scores skipped). */
  def ivfBatchTopKWith(corpus: DataFrame, queries: DataFrame,
      cents: Array[Array[Double]], k: Int, nProbe: Int = 6): DataFrame = {
    val assigned = corpus
      .select(assignCluster(col("embedding"), cents).as("cluster"), col("vec_id"), col("embedding"))
    // probe cells per query: indices of the nProbe largest centroid dots.
    // HOF over a 2-D centroid literal, NOT c unrolled vecDot calls — the
    // unrolled form's generated code grows with c and overflows
    // JIT/janino budgets at scaled cell counts (the assignCluster lesson;
    // see ArgMaxFloatDot). The per-row array allocation the HOF form
    // pays is confined to the QUERY side, which is small by contract —
    // the corpus side goes through the native kernel in assignCluster.
    val dots = transform(
      typedlit(cents.map(_.map(_.toFloat).toSeq).toSeq),
      ct => vecDotBuiltin(col("q_emb"), ct))
    val probed = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("__dots", dots)
      .withColumn("cluster",
        explode(slice(array_sort(
          transform(col("__dots"), (d, i) => struct((-d).as("nd"), i.as("i")))),
          1, nProbe)("i")))
      .select(col("q_id"), col("q_emb"), col("cluster"))
    probed.join(assigned, "cluster")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("embedding"), col("q_emb")).as("cos"))
      .groupBy(col("q_id"))
      .agg(graft.functions.AggregateFunctions
        .topKBy(col("cos"), col("vec_id"), k).as("topk"))
      .orderBy(col("q_id"))
  }

  /** Exact cosine-threshold near-duplicate pairs over the FULL corpus via
    * block-tiled pair enumeration (the 1-Bucket-Theta shape: Okcan &
    * Riedewald, "Processing Theta-Joins using MapReduce", SIGMOD'11).
    *
    * Vectors hash into `blocks` blocks; each unordered block pair (i, j),
    * i <= j, is one tile, keyed i*blocks+j. The left side replicates each
    * vector to the tiles where its block is the row coordinate, the right
    * side to those where it is the column coordinate, and a plain
    * equi-join on the tile id meets every vector pair exactly once
    * (off-diagonal tiles via block_a < block_b, the diagonal via
    * id_a < id_b). EXACT BY CONSTRUCTION: the tiles partition the set of
    * unordered pairs, so output == all-pairs output at any threshold —
    * there is no recall parameter to argue about.
    *
    * Scale shape: no BroadcastNestedLoopJoin, no CartesianProduct, no
    * broadcast limit, no cap. Shuffle is O(n * blocks) rows; the n^2/2
    * dot products stream through ~blocks^2/2 evenly-sized tile tasks and
    * are never materialized. Choose `blocks` so one block of vectors fits
    * executor memory (the join buffers one tile side per key); compute
    * stays Theta(n^2) because an EXACT threshold-0.4 cosine join is not
    * blockable: with 16..256 random hyperplanes, a qualifying pair
    * (cos 0.4 -> bit-agreement 0.631) and a random pair (cos ~0 ->
    * 0.5) are separated by less than the binomial spread, so any
    * signature cut with near-1 recall also passes nearly all random
    * pairs (measured on this corpus: qualifying pairs sit at cos
    * 0.40-0.43). Hashing helps only in the genuine near-dup regime
    * (cos >= ~0.8) — that path is [[bandedNearDupPairs]].
    *
    * Preflight: the op is Θ(n²) BY PROBLEM STATEMENT, so the guard is an
    * absolute pair-mass budget, not a per-row one — n(n-1)/2 (via
    * [[Dedup.pairMassStats]], all rows one group: exact-by-construction
    * pair enumeration has no data-dependent blocking to profile) must
    * stay within `maxPairMass` or the call fails fast naming the scale
    * paths. The default admits ~300k vectors (~4.5e10 dots x dim);
    * raising it is the caller's explicit consent to the quadratic cost. */
  def tiledNearDupPairs(embeddings: DataFrame, threshold: Double,
      blocks: Int = 16, maxPairMass: Long = 45_000_000_000L): DataFrame = {
    require(blocks >= 1, s"blocks must be >= 1, got $blocks")
    BlockedPairs.requirePairMass(embeddings, lit(0), _ => maxPairMass) { pm =>
      s"tiledNearDupPairs preflight: exact all-pairs enumeration over " +
        s"${pm.getLong(1)} vectors is ${pm.getLong(0)} pairs, over the $maxPairMass budget. " +
        "This op is quadratic by problem statement; at this scale use " +
        "semanticDupPairs (cluster-blocked) or bandedNearDupPairs " +
        "(high-cosine LSH), or raise maxPairMass to consciously accept " +
        "the cost."
    }
    // compute-budget partitioning (SCALE.md §9): the tile fan-out and
    // norm computation are per-row compute on both map sides; a
    // small-file corpus would run each in ONE task (measured 2x ~550 ms
    // single-task stages at sf0.1). One corpus-sized shuffle is noise
    // against the Theta(n^2) tile join it feeds. Budget is a floor
    // (Compute.toComputeBudget): a wide scan keeps its layout.
    val e = Compute.toComputeBudget(embeddings)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
      .withColumn("g", pmod(hash(col("vec_id")), lit(blocks)))
    val left = e
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a"), col("g").as("ga"),
        explode(sequence(col("g"), lit(blocks - 1))).as("tj"))
      .withColumn("tile", col("ga") * blocks + col("tj"))
      .drop("tj")
    val right = e
      .select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b"), col("g").as("gb"),
        explode(sequence(lit(0), col("g"))).as("ti"))
      .withColumn("tile", col("ti") * blocks + col("gb"))
      .drop("ti")
    left.join(right, "tile")
      .filter(col("ga") < col("gb") || (col("ga") === col("gb") && col("id_a") < col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        cosine(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("cos_raw"))
      .transform(BlockedPairs.scoreTail(_, "id_a", "id_b", "cos_raw", threshold, 6, "cos_sim"))
  }

  /** Blocked k-NN graph: each vector's exact top-`k` cosine neighbors
    * WITHIN its block (here the label column; in a full pipeline the
    * block is an IVF cell or shard assignment). The graph-construction
    * shape behind SemDeDup, kNN-classification and graph-based ANN
    * indexes: an equi-join on the block id co-partitions the quadratic
    * step (never an all-pairs join), and the per-source ranking runs
    * inside the SAME block partitioning — hash(block) co-locates every
    * (block, src) group, so EnsureRequirements inserts no second
    * exchange for the window, just a partition-local sort. Cost is
    * sum(|block|^2) dots, bounded by the largest block, not the corpus.
    */
  def knnGraphWithinBlocks(embeddings: DataFrame, blockCol: String,
      k: Int): DataFrame = {
    // compute-budget partitioning (SCALE.md §9, as in tiledNearDupPairs):
    // the block join's build side broadcasts, so the Θ(sum |block|²) dot
    // products run at the PROBE scan's parallelism — a single-file corpus
    // would run the whole quadratic stage in one task (measured at the
    // 10x replica: 38 s, one straggler task).
    val e = Compute.toComputeBudget(embeddings)
      .select(col(blockCol).as("blk"), col("vec_id"), col("embedding"),
        vecNorm(col("embedding")).as("nrm"))
    // grouped top-k via the bounded TopKByScore aggregate instead of a
    // window rank: the window form shuffled and SORTED the full
    // quadratic join fan-out (sum |block|² rows); the aggregate keeps
    // O(k) state per (blk, src) with map-side partial aggregation, so
    // the shuffle carries ≤ k candidates per group per map task. Output
    // order is the window's own (score desc, payload asc — ties to the
    // smaller dst_id); null cosines (zero norms) ride as -Infinity so
    // they rank after every real score exactly like the window's
    // NULLS LAST, and decode back to null on the way out.
    val negInf = lit(Double.NegativeInfinity)
    e.as("a").join(e.as("b"), "blk")
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos_raw", cosine(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")))
      .groupBy(col("blk"), col("a.vec_id").as("src_id"))
      .agg(graft.functions.AggregateFunctions
        .topKScoredBy(coalesce(col("cos_raw"), negInf), col("b.vec_id"), k)
        .as("top"))
      .select(col("src_id"), posexplode(col("top")))
      .select(col("src_id"), (col("pos") + 1).cast(LongType).as("knn_rank"),
        col("col.payload").as("dst_id"),
        round(when(col("col.score") =!= negInf, col("col.score")), 6)
          .as("cos_sim"))
      .orderBy(col("src_id"), col("knn_rank"))
  }

  /** Near-duplicate pairs via sign-LSH banding + exact cosine verify —
    * the candidates->verify shape of Dedup.minhashPairs applied to
    * embeddings, for the regime where it works: genuine near-duplicates
    * (threshold >= ~0.8). 64 hyperplane sign bits split into `bands`
    * bands of 64/bands bits; vectors sharing any band's bits become a
    * candidate pair, then exact cosine filters. Recall per qualifying
    * pair is 1 - (1 - p^r)^bands with p = 1 - acos(cos)/pi and r =
    * 64/bands: at cos 0.9 (p = .856) with 16 4-bit bands a pair is
    * missed with prob 4.5e-6; at cos 0.95 that is 6e-9. Below cos ~0.8
    * recall decays — use [[tiledNearDupPairs]] there (scaladoc above for
    * why no hashing scheme fixes that). Candidate count stays near-linear
    * because random pairs (cos ~0, p = .5) collide on a band with prob
    * 2^-r. */
  def bandedNearDupPairs(embeddings: DataFrame, threshold: Double,
      bands: Int = 16): DataFrame = {
    val rowsPerBand = BlockedPairs.rowsPerBand(64, bands)
    // unsigned shift: a full 64-bit band (bands = 1) keeps every bit
    val mask = -1L >>> (64 - rowsPerBand)
    val e = embeddings
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"),
        hyperplaneBits(col("embedding"), Dim, 64, Seed).as("sig"))
    val bandKeys = array((0 until bands).map { i =>
      struct(lit(i).as("band"),
        shiftrightunsigned(col("sig"), i * rowsPerBand).bitwiseAND(lit(mask)).as("bkey"))
    }: _*)
    val candidates = BlockedPairs.bandCandidates(e, "vec_id", bandKeys, "id_a", "id_b")
      .localCheckpoint()
    candidates
      .join(e.as("a"), col("id_a") === col("a.vec_id"))
      .join(e.as("b"), col("id_b") === col("b.vec_id"))
      .withColumn("cos_raw", cosine(col("a.embedding"), col("b.embedding"), col("a.nrm"), col("b.nrm")))
      .transform(BlockedPairs.scoreTail(_, "id_a", "id_b", "cos_raw", threshold, 6, "cos_sim"))
  }

  /** Exact near-duplicate pairs by cosine threshold over the first
    * `maxVectors` vectors (honest cap for the O(n^2) baseline). TEST
    * ANCHOR ONLY: deliberately naive (capped BroadcastNestedLoopJoin) so
    * SimilaritySpec can assert [[tiledNearDupPairs]] reproduces it
    * byte-for-byte — not registered in the harness, never on a scale or
    * bench path. [[tiledNearDupPairs]] is the uncapped scale path. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double, maxVectors: Long): DataFrame = {
    // norms are computed once per vector, not once per pair — the pair
    // loop then costs a single dot product (same double arithmetic as
    // cosine(), so results are bit-identical)
    val e = embeddings.filter(col("vec_id") < maxVectors)
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    val den = col("nrm_a") * col("nrm_b")
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_raw",
        when(den =!= 0.0, vecDot(col("emb_a"), col("emb_b")) / den))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
