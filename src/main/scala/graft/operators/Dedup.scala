package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{HashFunctions, TextFunctions}

/** Document deduplication family (beyond-reference training-data ops).
  *
  * All candidate generation is bucketed (band hash / simhash chunk /
  * inverted index) so the quadratic step only ever runs inside buckets —
  * the property that keeps near-dedup feasible at 100 TB. No driver-side
  * loops; everything is one lazy plan.
  *
  * The shared blocked-pair shape (in-block self-join, band candidates,
  * shared-key counts, score tail) lives in [[BlockedPairs]]; each family
  * here is a key generator + a pin choice + a verifier.
  */
object Dedup {

  /** Default admission bound for [[verifyJaccard]]'s candidate set: a
    * post-blocking pair list larger than this is rejected, not verified
    * (per-pair work over full shingle arrays must only run on a blocked
    * set). Callers with a genuinely large post-blocking set raise the
    * per-call `maxCandidates` explicitly. */
  val DefaultMaxCandidates = 1000000L

  /** Default broadcast bound for the candidate-member id prune in
    * [[verifyJaccard]] (~32 MB of pair ids). Deliberately ABOVE
    * [[DefaultMaxCandidates]]: at defaults every admitted candidate set
    * takes the broadcast-pruned path (the shingle table never shuffles)
    * and the shuffled equi-join fallback is reachable only when a caller
    * consciously raises `maxCandidates` past this bound. The require
    * below keeps that relation a checked contract — a future edit that
    * inverts the defaults (silently sending every admitted set through
    * the full-shuffle fallback) fails at class load, not in a 100 TB
    * plan regression. */
  val DefaultMaxBroadcastCandidates = 2000000L

  require(DefaultMaxBroadcastCandidates > DefaultMaxCandidates,
    s"DefaultMaxBroadcastCandidates ($DefaultMaxBroadcastCandidates) must " +
      s"exceed DefaultMaxCandidates ($DefaultMaxCandidates): at defaults " +
      "every admitted candidate set must take the broadcast-pruned path")

  /** Exact dedup: keeper = min doc_id per identical text. Groups on the
    * md5 of the text, not the text itself — the shuffle carries a 16-byte
    * key per document instead of the document (at 100 TB, that IS the
    * query cost); identical-text equality is preserved modulo md5
    * collision (~n^2 / 2^129). */
  def exactKeepers(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("__fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))

  /** Incremental (append-batch) dedup: the rows of `newDocs` whose `fp`
    * already occurs in `oldFps` — exact membership, bloom-accelerated.
    *
    * Shape for "new batch vs. historical corpus" at scale: the history is
    * folded into a numBits/8-byte bloom (map-side partial OR-merge), the
    * bloom is broadcast, and the new batch is probed in place — the full
    * batch never shuffles. Only bloom survivors (true dups + the ~
    * (1-e^(-kn/m))^k false-positive sliver) enter the exact semi-join that
    * removes false positives, so the final answer is EXACTLY the semi-join
    * answer while the batch side of the shuffle carries the candidate
    * sliver, not the batch. (The history side still exchanges its `fp`
    * column once for the semi-join — left_semi deduplicates on its own, so
    * no separate distinct pass is paid.)
    * Both inputs need an `fp` column; `newDocs` keeps its other columns.
    */
  def incrementalDups(oldFps: DataFrame, newDocs: DataFrame,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val bloom = oldFps.agg(
      HashFunctions.bloomAgg(xxhash64(col("fp")), numBits, numHashes).as("__bloom"))
    val candidates = newDocs
      .crossJoin(broadcast(bloom))
      .filter(HashFunctions.bloomMightContain(col("__bloom"),
        xxhash64(col("fp")), numHashes))
      .drop("__bloom")
    candidates.join(oldFps.select(col("fp")), Seq("fp"), "left_semi")
  }

  /** Tokenized docs with distinct word-3-gram shingles.
    *
    * Round-robined to the session parallelism first: every dedup
    * operator's dominant work (shingling, gram explode, index self-join
    * fan-out) is per-row compute downstream of this frame, and with a
    * small-file corpus the scan would hand the whole chain ONE
    * partition. AQE cannot rescue it — it sizes shuffles by map-output
    * bytes, and the pair-join's row fan-out is invisible to that
    * heuristic. Same rule as SCALE.md §9: when per-row compute
    * dominates, partition count comes from the compute budget, not the
    * file layout (measured: dedup_ngram_jaccard's main stage 1.33 s in
    * one task at sf0.1; parallelized it amortizes across the cores).
    * Budget is a floor, not a target — see [[Compute.toComputeBudget]]. */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    Compute.toComputeBudget(docs)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("sh", TextFunctions.shingles(col("toks"), n))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))

  /** LSH banding: (band index, hash of the signature slice) pairs. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("bkey")))

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * shingle -> 64-perm minhash -> 16 bands x 4 rows -> bucket self-join ->
    * exact Jaccard on the candidates only. One shuffle for the bucket
    * join, one for the verify joins; candidate count (not n^2) bounds the
    * exact step.
    */
  def minhashPairs(docs: DataFrame, threshold: Double,
      numHashes: Int = 64, bands: Int = 16,
      maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    val rowsPerBand = BlockedPairs.rowsPerBand(numHashes, bands)
    val sh = shingled(docs)
    val withSig = sh.withColumn("sig",
      HashFunctions.minhashSignature(col("sh"), numHashes))
    // deliberately NOT pinned: the band self-join consumes this frame
    // twice, but both replays pipeline inside one adaptive job — an
    // eager checkpoint here was MEASURED slower at sf0.1 (1.07 -> 1.45 s,
    // for both the wide-shingle and the slim band-row variants: the
    // materialization barrier costs more than the second minhash fold),
    // and the verify step already pins its candidate-pruned slice.
    val candidates = BlockedPairs.bandCandidates(withSig, "doc_id",
      bandKeys(col("sig"), bands, rowsPerBand), "doc_a", "doc_b")
    // verifyJaccard materializes the candidate set, so the band self-join
    // is executed once, not recomputed per broadcast
    verifyJaccard(candidates, sh, threshold, maxCandidates = maxCandidates)
  }

  /** Exact Jaccard on (doc_a, doc_b) candidate pairs given shingle sets.
    *
    * CONTRACT: candidates must be POST-BLOCKING — the output of a banding /
    * chunking / `minShared`-style pre-aggregation step, never "every pair
    * sharing >= 1 token" (that set grows quadratically with corpus size;
    * feeding it here once cost a 34x bench regression). The guard is
    * enforced: candidate sets larger than maxCandidates are rejected with
    * instructions to pre-aggregate. For the all-pairs-scoring use case use
    * [[ngramJaccardPairs]], which scores count-based on the inverted index
    * and never materializes a candidate list.
    *
    * Candidates are materialized internally ([[materializeCandidates]]:
    * localCheckpoint by default, a temp-parquet sink via
    * `spark.graft.candidateMaterialize=sink`), required because the set
    * is counted once for the guard/broadcast decision and joined twice.
    * Unlike [[connectedComponents]]'s input (an UNCUT pair plan where
    * the sink's AQE skew-splitting was worth 146 s -> 63 s), every
    * candidate plan reaching this function is post-blocking with BOUNDED
    * join groups (df cut / band buckets), so plan freezing costs no
    * skew rescue here — see [[materializeCandidates]] for the measured
    * choice. When the set is
    * bounded (<= maxBroadcastCandidates pairs, ~32 MB of ids at the 2M
    * default) the wide shingle table NEVER shuffles: its rows stream once
    * through a broadcast id semi-join that keeps only candidate members
    * (<= 2n of the corpus's n_docs rows — at 5M docs and 258k candidates
    * that is a 10x width-weighted cut), the pruned slice is checkpointed,
    * and the pair join runs between two candidate-sized sides. Larger
    * sets fall back to plain equi-joins that shuffle the full shingle
    * table on doc_a / doc_b — same output, bounded driver memory.
    * Callers with a genuinely large post-blocking set raise maxCandidates
    * (threaded through [[minhashPairs]]/[[winnowingPairs]]) rather than
    * loosening blocking. Defaults note: [[DefaultMaxBroadcastCandidates]]
    * > [[DefaultMaxCandidates]] deliberately (asserted at class load,
    * see the constants) — at defaults every admitted set takes the
    * broadcast-pruned path and the equi-join fallback is reachable only
    * when a caller raises maxCandidates past the broadcast bound (as the
    * harness's scale queries do with 16M); the broadcast hints stay
    * bounded at ~32 MB of pair ids either way because the guard rejects
    * anything larger before a hint is placed. */
  def verifyJaccard(candidates: DataFrame, sh: DataFrame, threshold: Double,
      maxBroadcastCandidates: Long = DefaultMaxBroadcastCandidates,
      maxCandidates: Long = DefaultMaxCandidates,
      shPinned: Boolean = false): DataFrame = {
    val cand = materializeCandidates(candidates)
    val n = cand.count()
    require(n <= maxCandidates,
      s"verifyJaccard got $n candidate pairs (> maxCandidates=$maxCandidates). " +
        "Per-pair verification over full shingle arrays must only run on a " +
        "post-blocking candidate set; pre-aggregate (band buckets, minShared " +
        "counts, a df cut) before verifying, or raise maxCandidates only if " +
        "the set is genuinely post-blocking.")
    val small = n <= maxBroadcastCandidates
    val shSlim =
      if (!small || shPinned) sh
      // shPinned: the caller's sh is ALREADY a materialized checkpoint
      // (winnowingPairs' base), so the member prune below would buy
      // nothing it exists for — its checkpoint bounds RE-COMPUTATION of
      // an expensive sh plan, but re-reading a pin is one columnar-ish
      // block scan — while costing a second full-width serialization of
      // every candidate MEMBER's shingle arrays (at high duplicate rates
      // the member set approaches the whole corpus). The two pair joins
      // below just stream the pin twice through the broadcast instead.
      else {
        // candidate-member prune: ids is <= 2n longs, broadcast once; the
        // wide rows stream through the probe (no shuffle, no sort) and
        // only members reach the checkpoint. Serialized storage: the rows
        // carry full shingle arrays.
        val ids = cand
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        Compute.checkpointSer(sh.join(broadcast(ids), "doc_id"))
      }
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val sa = shSlim.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = shSlim.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val withA = sa.join(hinted(cand), "doc_a")
    sb.join(withA, "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("jac_raw", jaccard(col("common"), size(col("sh_a")), size(col("sh_b"))))
      .transform(BlockedPairs.scoreTail(_, "doc_a", "doc_b", "jac_raw", threshold, 4, "jaccard"))
  }

  /** Jaccard from counts: |A ∩ B| / (|A| + |B| - |A ∩ B|). */
  private def jaccard(common: Column, sizeA: Column, sizeB: Column): Column =
    common.cast(DoubleType) / (sizeA + sizeB - common)

  /** The signature bits SimHash sets: the md5-low-60 kernel leaves bits
    * 60-63 at 0, so a chunk over them would key on constants. */
  private val SimhashBits = 60

  /** Smallest agree-subset size m (see [[simhashPairs]]) whose block-key
    * space keeps expected candidates ~linear in the corpus. A key of
    * m x (60/(maxHamming+m)) bits over C(maxHamming+m, m) subsets emits
    * ~subsets x n^2 / 2^keyBits uniform-hash candidates; pick the
    * smallest m bounding that at `budget` candidates per document.
    * At maxHamming = 3: m = 1 (4 x 15-bit chunks) up to ~262k docs,
    * m = 2 (10 x 24-bit keys) to ~53M, m = 3 (20 x 30-bit keys) to
    * ~1.7B — a fixed 15-bit key space saturates past 2^15 docs and
    * candidate mass turns quadratic (measured: 34x wall for the
    * 100x -> 1000x decade at 5M docs before this derivation existed). */
  def simhashAgreeChunks(nDocs: Long, maxHamming: Int = 3,
      budget: Int = 32): Int =
    (1 to 4).find { m =>
      val keyBits = math.min(62, m * (SimhashBits / (maxHamming + m)))
      val subsets = (0 until m).map(i => (maxHamming + m - i).toDouble / (i + 1))
        .product
      subsets * nDocs.toDouble <= budget.toDouble * math.pow(2.0, keyBits)
    }.getOrElse(4)

  /** The bit mask of each of `chunks` SimHash block chunks: chunk c
    * covers bits [c*width, (c+1)*width) of the 60 live bits, width =
    * 60 / chunks, and the last chunk also takes the remainder. */
  private[operators] def simhashChunkMasks(chunks: Int): IndexedSeq[Long] = {
    val width = SimhashBits / chunks
    (0 until chunks).map { c =>
      val end = if (c == chunks - 1) SimhashBits else (c + 1) * width
      ((1L << end) - 1) & ~((1L << (c * width)) - 1)
    }
  }

  /** SimHash near-dup pairs: pigeonhole blocking + exact Hamming
    * verification via bit_count(xor). The signature's 60 live bits are
    * split into maxHamming + agreeChunks chunks ([[simhashChunkMasks]]);
    * any pair within the threshold differs in at most maxHamming
    * chunks, so it AGREES on at least
    * agreeChunks of them — every size-agreeChunks subset of chunk values
    * becomes a block key (C(chunks, agreeChunks) keys per doc) and
    * recall is exact at every threshold.
    *
    * agreeChunks trades replication for key width: m = 1 is the classic
    * 4-table config (4 keys/doc of 15 bits, saturates past 2^15 docs —
    * at 5M docs every bucket holds ~150 docs and the join is
    * quadratic); m = 3 emits 20 keys/doc but blocks on 30-bit keys.
    * [[simhashAgreeChunks]] derives the smallest m whose key space keeps
    * candidates ~linear — the multi-table scheme of Manku et al., WWW'07
    * (near-duplicate detection for web crawling). Keys are xxhash64
    * folds of (subset id, chunk values); a 64-bit collision only ADDS a
    * candidate, which exact verification then filters, so the OUTPUT is
    * blocking-invariant: the all-pairs hamming <= maxHamming answer for
    * the md5-low-60 token-hash signature at any agreeChunks. Any engine
    * can recompute that signature, so the registered dedup_simhash query
    * carries a full (blocking-free, all-pairs) DuckDB oracle. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      agreeChunks: Int = 1): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 15,
      s"maxHamming must be in [1,15], got $maxHamming")
    require(agreeChunks >= 1 && agreeChunks <= 4,
      s"agreeChunks must be in [1,4], got $agreeChunks")
    val masks = simhashChunkMasks(maxHamming + agreeChunks)
    // pinned once: the keyed frame self-joins (a/b), and unpinned each
    // side replays the tokenize + simhash fold — the dominant per-row
    // compute. Two longs per doc: trivially checkpointable at any scale.
    // compute-budget partitioning (the shingled discipline): the
    // tokenize + simhash fold is per-row compute at scan parallelism —
    // a single-file corpus would fold the whole corpus in one task
    val base = Compute.toComputeBudget(docs)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), HashFunctions.simhash(col("toks")).as("sim"))
      .localCheckpoint(true)
    // a chunk's value is the signature under its mask, left in place:
    // two docs agree on the chunk exactly when these are equal
    def cval(c: Int): Column = col("sim").bitwiseAND(lit(masks(c)))
    val keys = masks.indices.combinations(agreeChunks).toSeq.zipWithIndex
      .map { case (s, i) => xxhash64((lit(i) +: s.map(cval)): _*) }
    val keyed = base.select(col("doc_id"), col("sim"),
      explode(array(keys: _*)).as("bkey"))
    BlockedPairs.inBlock(keyed, Seq("bkey"), "doc_id", "doc_a", "doc_b",
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winnowing-based near-dup candidates: inverted index over the
    * fingerprints (~2/(w+1) the size of a full shingle index — at 100 TB
    * this is the w/2-fold cheaper shuffle), pairs sharing >= minShared
    * fingerprints verified with exact Jaccard.
    *
    * Recall contract: a pair is surfaced iff it shares >= minShared
    * fingerprints each appearing in <= maxDf documents. Without the df
    * consideration, winnowing guarantees surfacing any pair sharing a
    * token run of length >= w + n - 1; the cut additionally drops runs
    * whose every fingerprint is corpus-wide boilerplate (df > maxDf) —
    * exactly the pairs whose "similarity" is the boilerplate itself.
    * Verification is unaffected: surfaced pairs carry their exact
    * full-set Jaccard.
    *
    * Fingerprints use the md5-low-60-bits gram hash: any engine with
    * md5 reproduces the candidate surfacing (and hence the full output)
    * bit-for-bit, so the registered dedup_winnowing query carries a
    * complete DuckDB oracle. */
  def winnowingPairs(docs: DataFrame, threshold: Double,
      n: Int = 3, w: Int = 4, minShared: Int = 2, maxDf: Int = 1000,
      maxCandidates: Long = DefaultMaxCandidates): DataFrame = {
    // one tokenization pass: fingerprints (candidate index) and shingles
    // (verification sets) are both derived from the same `toks` projection
    // and the frame is localCheckpoint-ed, so the corpus is tokenized and
    // shingled once, not once per consumer. The checkpoint is linear in
    // corpus size (same order as the shuffle verifyJaccard would pay to
    // re-shingle) and is dropped with the session.
    // compute-budget partitioning (the shingled discipline): tokenize +
    // shingle + winnow is per-row compute, and EVERYTHING downstream of
    // this checkpoint (the index explode, the candidate self-join's
    // probe, the pair aggregation) inherits its partitioning — on a
    // single-file corpus the entire pipeline ran in one task (measured
    // at the 10x replica: candidates stage 83 s, one straggler)
    val base = Compute.toComputeBudget(docs)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"),
        TextFunctions.shingles(col("toks"), n).as("sh"),
        HashFunctions.winnowing(col("toks"), n, w).as("fp"))
      .filter(size(col("sh")) > 0)
      .transform(Compute.checkpointSer) // wide shingle+fp arrays: serialized storage (OOM'd an 8g heap deserialized at sf~1)
    val inv = base.filter(size(col("fp")) > 0)
      .select(col("doc_id"), explode(col("fp")).as("f"))
    val candidates = BlockedPairs.sharedKeyCounts(inv, "f", "doc_id", maxDf,
        "doc_a", "doc_b", "shared")
      .filter(col("shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
    verifyJaccard(candidates, base.select(col("doc_id"), col("sh")), threshold,
      maxCandidates = maxCandidates, shPinned = true)
  }

  /** All-pairs n-gram Jaccard via an inverted gram-hash index with
    * COUNT-BASED scoring: explode gram hashes -> optional df cut ->
    * self-join on the gram -> groupBy(doc_a, doc_b).count -> join per-doc
    * set sizes -> Jaccard from counts. This is the shape that survives
    * 100 TB: the quadratic step lands inside a map-side-combinable pair
    * aggregation, there is no per-pair re-verification over full shingle
    * arrays, and no candidate list is ever materialized or broadcast.
    * (A round-3 rewrite that routed "every pair sharing >= 1 gram" through
    * [[verifyJaccard]] cost 34x at sf0.1 — the count-based shape is also
    * exactly the query's DuckDB oracle.)
    *
    * maxDf contract: with the default (Int.MaxValue) no gram is dropped
    * for being frequent (the df pass still runs, for the output-invariant
    * minDf = 2 unique-gram prune) and the result is the complete exact
    * all-pairs answer — this is the oracle-checked configuration, exact
    * regardless of corpus df shape.
    * A finite maxDf drops grams with document frequency > maxDf BEFORE the
    * self-join, bounding every posting list (worst-case fan-out maxDf^2/2
    * per gram — the boilerplate skew-bomb guard for dirty corpora). Under
    * the cut, `common` counts only surviving grams, so the reported
    * jaccard is a lower bound of the true value, pairs whose entire
    * overlap is boilerplate (every common gram over maxDf) are dropped,
    * and the result is exact iff maxDf >= the corpus's max gram df.
    * Before running the default (uncut) path on an unfamiliar corpus,
    * check [[gramDfStats]]: the worst-case join fan-out is
    * sum(df^2)/2 over its rows, and a max_df in the thousands means one
    * boilerplate gram is about to emit millions of join rows. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = shingled(docs)
    // join on the 64-bit gram hash, not the gram text: same pairs (64-bit
    // collisions are vanishingly rare) at a fraction of the shuffle bytes.
    // The exploded hash index is pinned ONCE (gramContamination's 16-
    // bytes-per-gram discipline): the unpinned plan consumed the shingle
    // chain SIX times — the df aggregate and gram rejoin on each
    // self-join side plus two per-doc size lookups — each replaying the
    // scan + round-robin + tokenize + shingle chain (measured at sf0.1:
    // six full-text scans and six 32-way text shuffles for one answer).
    // Pinning the WIDE shingle frame instead was measured slower:
    // string-array serialization costs more than the longs.
    val grams0 = sh
      .select(col("doc_id"), explode(transform(col("sh"), g => xxhash64(g))).as("gram"))
      .transform(Compute.checkpointSer)
    // per-doc shingle-set size == the doc's exploded gram count (explode
    // emits one row per array entry, duplicates included) — derived from
    // the pinned longs instead of re-shingling the corpus per join side
    val sizes = grams0.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // per-doc set sizes come from the PRE-cut `sizes` aggregate above, so
    // the df cut's unique-gram prune is output-invariant here too
    BlockedPairs.sharedKeyCounts(grams0, "gram", "doc_id", maxDf, "doc_a", "doc_b", "common")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jac_raw", jaccard(col("common"), col("n_a"), col("n_b")))
      .transform(BlockedPairs.scoreTail(_, "doc_a", "doc_b", "jac_raw", threshold, 4, "jaccard"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components with
    * min-doc_id labels, i.e. the transitive closure a dedup pipeline
    * actually applies (A~B and B~C must yield one keeper, not two
    * independent pair decisions). Returns (doc_id, cluster_keeper,
    * n_members) for every document that appears in a pair; the keeper is
    * the component's minimum doc_id.
    *
    * Iterative min-label propagation over the edge list: each round every
    * node takes the min of its own and its neighbors' labels. Rounds
    * needed = O(log n): each round hooks to the minimum neighbor label
    * (Hash-Min) and then pointer-jumps (label <- label(label)), so the
    * distance the minimum has propagated at least doubles per round —
    * a path-shaped component of length d converges in ~log2(d) rounds,
    * not d (near-dup graphs are usually dense clusters of copies that
    * converge in 2-3 rounds either way; the jump step is what makes
    * adversarial long chains safe at scale). maxIter=64 therefore
    * covers any component a cluster could hold (2^64 ids); the
    * non-convergence throw is a defensive backstop, not a reachable
    * contract limit.
    * Each round is two shuffle joins on the PAIR list, which at 100 TB
    * is orders of magnitude smaller than the corpus (it is the
    * post-blocking dedup output) — the driver only orchestrates, labels
    * never leave the cluster, localCheckpoint truncates the growing
    * lineage. Correctness of the fixpoint: labels only ever take values
    * of ids inside the same component (hook moves them along edges,
    * jump follows a label that is itself in-component), are monotone
    * non-increasing, and a fixpoint where two neighbors disagree would
    * still hook — so at convergence every member carries the component
    * minimum.
    *
    * Pair lists at or under `driverMax` (default = the 1M candidate-set
    * contract verifyJaccard already enforces upstream) short-circuit to a
    * driver-side union-find: the same answer, one collect of an
    * already-bounded list instead of diameter-many distributed rounds —
    * the IVF-centroid pattern (a provably tiny model may sit on the
    * driver). The iterative path remains the scale route for pair lists
    * produced outside that contract.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 64,
      driverMax: Long = 1000000L): DataFrame = {
    // Materialize BEFORE the u/v-swap union — both edge directions (and
    // every propagation round) must reread the pair list, not recompute
    // the candidate-generation plan per branch — and materialize through
    // a temp-parquet SINK, not localCheckpoint: Dataset.localCheckpoint
    // (and persist) freeze the physical plan before AQE runs, so the
    // candidate self-join upstream loses adaptive skew-splitting and its
    // hot-key partitions run as one-task stragglers (measured on the
    // 5M-doc gen corpus: 146 s via localCheckpoint, 502 s via persist,
    // 63 s for the identical plan through a sink). The round-trip keeps
    // the expensive plan on the adaptive path; the reread is a trivial
    // columnar scan of the (post-blocking, dedup-output-sized) list,
    // and the parquet footer makes the driver-path count metadata-only.
    val p0 = sinkMaterialize(pairs.select(col("doc_a"), col("doc_b")))
    if (p0.count() <= driverMax) return unionFindOnDriver(p0)
    val edges = p0.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(p0.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // hook: take the minimum label over self + neighbors
      val neighborMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("nlabel")), "v")
        .groupBy(col("u").as("id")).agg(min(col("nlabel")).as("nmin"))
      val hooked = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // jump: label <- label(label). Every label value is itself an id in
      // the label table (labels are ids, seeded from the id column), so
      // the self-join hits; the left join + coalesce only guards the
      // invariant, it is not load-bearing. This is the pointer-doubling
      // step that turns O(diameter) rounds into O(log n). hooked feeds
      // BOTH sides of the jump join — checkpoint it or the hook
      // join+aggregation plan executes twice per round.
      val hookedCp = hooked.localCheckpoint()
      val updated = hookedCp.join(
          hookedCp.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("jump"), col("label")).as("label"))
        .localCheckpoint()
      converged = updated.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).isEmpty
      labels = updated
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "with min-hooking + pointer jumping this needs a component of " +
          "more than 2^maxIter members - investigate the pair list")
    val sizes = labels.groupBy(col("label").as("cluster_keeper"))
      .agg(count(lit(1)).as("n_members"))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_keeper"))
      .join(sizes, "cluster_keeper")
      .select(col("doc_id"), col("cluster_keeper"), col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** Materialization point for [[verifyJaccard]]'s candidate set, with
    * the strategy selectable via `spark.graft.candidateMaterialize`
    * (`localCheckpoint` — the default — or `sink`).
    *
    * Why localCheckpoint here when [[connectedComponents]] measured the
    * sink 2.3x faster for ITS input: that input is the UNCUT ngram pair
    * plan, whose inverted-index self-join carries real key skew that
    * only the sink's full-AQE execution can split at runtime. Every
    * candidate plan reaching verifyJaccard is already skew-BOUNDED by
    * construction — the df cut caps every posting list at maxDf (join
    * fan-out <= maxDf^2/2 per key) and LSH banding keeps bucket sizes
    * near-constant — so plan freezing forfeits no skew rescue.
    * Measured at the 5M-doc gen corpus (paired strategy alternation
    * inside one JVM, PLANS_r11 §1): localCheckpoint 151.5/98.7/185.4 s
    * vs sink 151.6/218.7/67.2 s end-to-end winnowing — statistically
    * indistinguishable under the box's 2-3x ambient swing, while at
    * sf0.1 the sink's fixed write+read+listing cost is a real ~10-20%
    * on the 1-2 s verify-family queries. On a MULTI-EXECUTOR cluster,
    * prefer `sink` via the conf: localCheckpoint blocks are
    * non-replicated executor-local state with truncated lineage (an
    * executor loss kills the job), while the sink round-trips through
    * shared scratch (`spark.graft.scratchDir`) and recomputes like any
    * scan. */
  private def materializeCandidates(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.candidateMaterialize") match {
      case Some("sink") => sinkMaterialize(df)
      case _ => df.localCheckpoint()
    }

  /** Materialize a DataFrame through a temp-parquet round-trip. Unlike
    * localCheckpoint/persist this executes the producing plan on the
    * full adaptive path (AQE partition coalescing AND skew-join
    * splitting — both are lost when a plan is frozen for caching), which
    * is decisive when the plan contains a skewed self-join. Files go
    * under `spark.graft.scratchDir` (any Hadoop-visible FS — on a
    * cluster set it to shared scratch storage; defaults to the local
    * tmpdir, right for local[*]) and are reaped at JVM exit via the
    * filesystem's deleteOnExit hook — the returned DataFrame reads them
    * lazily, so eager deletion is impossible and per-session leakage is
    * bounded by the materialized bytes. */
  private def sinkMaterialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val root = spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val path = new org.apache.hadoop.fs.Path(root,
      s"graft-sink-mat-${java.util.UUID.randomUUID}")
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(path)
    df.write.mode("overwrite").parquet(path.toString)
    spark.read.parquet(path.toString)
  }

  /** Union-find (path compression, union-by-min so the root IS the
    * component minimum) over a driver-collected pair list. Only called on
    * lists bounded by the verifyJaccard candidate contract. */
  private def unionFindOnDriver(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byRoot = parent.keys.toSeq.map(id => id -> find(id))
    val sizes = byRoot.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    byRoot.sortBy(_._1)
      .map { case (id, root) => (id, root, sizes(root)) }
      .toDF("doc_id", "cluster_keeper", "n_members")
      .orderBy(col("doc_id"))
  }

  /** Gram document-frequency profile of a corpus — the pre-flight check
    * for [[ngramJaccardPairs]]'s maxDf choice. One aggregation pass over
    * the inverted index; returns a single row with the max / p99 / p50
    * gram df and the quadratic fan-out the self-join would pay uncut
    * (sum of df^2 / 2). A `fanout_uncut` orders of magnitude above the
    * corpus document count is the boilerplate skew bomb: pick a finite
    * maxDf (recall contract on [[ngramJaccardPairs]]) before joining. */
  def gramDfStats(docs: DataFrame, n: Int = 3): DataFrame =
    shingled(docs, n)
      .select(col("doc_id"), explode(transform(col("sh"), g => xxhash64(g))).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .agg(
        max(col("df")).as("max_df"),
        percentile_approx(col("df"), lit(0.99), lit(PercentileAccuracy)).as("p99_df"),
        percentile_approx(col("df"), lit(0.5), lit(PercentileAccuracy)).as("p50_df"),
        count(lit(1)).as("n_grams"),
        // double product for the same overflow reason as pairMassStats
        (sum(col("df").cast("double") * col("df")) / 2).cast(LongType).as("fanout_uncut"))

  /** Pair-mass profile of a blocked pair enumeration — [[gramDfStats]]
    * generalized from the inverted-index fan-out to ANY blocking key.
    * Groups `df` by `key` and returns one row: the exact number of
    * unordered within-group pairs a group-equi-join would enumerate
    * (`pair_mass` = sum over groups of sz*(sz-1)/2), the row count, the
    * group count, and the max / p99 group size. One aggregation pass.
    *
    * This is the PREFLIGHT for every quadratic verify stage: pair mass is
    * the compute a blocked join pays before any threshold filters, so an
    * operator with a per-row compute contract checks
    * `pair_mass <= rows x budget` and refuses (with these stats in the
    * message) instead of launching a job that is quadratic-over-budget —
    * the same fail-fast discipline as [[ngramJaccardPairs]]'s maxDf
    * contract, but on the group-size distribution rather than gram df. */
  def pairMassStats(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("__k")).agg(count(lit(1)).as("sz"))
      .agg(
        // per-group product in DOUBLE: long sz*(sz-1) wraps NEGATIVE at
        // sz >= ~3.04e9 — i.e. exactly at the degenerate-group scale this
        // preflight exists to refuse — and a wrapped sum could slip under
        // the budget. Double never wraps; the final cast saturates at
        // Long.MaxValue, which correctly fails any budget.
        sum(col("sz").cast(DoubleType) * (col("sz") - 1) / 2).cast(LongType).as("pair_mass"),
        sum(col("sz")).cast(LongType).as("n_rows"),
        count(lit(1)).as("n_groups"),
        max(col("sz")).cast(LongType).as("max_group"),
        percentile_approx(col("sz"), lit(0.99), lit(PercentileAccuracy)).cast(LongType).as("p99_group"))

  // the accuracy SQL's two-argument percentile_approx defaults to
  private val PercentileAccuracy = 10000
}
