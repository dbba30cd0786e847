package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, size, sum}

import graft.{QueryDef, Tables}
import graft.operators.{Dedup, Similarity}

/** Dedup + similarity-search harness queries over documents/embeddings.
  * Exact variants carry DuckDB oracles — including dedup_minhash_lsh,
  * whose 0.9 threshold puts banding recall at ~1 so its output equals
  * the exact-Jaccard answer. The IVF family pins its trained centroid
  * model at run time so the oracle replays cell assignment in plain SQL
  * (see pinnedCents). Hash-based variants whose output genuinely depends
  * on Spark-specific hashing (simhash chunks, winnowing window minima)
  * get the rows-only check plus cross-operator scalatest coverage (hash
  * candidates must recover the exact-Jaccard pairs).
  */
object SimilarityQueries {

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactKeepers(Tables.documents(s, dir))
      .orderBy(org.apache.spark.sql.functions.col("keeper_id"))

  private val dedupExactSql =
    """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin

  // registered at threshold 0.9, where 16-band x 4-row banding recall is
  // 1 - (1 - 0.9^4)^16 ~ 1 - 4e-8 per qualifying pair — the miss
  // probability of the whole corpus is negligible, so the output equals
  // the exact all-pairs Jaccard answer and the query carries a full
  // DuckDB oracle (same SQL family as dedup_ngram_jaccard, >= 0.9).
  // Lower thresholds (where banding genuinely trades recall for work)
  // remain available on Dedup.minhashPairs and are recall-specced in
  // DedupSpec.
  // maxCandidates raised like dedup_winnowing's: at threshold 0.9 the
  // banded candidates are almost all TRUE duplicate pairs, so the bound
  // must scale with duplicate mass (a 10x-replicated corpus has ~1M
  // genuine pairs), not sit at the unblocked-input tripwire.
  private def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(s, dir), threshold = 0.9,
      maxCandidates = 16000000L)

  // chunk blocking is exact-recall (pigeonhole), so the output is the
  // all-pairs hamming <= 3 answer for the md5-low-60 signature — which
  // DuckDB recomputes signature-for-signature (per-bit vote aggregation
  // + bit_count(xor)).
  // agreeChunks derived from the corpus cardinality (a metadata-only
  // parquet count): the 4 x 16-bit blocking saturates its key space past
  // 2^16 docs (34x wall measured for the 100x -> 1000x gen decade); wider
  // combinatorial keys keep candidates ~linear, and the OUTPUT is
  // blocking-invariant (exact pigeonhole recall + exact verification),
  // so the all-pairs oracle below is valid at every derived m.
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.simhashPairs(docs, maxHamming = 3,
      agreeChunks = Dedup.simhashAgreeChunks(docs.count()))
  }

  // The final join is PIGEONHOLE-BANDED, not all-pairs: a.doc_id < b.doc_id
  // alone is n^2/2 comparisons (1.25e13 at the 5M-doc gen1000x corpus —
  // hours in any engine), while hamming <= 3 over the 60-bit signature
  // means at most 3 of 5 disjoint 12-bit chunks differ, so every
  // qualifying pair AGREES on at least one of the C(5,2) = 10 chunk
  // 2-subsets — a theorem about the signature, not engine behavior, and
  // deliberately a DIFFERENT decomposition (12-bit chunks, plain
  // 3-column keys) from the engine's 64/(maxHamming+m)-bit xxhash64
  // scheme. Chunk agreement only generates CANDIDATES; the exact
  // bit_count verification then makes the result identical to the
  // all-pairs answer at every corpus size.
  private val dedupSimhashSql =
    """WITH toked AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents
      |), th AS (
      |  -- per-OCCURRENCE token hashes (md5 low 60 bits, the token
      |  -- hash of graft simhash)
      |  SELECT doc_id, CAST('0x' || substring(md5(unnest(toks)), 1, 15) AS BIGINT) AS h
      |  FROM toked WHERE len(toks) >= 1
      |), votes AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bits
      |  GROUP BY 1, 2
      |), sig AS (
      |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sim
      |  FROM votes GROUP BY 1
      |), keyed AS (
      |  -- block keys: the chunk-value pair of every 2-subset of the five
      |  -- 12-bit signature chunks (pigeonhole: hamming <= 3 => >= 2 equal)
      |  SELECT doc_id, sim, p.sid,
      |    (sim >> (p.i * 12)) & 4095 AS cvi,
      |    (sim >> (p.j * 12)) & 4095 AS cvj
      |  FROM sig CROSS JOIN (VALUES (0,0,1),(1,0,2),(2,0,3),(3,0,4),(4,1,2),
      |    (5,1,3),(6,1,4),(7,2,3),(8,2,4),(9,3,4)) AS p(sid, i, j)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.sim AS sa, b.sim AS sb
      |  FROM keyed a JOIN keyed b
      |    ON a.sid = b.sid AND a.cvi = b.cvi AND a.cvj = b.cvj
      |    AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(sa, sb)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.2)

  // the md5-low-60 gram hash lets DuckDB reproduce the fingerprint
  // selection (min-over-window of the same hash), the candidate
  // surfacing, and hence the exact output — a full oracle for a
  // windowed-fingerprint dedup, valid for any corpus, not a
  // data-dependent coincidence.
  // maxCandidates raised above the 1M ad-hoc default: winnowing's
  // candidate set is provably post-blocking (shared distinct window-min
  // fingerprints, minShared >= 2), and on a heavily-duplicated corpus the
  // TRUE pair count itself approaches the candidate count (a 10x
  // replicated corpus has ~1M genuine duplicate pairs — observed 1.035M
  // candidates at sf~1), so the bound must scale with duplicate mass,
  // not sit at the unblocked-input tripwire.
  private def dedupWinnowing(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingPairs(Tables.documents(s, dir), threshold = 0.2,
      maxCandidates = 16000000L)

  private val dedupWinnowingSql =
    """WITH toked AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
      |  FROM toked WHERE len(toks) >= 3
      |), sized AS (
      |  SELECT doc_id, grams, len(grams) AS n FROM sh WHERE len(grams) > 0
      |), gseq AS (
      |  -- ordered (non-distinct) gram sequence, md5-low-60 hash per gram:
      |  -- the gram hash graft winnowingPairs uses
      |  SELECT doc_id, x.pos AS pos, x.h AS h FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> {
      |      'pos': i,
      |      'h': CAST('0x' || substring(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15) AS BIGINT)
      |    })) AS x
      |    FROM toked WHERE len(toks) >= 3
      |  )
      |), wm AS (
      |  -- winnowing, w = 4: min hash over each window of 4 consecutive
      |  -- grams; fingerprint set = DISTINCT window minima (tie-break by
      |  -- position only suppresses duplicate adds, so it drops out)
      |  SELECT doc_id, pos,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS m
      |  FROM gseq
      |), fp AS (
      |  SELECT DISTINCT doc_id, wmin AS f
      |  FROM wm WHERE pos <= m - 3 OR (m < 4 AND pos = 1)
      |), fpc AS (
      |  -- df cut at maxDf = 1000
      |  SELECT doc_id, f FROM fp WHERE f IN (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= 1000)
      |), cand AS (
      |  -- pairs sharing >= minShared = 2 fingerprints
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM fpc a JOIN fpc b ON a.f = b.f AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |), g AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM sized
      |), pairs AS (
      |  -- exact Jaccard verification on the candidates only
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
      |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b AND a.gram = b.gram
      |  GROUP BY 1, 2
      |)
      |SELECT p.doc_a, p.doc_b,
      |  ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
      |FROM pairs p
      |JOIN sized sa ON p.doc_a = sa.doc_id
      |JOIN sized sb ON p.doc_b = sb.doc_id
      |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact all-pairs 3-gram Jaccard in DuckDB at the given threshold —
    * the oracle for dedup_ngram_jaccard (0.2) and, via the ~1 banding
    * recall at 0.9, for dedup_minhash_lsh. */
  private def jaccardPairsSql(threshold: Double) =
    s"""WITH toked AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
      |  FROM toked WHERE len(toks) >= 3
      |), sized AS (
      |  SELECT doc_id, grams, len(grams) AS n FROM sh WHERE len(grams) > 0
      |), g AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM sized
      |), pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 4) AS jaccard
      |FROM pairs
      |JOIN sized sa ON doc_a = sa.doc_id
      |JOIN sized sb ON doc_b = sb.doc_id
      |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= $threshold
      |ORDER BY doc_a, doc_b""".stripMargin

  private val dedupNgramJaccardSql = jaccardPairsSql(0.2)
  private val dedupMinhashSql = jaccardPairsSql(0.9)

  // near-dup CLUSTERS: connected components over the exact-Jaccard pair
  // list — the transitive closure a dedup pipeline actually applies
  // (A~B, B~C => one keeper for all three). Oracle: DuckDB recursive CTE
  // computing min-reachable-id per node over the same pair list.
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.2))

  // the jaccard-0.2 pair list as a standalone SQL body (shared by the
  // clusters oracle and the end-to-end pipeline oracle)
  private val jaccardPairsOnlySql =
      """WITH toked AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
        |  FROM toked WHERE len(toks) >= 3
        |), sized AS (
        |  SELECT doc_id, grams, len(grams) AS n FROM sh WHERE len(grams) > 0
        |), g AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM sized
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b
        |FROM pairs JOIN sized sa ON doc_a = sa.doc_id JOIN sized sb ON doc_b = sb.doc_id
        |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2""".stripMargin

  private val dedupClustersSql =
    s"""WITH RECURSIVE p AS ($jaccardPairsOnlySql),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION ALL SELECT doc_b, doc_a FROM p),
      |reach AS (
      |  SELECT DISTINCT u AS id, u AS lab FROM edges
      |  UNION
      |  SELECT e.u AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.v
      |),
      |labels AS (SELECT id, MIN(lab) AS cluster_keeper FROM reach GROUP BY id),
      |sizes AS (SELECT cluster_keeper, COUNT(*) AS n_members FROM labels GROUP BY 1)
      |SELECT l.id AS doc_id, l.cluster_keeper, s.n_members
      |FROM labels l JOIN sizes s USING (cluster_keeper)
      |ORDER BY doc_id""".stripMargin

  // ---- quality-aware keeper selection: real dedup pipelines keep the
  // BEST member of each near-dup cluster (longest / highest-scoring),
  // not the lowest id. One row per cluster: the argmax by (n_chars,
  // then id) via a per-cluster rank — cluster count is corpus-bounded
  // and the window partitions by cluster key, so no single-task sort.
  // Composition query (re-runs the ngram candidate machinery): excluded
  // from the default bench loop like dedup_clusters.
  private def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.2))
    val w = Window.partitionBy(col("cluster_keeper"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters.join(docs, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("cluster_keeper").as("cluster_id"),
        col("doc_id").as("best_doc_id"), col("n_members"),
        col("n_chars").cast("bigint").as("best_n_chars"))
      .orderBy(col("cluster_id"))
  }

  private lazy val dedupKeepBestSql =
    s"""WITH RECURSIVE p AS ($jaccardPairsOnlySql),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION ALL SELECT doc_b, doc_a FROM p),
      |reach AS (
      |  SELECT DISTINCT u AS id, u AS lab FROM edges
      |  UNION
      |  SELECT e.u AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.v
      |),
      |labels AS (SELECT id, MIN(lab) AS cluster_keeper FROM reach GROUP BY id),
      |sizes AS (SELECT cluster_keeper, COUNT(*) AS n_members FROM labels GROUP BY 1),
      |ranked AS (
      |  SELECT l.id AS doc_id, l.cluster_keeper, s.n_members, d.n_chars,
      |    row_number() OVER (PARTITION BY l.cluster_keeper
      |      ORDER BY d.n_chars DESC, l.id) AS rnk
      |  FROM labels l JOIN sizes s USING (cluster_keeper)
      |  JOIN documents d ON d.doc_id = l.id
      |)
      |SELECT cluster_keeper AS cluster_id, doc_id AS best_doc_id,
      |  n_members, CAST(n_chars AS BIGINT) AS best_n_chars
      |FROM ranked WHERE rnk = 1 ORDER BY cluster_id""".stripMargin

  // ---- the pipeline, end to end: near-dup clusters -> keep one doc per
  // cluster -> pack the surviving corpus into 5000-token shards. One
  // composed lazy plan across three operator families (Dedup blocking +
  // connected components, anti-join survivor selection, Packing's
  // two-phase prefix sum) — the shape a real training-data preparation
  // run executes, oracle-checked end to end.
  private def pipelineDedupPack(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(s, dir)
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, threshold = 0.2))
    val losers = clusters.filter(col("doc_id") =!= col("cluster_keeper"))
      .select(col("doc_id"))
    val survivors = docs.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(org.apache.spark.sql.types.LongType).as("w"))
    graft.operators.Packing.packShards(survivors, col("doc_id"), col("w"), 5000L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_toks"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  private val pipelineDedupPackSql =
    s"""WITH RECURSIVE p AS ($jaccardPairsOnlySql),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM p UNION ALL SELECT doc_b, doc_a FROM p),
      |reach AS (
      |  SELECT DISTINCT u AS id, u AS lab FROM edges
      |  UNION
      |  SELECT e.u AS id, r.lab AS lab FROM edges e JOIN reach r ON r.id = e.v
      |),
      |labels AS (SELECT id, MIN(lab) AS cluster_keeper FROM reach GROUP BY id),
      |losers AS (SELECT id FROM labels WHERE id <> cluster_keeper),
      |surv AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w
      |  FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
      |), c AS (
      |  SELECT doc_id, w,
      |    COALESCE(SUM(w) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM surv
      |)
      |SELECT CAST(cum // 5000 AS BIGINT) AS shard, COUNT(*) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS sum_toks,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM c GROUP BY 1 ORDER BY shard""".stripMargin

  private def simTopkBrute(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, dir), queryVecId = 0L, k = 10)

  // top-k over int8-quantized embeddings, scored entirely in the int8
  // domain (long integer MAC over the quantized bytes; scales cancel in
  // the cosine) — never dequantized, so the 4x byte saving of the
  // quantized index holds in the scoring scan, not just at rest. At scale
  // the quantize8 struct is a landed column; here it is computed in the
  // same scan. The all-f64 quantizer and the raw-integer-dot cosine are
  // both bit-reproducible in any IEEE engine, so the query carries a full
  // DuckDB oracle (recall vs float-exact stays spec-checked in
  // SimilaritySpec).
  private def simTopkQuantized(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, round}
    import graft.functions.VectorFunctions.{quantize8, quantizedCosine}
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        quantize8(col("embedding")).as("qz"))
    val q = emb.filter(col("vec_id") === 0L).select(col("qz").as("q_qz"))
    emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        col("label").cast(org.apache.spark.sql.types.LongType).as("label"),
        round(quantizedCosine(col("qz"), col("q_qz")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val simTopkQuantizedSql =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), scaled AS (
      |  SELECT vec_id, label, v,
      |    CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS s
      |  FROM (SELECT vec_id, label, v,
      |          list_max(list_transform(v, y -> abs(y))) AS m FROM e)
      |), q8 AS (
      |  -- graft's quantizer: clamp(floor(v / scale + 0.5)) in f64
      |  SELECT vec_id, label,
      |    list_transform(v, x -> GREATEST(-127.0, LEAST(127.0, FLOOR(x / s + 0.5)))) AS q
      |  FROM scaled
      |), qq AS (
      |  SELECT q FROM q8 WHERE vec_id = 0
      |)
      |SELECT a.vec_id, CAST(a.label AS BIGINT) AS label,
      |  ROUND(list_dot_product(a.q, qq.q) /
      |    NULLIF(sqrt(list_dot_product(a.q, a.q))
      |           * sqrt(list_dot_product(qq.q, qq.q)), 0), 6) AS cos_sim
      |FROM q8 a, qq
      |WHERE a.vec_id <> 0
      |ORDER BY cos_sim DESC, a.vec_id
      |LIMIT 10""".stripMargin

  private val simTopkBruteSql =
    """WITH q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
      |)
      |SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
      |  ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |    NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
      |           * sqrt(list_dot_product(q.qv, q.qv)), 0), 6) AS cos_sim
      |FROM embeddings e, q
      |WHERE e.vec_id <> 0
      |ORDER BY cos_sim DESC, e.vec_id
      |LIMIT 10""".stripMargin

  // ---- pinned IVF centroid models -----------------------------------
  //
  // The k-means model lives in the JVM, so a DuckDB oracle cannot retrain
  // it — but it doesn't have to: each IVF query pins the EXACT float-cast
  // centroids it evaluated (the values assignCluster broadcasts), and the
  // oracle SQL — built by Verify AFTER the queries ran — inlines them as
  // DOUBLE literals. Cell assignment (argmax dot, ties -> lowest id),
  // probe selection and in-cell exact cosine are then plain ANSI SQL with
  // the same sequential-double arithmetic as FloatVectorDot, making the
  // comparison exact even if training itself drifted an ulp between runs.
  // keyed (query name -> dir -> model): if one name is ever pinned
  // against TWO dirs in the same JVM, its oracle is withheld (rows-only)
  // rather than risk inlining dir B's centroids against dir A's dumped
  // result — a stale pin must degrade the check, never falsify it
  private val pinnedCents = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Array[Array[Float]]]]()

  private def pin(name: String, dir: String, cents: Array[Array[Double]]): Unit =
    pinnedCents.merge(name, Map(dir -> cents.map(_.map(_.toFloat))),
      (old, one) => old ++ one)

  private def trainAndPin(s: SparkSession, dir: String, name: String,
      c: Int = 16): Array[Array[Double]] = {
    val cents = Similarity.ivfCentroids(Tables.embeddings(s, dir),
      Similarity.Dim, c, iters = 2, seed = Similarity.Seed)
    pin(name, dir, cents)
    cents
  }

  /** One float as a DuckDB DOUBLE literal: Double.toString round-trips,
    * and the `e0` suffix forces the lexer down the DOUBLE path (a plain
    * 17-digit decimal would parse as DECIMAL(38,..), whose cast back to
    * double can differ in the last ulp). */
  private def dlit(f: Float): String = {
    val s = java.lang.Double.toString(f.toDouble)
    if (s.contains("E")) s else s + "e0"
  }

  /** `(VALUES (0, [..]), ..) AS cents(cluster_id, cv)` from the pinned
    * model; None until the query has run (Verify's dump order guarantees
    * it has). With several dirs pinned, the caller-threaded `dir`
    * (QueryDef.oracleFor) selects the right model; without one the
    * ambiguity degrades to rows-only. */
  private def centsValues(name: String, dir: Option[String]): Option[String] =
    Option(pinnedCents.get(name)).flatMap { byDir =>
      dir match {
        // a set-but-unmatched hint must yield None, NOT fall back to
        // whatever single dir happens to be pinned: emitting another
        // dir's centroids would FALSIFY the compare instead of
        // degrading it to rows-only
        case Some(d) => byDir.get(d)
        case None    => if (byDir.size == 1) Some(byDir.head._2) else None
      }
    }.map { cs =>
      cs.zipWithIndex.map { case (c, i) =>
        s"    ($i, [${c.map(dlit).mkString(", ")}]::DOUBLE[])"
      }.mkString("(VALUES\n", ",\n", ") AS t(cluster_id, cv)")
    }

  // argmax-cosine cell assignment, shared by the three IVF oracles: for
  // unit-ish centroids argmax dot == argmax cosine; row_number's
  // (d DESC, cluster_id) picks the first maximum like array_position
  private val assignedSql =
    """assigned AS (
      |  SELECT vec_id, label, v, cluster_id FROM (
      |    SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, c.cluster_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
      |                 c.cluster_id) AS rn
      |    FROM embeddings e, cents c)
      |  WHERE rn = 1)""".stripMargin

  // one SQL shape for both the retrain-per-call query and the
  // persisted-model probe: the oracle only needs the (pinned) model the
  // query actually evaluated — where that model came from is invisible
  private def ivfTopkSqlFor(name: String)(dir: Option[String]): Option[String] = centsValues(name, dir).map { cv =>
    s"""WITH cents AS (SELECT * FROM $cv),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |probes AS (
      |  SELECT cluster_id FROM (
      |    SELECT c.cluster_id,
      |      row_number() OVER (ORDER BY list_dot_product(c.cv, q.qv) DESC,
      |                         c.cluster_id) AS rn
      |    FROM cents c, q)
      |  WHERE rn <= 6),
      |$assignedSql
      |SELECT a.vec_id, CAST(a.label AS BIGINT) AS label,
      |  ROUND(list_dot_product(a.v, q.qv) /
      |    NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0), 6) AS cos_sim
      |FROM assigned a, q
      |WHERE a.cluster_id IN (SELECT cluster_id FROM probes) AND a.vec_id <> 0
      |ORDER BY cos_sim DESC, a.vec_id
      |LIMIT 10""".stripMargin
  }

  private def simTopkBatchSql(dir: Option[String]): Option[String] = centsValues("sim_topk_batch", dir).map { cv =>
    s"""WITH cents AS (SELECT * FROM $cv),
      |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      |      FROM embeddings WHERE vec_id < 8),
      |probes AS (
      |  SELECT q_id, cluster_id FROM (
      |    SELECT q.q_id, c.cluster_id,
      |      row_number() OVER (PARTITION BY q.q_id
      |        ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cluster_id) AS rn
      |    FROM q, cents c)
      |  WHERE rn <= 6),
      |$assignedSql,
      |scored AS (
      |  SELECT p.q_id, a.vec_id,
      |    list_dot_product(a.v, q.qv) /
      |      NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)), 0) AS cos
      |  FROM probes p
      |  JOIN assigned a ON a.cluster_id = p.cluster_id
      |  JOIN q ON q.q_id = p.q_id
      |  WHERE a.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
      |  FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos))
      |SELECT q_id, CAST(rn - 1 AS INTEGER) AS rank, vec_id
      |FROM ranked WHERE rn <= 10
      |ORDER BY q_id, rank""".stripMargin
  }

  /** The pinned model as one `[[..],..]::DOUBLE[][]` literal (ordered by
    * cluster_id) — the row-explosion-free argmax shape below needs the
    * whole model in a single lambda. */
  private def centsListLit(name: String, dir: Option[String]): Option[String] =
    Option(pinnedCents.get(name)).flatMap { byDir =>
      dir match {
        case Some(d) => byDir.get(d)
        case None    => if (byDir.size == 1) Some(byDir.head._2) else None
      }
    }.map { cs =>
      cs.map(c => c.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ",\n    ", "]::DOUBLE[][]")
    }

  // dedup_semantic's cell count SCALES with the corpus (c = n/128), so
  // its assignment oracle cannot be the row-per-(vec, centroid) window
  // shape the c=16 IVF oracles use: FROM embeddings e, cents c
  // materializes n x c rows each carrying the 64-double vector (~160 GB
  // at 200k x 1563) and exhausts DuckDB. The lambda form — dots =
  // list_transform(model, cv -> dot(v, cv)), cluster =
  // list_position(dots, list_max(dots)) — is one row per vector, same
  // argmax semantics (first maximum = lowest cluster id, like
  // row_number's (d DESC, cluster_id)), measured 11x faster at c=157
  // and byte-identical output.
  private def dedupSemanticSql(dir: Option[String]): Option[String] =
    dedupSemanticSqlFor("dedup_semantic", Similarity.DefaultSemanticThreshold,
      planted = true)(dir)

  private def dedupSemanticLowtauSql(dir: Option[String]): Option[String] =
    dedupSemanticSqlFor("dedup_semantic_lowtau", 0.4)(dir)

  private def dedupSemanticSqlFor(name: String, threshold: Double,
      planted: Boolean = false)(
      dir: Option[String]): Option[String] = centsListLit(name, dir).map { cv =>
    // `planted` replays plantedEmbeddings' deterministic exact-copy union
    // (same modulus, same id offset) so the oracle computes over the
    // IDENTICAL corpus the Spark query did — the plant is part of the
    // query definition, not a fixture mutation
    val corpus =
      if (planted)
        s"""corpus AS (
          |  SELECT vec_id, embedding FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + $PlantIdOffset AS vec_id, embedding
          |  FROM embeddings WHERE vec_id % $PlantModulus = 0),
          |""".stripMargin
      else "corpus AS (SELECT vec_id, embedding FROM embeddings),\n"
    s"""WITH $corpus
      |assigned AS (
      |  SELECT vec_id, CAST(list_position(dots, list_max(dots)) - 1 AS INTEGER) AS cluster_id, v
      |  FROM (
      |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |      list_transform($cv,
      |        cv -> list_dot_product(CAST(embedding AS DOUBLE[]), cv)) AS dots
      |    FROM corpus)),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.v, b.v) /
      |      NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) AS cos
      |  FROM assigned a JOIN assigned b
      |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, ROUND(cos, 6) AS cos_sim
      |FROM pairs WHERE cos >= $threshold
      |ORDER BY id_a, id_b""".stripMargin
  }

  // IVF, not sign-LSH: on this corpus the true neighbors sit at cosine
  // ~0.3, where 16-bit hyperplane signatures agree barely above chance
  // (measured recall 0); the data-adaptive coarse quantizer recalls ~60%
  // of the exact top-10 while scanning 6/16 cells. lshTopK remains for
  // high-cosine (near-duplicate) regimes.
  private def simTopkIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKWith(Tables.embeddings(s, dir),
      trainAndPin(s, dir, "sim_topk_ivf"), queryVecId = 0L, k = 10)

  // the landing-time model lifecycle: train once per corpus, persist the
  // float model as a parquet side table, probe-only thereafter. First
  // invocation trains + saves; every later one (same corpus, any JVM)
  // skips the Lloyd scans entirely. Results are bit-identical to
  // sim_topk_ivf on an unchanged corpus (the stored model IS the
  // float-cast of the deterministic training's output), and the oracle
  // pins whatever model was actually probed, so the check stays truthful
  // even against a model persisted by an earlier session.
  private def simTopkIvfPretrained(s: SparkSession, dir: String): DataFrame = {
    val cents = graft.operators.IvfModelStore.ensure(
      s, Tables.embeddings(s, dir), graft.operators.IvfModelStore.defaultPath(dir),
      Similarity.Dim, c = 16, iters = 2, seed = Similarity.Seed)
    pin("sim_topk_ivf_pretrained", dir, cents)
    Similarity.ivfTopKWith(Tables.embeddings(s, dir), cents, queryVecId = 0L, k = 10)
  }

  // the m-queries-at-once shape: cluster-pruned equi-join + bounded-heap
  // per-query top-k (no cross join, no per-group sort)
  private def simTopkBatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, posexplode}
    val emb = Tables.embeddings(s, dir)
    // one row per (query, rank) — scalar columns only, the driver's pandas
    // comparator cannot sort/hash array cells
    Similarity.ivfBatchTopKWith(emb, emb.filter(col("vec_id") < 8),
        trainAndPin(s, dir, "sim_topk_batch"), k = 10)
      .select(col("q_id"), posexplode(col("topk")).as(Seq("rank", "vec_id")))
      .orderBy(col("q_id"), col("rank"))
  }

  // the uncapped scale path: block-tiled exact pair enumeration — equi-join
  // on tile ids (never BroadcastNestedLoopJoin, plan-shape-asserted), no
  // broadcast limit, no maxVectors cap. Exact by construction; the naive
  // capped all-pairs baseline (Similarity.nearDupPairs) it must reproduce
  // byte-for-byte is a TEST anchor in SimilaritySpec, not a registered
  // query — the registry lists only scale-safe plans.
  private def embedNearDupBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.tiledNearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)

  private val embedNearDupBlockedSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_dot_product(a.v, b.v) /
      |    NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0), 6) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |    NULLIF(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // cross-source near-dup contamination (the train/test leakage check
  // run before any evaluation): near-dup pairs whose two docs come from
  // DIFFERENT sources, aggregated per source pair. Composition over
  // ngramJaccardPairs (same candidate machinery as dedup_ngram_jaccard;
  // excluded from the bench loop like the other compositions) plus two
  // slim (doc_id, source) joins — at scale the pair list is tiny next
  // to the corpus, so these joins broadcast.
  private def dedupCrossSource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{greatest, least}
    val docs = Tables.documents(s, dir)
    val srcA = docs.select(col("doc_id").as("doc_a"), col("source").as("src_a"))
    val srcB = docs.select(col("doc_id").as("doc_b"), col("source").as("src_b"))
    Dedup.ngramJaccardPairs(docs, threshold = 0.2)
      .join(srcA, "doc_a")
      .join(srcB, "doc_b")
      .filter(col("src_a") =!= col("src_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val dedupCrossSourceSql =
    s"""WITH p AS ($jaccardPairsOnlySql)
      |SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b, COUNT(*) AS n_pairs
      |FROM p
      |JOIN documents da ON p.doc_a = da.doc_id
      |JOIN documents db ON p.doc_b = db.doc_id
      |WHERE da.source <> db.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // per-label centroid statistics (the embedding-table profile: class
  // balance + centroid magnitude — collapsed classes show up as
  // near-zero centroid norms). Per-dimension sums are quantized to
  // exact integers (1e-6 resolution) so every aggregation order yields
  // the same value, and the norm's sum of squares stays in exact
  // decimal until one final sqrt — deterministic doubles on both
  // engines. Two bounded shuffles: (label, dim) then label.
  private def embedCentroids(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{posexplode, round => sround, sqrt}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val q = Tables.embeddings(s, dir)
      .select(col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        sround(col("v").cast(DoubleType) * lit(1000000)).cast(LongType).as("q"))
    q.groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("n"),
        (col("sq").cast("decimal(38,0)") * col("sq")).as("sq2"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"), sum(col("sq2")).as("ssq"))
      .select(col("label"), col("n_vecs"),
        sround(sqrt(col("ssq").cast(DoubleType)) / lit(1000000.0) / col("n_vecs"), 6)
          .as("centroid_norm"))
      .orderBy(col("label"))
  }

  private val embedCentroidsSql =
    """WITH x AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    unnest(list_transform(range(1, len(embedding) + 1),
      |      i -> {'dim': i,
      |            'q': CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)})) AS e
      |  FROM embeddings
      |), d AS (
      |  SELECT label, e.dim AS dim, SUM(e.q) AS sq, COUNT(*) AS n
      |  FROM x GROUP BY 1, 2
      |), agg AS (
      |  SELECT label, MAX(n) AS n_vecs, SUM(CAST(sq AS HUGEINT) * sq) AS ssq
      |  FROM d GROUP BY 1
      |)
      |SELECT label, n_vecs,
      |  ROUND(sqrt(CAST(ssq AS DOUBLE)) / 1000000.0 / n_vecs, 6) AS centroid_norm
      |FROM agg ORDER BY label""".stripMargin

  // blocked k-NN graph: exact top-3 neighbors within each label block.
  // The label plays the role an IVF cell or shard id plays at scale —
  // the equi-join on it bounds the quadratic step (see
  // Similarity.knnGraphWithinBlocks). Fully deterministic (f64 cosine,
  // dst_id tie-break), so DuckDB replays it exactly.
  private def simKnnGraph(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphWithinBlocks(Tables.embeddings(s, dir), "label", k = 3)

  private val simKnnGraphSql =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), p AS (
      |  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
      |    list_dot_product(a.v, b.v) /
      |      NULLIF(sqrt(list_dot_product(a.v, a.v))
      |             * sqrt(list_dot_product(b.v, b.v)), 0) AS cr
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
      |), r AS (
      |  SELECT src_id, dst_id, cr,
      |    row_number() OVER (PARTITION BY src_id ORDER BY cr DESC, dst_id) AS knn_rank
      |  FROM p
      |)
      |SELECT src_id, CAST(knn_rank AS BIGINT) AS knn_rank, dst_id,
      |  ROUND(cr, 6) AS cos_sim
      |FROM r WHERE knn_rank <= 3 ORDER BY src_id, knn_rank""".stripMargin

  // range (threshold) search: ALL corpus vectors within cosine >= tau of
  // each probe — the retrieval-augmented-filtering shape (top-k returns a
  // fixed count; range search returns whatever clears the bar). The probe
  // set broadcasts (5 rows), scoring is a codegen'd dot product in the
  // scan projection, the tau filter runs before anything moves — so the
  // corpus never shuffles; only the qualifying sliver reaches the final
  // (small) ordered output. Exact f64 cosine, identical in DuckDB.
  private def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, round}
    import graft.functions.VectorFunctions.cosine
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos_sim", round(cosine(col("embedding"), col("p_emb")), 6))
      .filter(col("cos_sim") >= 0.25)
      .select(col("probe_id"), col("vec_id"),
        col("label").cast("long").as("label"), col("cos_sim"))
      .orderBy(col("probe_id"), col("cos_sim").desc, col("vec_id"))
  }

  private val simRangeSearchSql =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
      |  FROM embeddings WHERE vec_id < 5
      |), scored AS (
      |  SELECT p.probe_id, e.vec_id, CAST(e.label AS BIGINT) AS label,
      |    ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv) /
      |      NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
      |                                   CAST(e.embedding AS DOUBLE[])))
      |             * sqrt(list_dot_product(p.pv, p.pv)), 0), 6) AS cos_sim
      |  FROM embeddings e, p
      |  WHERE e.vec_id <> p.probe_id
      |)
      |SELECT probe_id, vec_id, label, cos_sim
      |FROM scored WHERE cos_sim >= 0.25
      |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin

  // SemDeDup-style semantic dedup: k-means cells bound the quadratic
  // step; pairs only form within a cell. The cell assignment replays in
  // DuckDB from the pinned float model (see pinnedCents above); the
  // subset-of-exact and planted-copy recall contracts in SimilaritySpec
  // stay as defense in depth.
  //
  // Non-vacuous at GATE scale by construction: the sf corpora's organic
  // pairs top out at cosine ~0.51, so the 5-sigma default used to match
  // an EMPTY set there — a real oracle replay, but one that could not
  // catch a silently-empty regression. The query therefore runs over
  // plantedEmbeddings: the sf corpus UNION'd with deterministic exact
  // copies of every 101st vector (~1% of the corpus, new ids at +2^40).
  // An exact copy has cosine 1.0 >= any threshold and assigns to the
  // SAME k-means cell as its source under ANY model (identical vector
  // -> identical dots -> identical argmax), so each plant contributes
  // exactly one (orig, copy) pair; copy-vs-other cosines equal the
  // original's and stay under threshold. The oracle replays the same
  // union, so a 5-sigma path that silently emits nothing now FAILS the
  // oracle row (n/101 expected pairs) instead of passing 0=0. The
  // unplanted operator remains covered by the planted-recall scalatest
  // gate and by semanticDupPairs callers; dedup_semantic_lowtau stays
  // unplanted (its organic 21-pair row is the natural-corpus check).
  //
  // The cell count is corpus-derived (Similarity.scaledCellCount):
  // constant cell SIZE keeps the in-cell quadratic step linear in n —
  // fixed c = 16 measured 57x wall for one 10x decade (227 s, 1.9M
  // organic-noise rows at 500k docs) where scaled cells hold ~2-4x
  // (SCALE.md §9). At the committed fixtures (n <= 2048) the derivation
  // floors at the historical c = 16; the pin mechanism inlines whatever
  // model was actually probed, at any c. The threshold default is the
  // 5-sigma regime (Similarity.DefaultSemanticThreshold = 0.65 at
  // dim 64): the emitted pair list then tracks the planted near-dup
  // rate (~7x per 10x of corpus on the gen series) instead of the
  // quadratic organic-noise floor that the old 0.4 (3.2 sigma) default
  // carried (~30x/decade, 301,811 rows at 100x). Low-tau high-recall
  // runs remain an explicit operator-level opt-in
  // (Similarity.semanticDupPairs(emb, threshold = 0.4)), which warns.
  // The oracle SQL interpolates the SAME constant, so query and oracle
  // cannot drift apart.
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val corpus = plantedEmbeddings(s, dir)
    val c = Similarity.scaledCellCount(corpus.count())
    // training stays on the natural table: identical copies assign to
    // their source's cell under any model, so the plant needs no say in
    // the centroids (and the pinned model the oracle replays is whatever
    // was actually probed either way)
    Similarity.semanticDupPairsWith(corpus,
      trainAndPin(s, dir, "dedup_semantic", c),
      threshold = Similarity.DefaultSemanticThreshold)
  }

  /** Every 101st vector re-appended as an exact copy under a fresh id:
    * the deterministic >= 5-sigma plant that keeps dedup_semantic's
    * oracle row non-vacuous at every gate scale (see the comment on
    * dedupSemantic). Constants are interpolated into the oracle SQL —
    * change them only in lockstep. */
  private val PlantModulus = 101L
  private val PlantIdOffset = 1L << 40

  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    emb.unionByName(emb.filter(col("vec_id") % PlantModulus === 0)
      .withColumn("vec_id", col("vec_id") + lit(PlantIdOffset)))
  }

  // The high-recall opt-in, registered FIRST-CLASS rather than left as
  // folklore: τ=0.4 (3.2 sigma at dim 64) deliberately reaches into the
  // organic cosine tail. Its pair list grows ~30x per 10x of corpus on
  // the gen series (vs ~7x at the 5-sigma default) — that superlinear
  // output is the documented price of recall, and the operator's runtime
  // warning fires on every invocation. It also keeps the sf-fixture
  // correctness gate non-vacuous for the semantic family: the sf
  // corpora's organic pairs top out at cosine ~0.51, so the 5-sigma
  // default matches an EMPTY set there (still a real oracle replay, but
  // trivially) while this row compares 21 genuine pairs at sf0.01.
  private def dedupSemanticLowtau(s: SparkSession, dir: String): DataFrame = {
    val c = Similarity.scaledCellCount(Tables.embeddings(s, dir).count())
    Similarity.semanticDupPairsWith(Tables.embeddings(s, dir),
      trainAndPin(s, dir, "dedup_semantic_lowtau", c), threshold = 0.4)
  }

  // ---- blocked edit-distance near-dup verification ------------------
  //
  // The verify kernel of an edit-distance dedup pass: candidate pairs
  // come from cheap blocking — (lang, length bucket, 12-char prefix) —
  // and only blocked pairs pay the O(len^2) levenshtein. Both engines
  // implement the identical Levenshtein metric, so the oracle is exact.
  // At 100 TB the blocking step is the same shape as the MinHash/LSH
  // candidate generators above (equi-join on a compact block key; no
  // cross product); this operator is the per-pair verifier those
  // candidates feed. Boundary straddlers (near-dups landing in adjacent
  // length buckets) are the documented blocking tradeoff, mirrored
  // exactly in the oracle.
  private def dedupEditdist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, levenshtein, substring, when}
    val b = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"), col("text"),
      expr("n_chars div 20").as("lb"), substring(col("text"), 1, 12).as("pfx"))
    // the probe side drives the O(len^2) DP work, and with a broadcast
    // build its parallelism is whatever the file layout gave the scan —
    // a single-file corpus would run the whole quadratic verify in ONE
    // task. Round-robin to the session's parallelism: one cheap shuffle
    // of the corpus text buys even distribution of the dominant compute
    // (measured at a 50k-doc/236k-pair corpus: stuck single-task -> ~3 s).
    // Budget is a floor (Compute.toComputeBudget): wide scans keep layout.
    val a = graft.operators.Compute.toComputeBudget(b)
      .select(b.columns.map(c => col(c).as(s"a_$c")).toIndexedSeq: _*)
    val c = b.select(b.columns.map(c => col(c).as(s"c_$c")).toIndexedSeq: _*)
    // conjunct order is load-bearing: And short-circuits left-to-right
    // in the joined-row condition, so the cheap id inequality must sit
    // BEFORE the expensive levenshtein — otherwise every hash-matched
    // pair (including each doc's self-match) pays the DP before being
    // discarded (measured 13 s -> 1.4 s at sf0.1). Survivors pay the DP
    // a second time in the projection below; computing it once behind a
    // filter doesn't survive Catalyst (predicate pushdown re-substitutes
    // the alias into the join condition, recreating the slow plan), and
    // survivors <= candidates bounds the total at 2x the minimum.
    // THRESHOLD form (r15): levenshtein(a, b, 20) runs Spark's banded DP
    // — O((2·20+1)·len) cells instead of the full O(len_a·len_b) table —
    // and returns the EXACT distance whenever it is <= 20, else -1; so
    // `>= 0` is precisely the old `<= 20` predicate and survivors'
    // projected distances are bit-identical to the unbounded DP's.
    // equality fast path before the DP: EXACT duplicates are the common
    // case in any dedup corpus, and string equality is one O(len) memcmp
    // where even the banded DP fills O(len·20) cells — equal texts have
    // distance 0 by definition, so the predicate and the projected
    // distance are unchanged.
    a.join(c,
        col("a_lang") === col("c_lang") && col("a_lb") === col("c_lb") &&
          col("a_pfx") === col("c_pfx") &&
          (col("a_doc_id") < col("c_doc_id") &&
            (col("a_text") === col("c_text") ||
              levenshtein(col("a_text"), col("c_text"), 20) >= 0)))
      .select(col("a_doc_id").as("doc_a"), col("c_doc_id").as("doc_b"),
        when(col("a_text") === col("c_text"), lit(0))
          .otherwise(levenshtein(col("a_text"), col("c_text"), 20))
          .cast("bigint").as("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dedupEditdistSql =
    """WITH b AS (
      |  SELECT doc_id, lang, text, n_chars // 20 AS lb,
      |    substring(text, 1, 12) AS pfx
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |  CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist
      |FROM b a JOIN b c
      |  ON a.lang = c.lang AND a.lb = c.lb AND a.pfx = c.pfx
      | AND a.doc_id < c.doc_id
      |WHERE levenshtein(a.text, c.text) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  /** A def, not a val: the three IVF oracles are built from the pinned
    * centroid model, which only exists after their queries have run —
    * Verify dumps oracleSql last, so it sees them populated. */
  def all: Seq[QueryDef] = Seq(
    QueryDef("dedup_exact", Some(dedupExactSql), dedupExact),
    QueryDef("dedup_editdist", Some(dedupEditdistSql), dedupEditdist),
    QueryDef("dedup_semantic", None, dedupSemantic, Some(dedupSemanticSql _)),
    QueryDef("dedup_semantic_lowtau", None, dedupSemanticLowtau,
      Some(dedupSemanticLowtauSql _)),
    QueryDef("dedup_minhash_lsh", Some(dedupMinhashSql), dedupMinhash),
    QueryDef("dedup_simhash", Some(dedupSimhashSql), dedupSimhash),
    QueryDef("dedup_ngram_jaccard", Some(dedupNgramJaccardSql), dedupNgramJaccard),
    QueryDef("dedup_clusters", Some(dedupClustersSql), dedupClusters),
    QueryDef("dedup_keep_best", Some(dedupKeepBestSql), dedupKeepBest),
    QueryDef("pipeline_dedup_pack", Some(pipelineDedupPackSql), pipelineDedupPack),
    QueryDef("dedup_winnowing", Some(dedupWinnowingSql), dedupWinnowing),
    QueryDef("sim_topk_brute", Some(simTopkBruteSql), simTopkBrute),
    QueryDef("sim_topk_quantized", Some(simTopkQuantizedSql), simTopkQuantized),
    QueryDef("sim_topk_ivf", None, simTopkIvf, Some(ivfTopkSqlFor("sim_topk_ivf") _)),
    QueryDef("sim_topk_ivf_pretrained", None, simTopkIvfPretrained,
      Some(ivfTopkSqlFor("sim_topk_ivf_pretrained") _)),
    QueryDef("sim_topk_batch", None, simTopkBatch, Some(simTopkBatchSql _)),
    QueryDef("embed_neardup_blocked", Some(embedNearDupBlockedSql), embedNearDupBlocked),
    QueryDef("sim_knn_graph", Some(simKnnGraphSql), simKnnGraph),
    QueryDef("sim_range_search", Some(simRangeSearchSql), simRangeSearch),
    QueryDef("dedup_cross_source", Some(dedupCrossSourceSql), dedupCrossSource),
    QueryDef("embed_centroids", Some(embedCentroidsSql), embedCentroids),
  )
}
