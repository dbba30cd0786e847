package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def bruteIds(k: Int): Seq[Long] =
    Similarity.bruteForceTopK(emb, queryVecId = 0L, k = k)
      .collect().map(_.getLong(0)).toSeq

  test("brute-force top-k is ordered by similarity desc, excludes the query") {
    val rows = Similarity.bruteForceTopK(emb, 0L, 10).collect()
    assert(rows.length === 10)
    assert(!rows.map(_.getLong(0)).contains(0L))
    val sims = rows.map(_.getDouble(2))
    assert(sims.sorted.reverse.toSeq === sims.toSeq)
  }

  test("IVF top-k recalls most of the exact top-k while probing a fraction " +
    "of the corpus") {
    val exact = bruteIds(10).toSet
    val ivf = Similarity.ivfTopK(emb, queryVecId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & ivf).size / 10.0
    info(s"IVF recall@10 = $recall (probing 6/16 cells)")
    assert(recall >= 0.5, s"recall too low: got $ivf vs exact $exact")
  }

  test("IVF probe over a cluster-partitioned layout is partition-pruned " +
    "and matches the in-memory path") {
    // the scale path the ivfTopK scaladoc claims: assignment computed
    // once at landing and stored as a PARTITION column, so a probe is a
    // partition-pruned read of nProbe/nCentroids of the corpus — this
    // instantiates it end to end and checks plan + result
    import graft.functions.VectorFunctions.cosine
    val cents = Similarity.ivfCentroids(emb, dim = 64, c = 16, iters = 2, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("ivflayout")
    try {
      emb.withColumn("cluster", Similarity.assignCluster(col("embedding"), cents))
        .write.partitionBy("cluster").parquet(s"$dir/emb")
      val layout = spark.read.parquet(s"$dir/emb")
      // probe selection exactly as ivfTopKWith: float-cast model dots
      val centsF = cents.map(_.map(_.toFloat.toDouble))
      val qVec = emb.filter(col("vec_id") === 0L).select(col("embedding"))
        .head.getSeq[Float](0).toArray.map(_.toDouble)
      val probes = centsF.zipWithIndex
        .map { case (ct, i) => i -> ct.zip(qVec).map { case (a, b) => a * b }.sum }
        .sortBy(-_._2).take(6).map(_._1)
      val probed = layout.filter(
        col("cluster").isin(probes.toIndexedSeq.map(Integer.valueOf): _*))
      // the scan ALWAYS prints a PartitionFilters key (possibly empty) and
      // 'cluster' always appears in the output schema — the assertion must
      // demand cluster INSIDE the filter bracket, or it is vacuous
      val planStr = probed.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(planStr).isDefined,
        s"probe must prune on the cluster partition column:\n$planStr")
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
      val prunedTopK = probed.filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
      val expected = Similarity.ivfTopKWith(emb, cents, queryVecId = 0L, k = 10)
      assert(prunedTopK.collect().toSeq === expected.collect().toSeq,
        "partition-pruned probe must return the exact in-memory IVF answer")
    } finally {
      // the layout is a full corpus copy — don't leak it into /tmp;
      // Files.walk returns a Stream that must be closed (it holds
      // directory handles until then)
      import java.nio.file.{Files => F}
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(F.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(p => F.deleteIfExists(p))
      }
    }
  }

  test("batch IVF top-k agrees with the single-query path") {
    val queries = emb.filter(col("vec_id").isin(0L, 5L, 9L))
    val batch = Similarity.ivfBatchTopK(emb, queries, k = 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(batch.keySet === Set(0L, 5L, 9L))
    Seq(0L, 5L, 9L).foreach { q =>
      val single = Similarity.ivfTopK(emb, q, k = 10)
        .collect().map(_.getLong(0)).toSet
      assert(batch(q) === single, s"query $q")
    }
  }

  test("int8-quantized index preserves most of the exact top-k") {
    import graft.functions.VectorFunctions.{dequantize8, quantize8}
    val exact = bruteIds(10).toSet
    val quantized = Similarity.bruteForceTopK(
        emb.withColumn("embedding", dequantize8(quantize8(col("embedding")))),
        queryVecId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert((exact & quantized).size >= 8,
      s"quantized recall too low: $quantized vs $exact")
  }

  test("int8-domain scoring (quantizedCosine) matches dequantize-then-score " +
    "and keeps recall vs exact") {
    import graft.functions.VectorFunctions.{cosine, dequantize8, quantize8, quantizedCosine}
    val exact = bruteIds(10).toSet
    val qz = emb.select(col("vec_id"), quantize8(col("embedding")).as("qz"))
    val q = qz.filter(col("vec_id") === 0L).select(col("qz").as("q_qz"))
    val scored = qz.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        quantizedCosine(col("qz"), col("q_qz")).as("int8_cos"),
        cosine(dequantize8(col("qz")), dequantize8(col("q_qz"))).as("deq_cos"))
      .collect()
    // same quantization grid -> the two scores agree to float round-off;
    // the int8 path just never materializes the float vectors
    scored.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-5,
        s"vec ${r.getLong(0)}: int8=${r.getDouble(1)} deq=${r.getDouble(2)}")
    }
    val topInt8 = scored.sortBy(r => (-r.getDouble(1), r.getLong(0)))
      .take(10).map(_.getLong(0)).toSet
    assert((exact & topInt8).size >= 8,
      s"int8-domain recall too low: $topInt8 vs $exact")
  }

  test("tiled near-dup pairs equal the all-pairs baseline exactly") {
    val exact = Similarity.nearDupPairs(emb, threshold = 0.4, maxVectors = 20000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val tiled = Similarity.tiledNearDupPairs(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exact.nonEmpty)
    assert(tiled === exact)
    // tiling must also be insensitive to the block count
    val tiled5 = Similarity.tiledNearDupPairs(emb, threshold = 0.4, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(tiled5 === exact)
  }

  test("semantic (cluster-blocked) dedup pairs are a subset of the exact " +
    "pairs and recover planted near-identical copies") {
    import spark.implicits._
    val exact = Similarity.nearDupPairs(emb, threshold = 0.4, maxVectors = 20000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Similarity.semanticDupPairs(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), "cluster blocking must never invent a pair")
    assert(sem.nonEmpty)
    // planted near-identical copies (cos > 0.99) sit deep inside their
    // cell — SemDeDup's actual operating regime — and must all be found
    val base = emb.filter(col("vec_id") < 5L)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = base.map { case (id, v) =>
      (id + 100000L, v.map(x => x * 1.02f + 0.003f).toSeq, 0)
    }.toSeq.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
    val corpus = emb.unionByName(planted)
    val got = Similarity.semanticDupPairs(corpus, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { case (id, _) =>
      assert(got.contains((id, id + 100000L)), s"planted copy of $id missed")
    }
  }

  test("the registry dedup_semantic query is non-vacuous at fixture scale: " +
    "its deterministic plant yields exactly the (orig, copy) pairs") {
    // locks the oracle-channel contract: the registered query unions an
    // exact copy of every 101st vector (id + 2^40), so its output at any
    // gate scale contains one cos=1.0 pair per plant — a silently-empty
    // 5-sigma path now fails the DuckDB hash compare instead of 0=0
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("dedup_semantic")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expectedPlants = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 101 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(expectedPlants.nonEmpty, "fixture has no 101-residue ids")
    val plantPairs = got.filter { case (_, b, _) => b >= (1L << 40) }
    assert(plantPairs.map(_._1).toSet === expectedPlants,
      "plant pairs must cover exactly the 101-residue originals")
    plantPairs.foreach { case (a, b, cos) =>
      assert(b === a + (1L << 40) && cos === 1.0, s"bad plant pair ($a,$b,$cos)")
    }
    // and nothing organic sneaks past 5 sigma at fixture scale
    assert(got.length === plantPairs.length,
      s"unexpected organic >=5-sigma pairs: ${got.length - plantPairs.length}")
  }

  test("the DEFAULT 5-sigma threshold recovers planted near-dups on the " +
    "gen-model corpus (non-vacuous gate for the default path)") {
    // The sf corpora have no organic >= 5-sigma pairs (the registry's
    // dedup_semantic row is kept non-vacuous there by its deterministic
    // exact-copy plant — SimilarityQueries.plantedEmbeddings). This gate
    // covers the UNPLANTED operator path on near-copies that are close
    // but not identical: the gen-model corpus (scale 1, in-memory:
    // GenScaledCorpus plants a 5% near-copy rate at cos ~0.78-0.9, well
    // above 0.65), so a silently-empty default path CANNOT stay green:
    // if the 5-sigma regime ever emits nothing where dups are planted,
    // this fails. gen1x oracle evidence: 56 recovered of ~105 planted
    // (the remainder are SemDeDup's by-design cell-boundary misses).
    val gen = graft.GenScaledCorpus.embeddingsDf(spark, scale = 1)
    val got = Similarity.semanticDupPairs(gen, Similarity.DefaultSemanticThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty,
      "default-threshold semantic dedup emitted NOTHING on a corpus with " +
        "planted >=5-sigma near-dups — the default path is silently empty")
    assert(got.length >= 40, s"recall collapsed: ${got.length} of ~105 planted")
    // at 5 sigma and 2000 vectors the organic-pair mass is ~1e-2 expected
    // pairs, so every emitted pair must be a planted (source, copier) pair:
    // consecutive ids with the copier id on the generator's residue grid
    got.foreach { case (a, b) =>
      assert(b == a + 1 && (b % 20 == 19 || b % 333 == 332),
        s"non-planted pair ($a,$b) at 5 sigma — organic noise floor leaked in")
    }
  }

  test("scaledCellCount floors at the historical c=16 and grows cell " +
    "size as sqrt(2n) past the 128 floor (assignment/pair cost balance)") {
    assert(Similarity.scaledCellCount(0L) === 16)
    assert(Similarity.scaledCellCount(2000L) === 16) // committed fixtures unchanged
    assert(Similarity.scaledCellCount(2049L) === 17)
    // past n = 8192 the cell size follows sqrt(2n), so the cell count
    // grows as sqrt(n/2): both cost terms balance (scaladoc derivation)
    assert(Similarity.scaledCellCount(200000L) === 316)   // s = 633
    assert(Similarity.scaledCellCount(2000000L) === 1000) // s = 2000
  }

  test("semantic dedup preflight refuses a model whose cells put the " +
    "pair mass over the per-row budget") {
    // a single-centroid model collapses the corpus into ONE cell — the
    // within-cell join would enumerate n(n-1)/2 pairs; the preflight must
    // fail fast with the cell profile, not launch the quadratic job
    val oneCell = Array(Array.fill(Similarity.Dim)(0.1))
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDupPairsWith(emb, oneCell, threshold = 0.4,
        maxPairsPerRow = 100L)
    }
    assert(e.getMessage.contains("preflight"), e.getMessage)
    assert(e.getMessage.contains("max cell"), e.getMessage)
  }

  test("tiled near-dup preflight refuses an over-budget exact enumeration " +
    "and names the scale paths") {
    val e = intercept[IllegalArgumentException] {
      Similarity.tiledNearDupPairs(emb, threshold = 0.4, maxPairMass = 1000L)
    }
    assert(e.getMessage.contains("quadratic by problem statement"), e.getMessage)
    assert(e.getMessage.contains("semanticDupPairs"), e.getMessage)
  }

  test("banded sign-LSH near-dup recovers planted high-cosine duplicates " +
    "and is a subset of the exact pairs") {
    import spark.implicits._
    // plant 5 slightly-perturbed copies (cos > 0.99) of existing vectors
    val base = emb.filter(col("vec_id") < 5L)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val planted = base.map { case (id, v) =>
      (id + 100000L, v.map(x => x * 1.02f + 0.003f).toSeq, 0)
    }.toSeq
    val corpus = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(planted.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label")))
    val banded = Similarity.bandedNearDupPairs(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair is recovered (per-pair miss prob < 5e-6 at cos .99)
    base.foreach { case (id, _) =>
      assert(banded.contains((id, id + 100000L)), s"missed planted pair for $id")
    }
    // verify step makes any surfaced pair exact: subset of the tiled truth
    val exact = Similarity.tiledNearDupPairs(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact))
  }

  test("banded near-dup names the bands argument when it is zero") {
    val e = intercept[IllegalArgumentException] {
      Similarity.bandedNearDupPairs(emb, 0.9, bands = 0)
    }
    assert(e.getMessage.contains("bands"), e.getMessage)
  }

  test("sign-LSH top-k finds a planted near-duplicate (its design regime)") {
    import spark.implicits._
    // plant a vector nearly identical to vec 0: same hyperplane signs,
    // same bucket, so even probeRadius 0 would surface it
    val base = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).toArray
    val planted = base.map(x => x * 1.01f + 0.001f)
    val corpus = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(Seq((999999L, planted.toSeq, 0))
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label")))
    val top = Similarity.lshTopK(spark, corpus, queryVecId = 0L, k = 3)
      .collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) === 999999L, top.mkString(","))
    assert(top.head.getDouble(2) > 0.999)
  }

  test("IVF centroid assignment is total and deterministic") {
    val cents = Similarity.ivfCentroids(emb, dim = 64, c = 16, iters = 2, seed = 7L)
    assert(cents.length === 16)
    val assigned = emb
      .withColumn("cluster", Similarity.assignCluster(col("embedding"), cents))
    val counts = assigned.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keys.forall(c => c >= 0 && c < 16))
    assert(counts.values.sum === emb.count())
  }

  test("native, unrolled, and higher-order cluster assignment agree " +
    "exactly (the production kernel is bit-identical to both references)") {
    // same model through all three bodies: assignCluster dispatches to
    // the native ArgMaxFloatDot kernel; the unrolled Column-algebra form
    // is the historically oracle-validated shape and the HOF form is the
    // engine-builtin reference — any arithmetic divergence (accumulation
    // order, a float multiply sneaking in, a tie broken toward a higher
    // id) would break the pinned-model oracle contract at scale
    val cents = Similarity.ivfCentroids(emb, dim = 64, c = 16, iters = 2, seed = 7L)
    val all3 = emb.select(col("vec_id"),
        Similarity.assignCluster(col("embedding"), cents).as("n"),
        Similarity.assignClusterUnrolled(col("embedding"), cents).as("a"),
        Similarity.assignClusterHof(col("embedding"), cents).as("b"))
      .collect()
    assert(all3.nonEmpty)
    all3.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"native vs unrolled, vec ${r.getLong(0)}")
      assert(r.getInt(1) === r.getInt(3), s"native vs hof, vec ${r.getLong(0)}")
    }
  }

  test("cluster assignment ranks a NaN dot greatest, like the Column " +
    "references and the SQL oracle ordering") {
    import spark.implicits._
    // emb = [Inf, 1]: dot against centroid 0 = Inf*0 + 1*1 = NaN (0*Inf),
    // against centroid 1 = Inf. Spark's double ordering (array_max /
    // array_position) and DuckDB's ORDER BY dot DESC both rank NaN above
    // Inf, so every body must pick centroid 0 — a strict > comparison
    // would silently skip the NaN and diverge
    val cents = Array(Array(0.0, 1.0), Array(1.0, 0.0))
    val df = Seq(Tuple1(Seq(Float.PositiveInfinity, 1.0f))).toDF("embedding")
    val r = df.select(
        Similarity.assignCluster(col("embedding"), cents).as("n"),
        Similarity.assignClusterUnrolled(col("embedding"), cents).as("a"),
        Similarity.assignClusterHof(col("embedding"), cents).as("b"))
      .head()
    assert(r.getInt(0) === 0)
    assert(r.getInt(1) === 0)
    assert(r.getInt(2) === 0)
  }
}
