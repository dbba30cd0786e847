package graft

/** Family-scaling measurement over the [[GenScaledCorpus]] fixtures:
  * times the dedup + similarity families on a generated corpus and
  * reports per-family wall seconds plus qualifying-pair counts — run at
  * scale 1 and scale 10 the ratio table in SCALE.md §9 falls out.
  *
  * One deliberate extra beyond the harness registry:
  *  - `embed_neardup_blocked` is included only with INCLUDE_QUADRATIC=1:
  *    it is EXACT all-pairs enumeration (Θ(n²) by problem statement,
  *    not by plan deficiency) — the scale path for near-dup discovery is
  *    dedup_semantic / LSH.
  *
  * Usage: runMain graft.ScaleFamilies <dir>
  * (the scale knob is inferred from the corpus itself — embeddings
  * rows / 2000 — so a dir/scale mismatch cannot silently produce a
  * wrong contrast row or a mislabeled artifact)
  */
object ScaleFamilies {

  private val Families = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_winnowing",
    "dedup_ngram_jaccard", "dedup_editdist", "dedup_clusters",
    "dedup_keep_best", "dedup_semantic",
    "sim_topk_brute", "sim_topk_ivf", "sim_topk_ivf_pretrained",
    "sim_topk_batch", "sim_knn_graph", "sim_range_search")

  // pair-producing families: row counts are the duplicate-mass evidence
  private val CountRows = Set("dedup_ngram_jaccard", "dedup_semantic",
    "dedup_clusters", "dedup_minhash_lsh",
    "dedup_winnowing", "embed_neardup_blocked")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val includeQuadratic = sys.env.get("INCLUDE_QUADRATIC").contains("1")
    val spark = Harness.session()
    // scale from the corpus, not an env knob that could disagree with it
    val scale = math.max(1,
      math.round(Tables.embeddings(spark, dir).count() / 2000.0).toInt)

    // Since r10 the registered dedup_semantic IS the full 100 TB
    // operating point — corpus-derived cells (Similarity.scaledCellCount)
    // AND the 5-sigma DefaultSemanticThreshold — so the former
    // `dedup_semantic_scaledcells` contrast row is redundant and gone.
    val extra = if (includeQuadratic) Seq("embed_neardup_blocked") else Nil

    // SCALE_FAMILIES_ONLY=<name[,name…]>: run a subset, one family per
    // fresh JVM. The suite-in-one-JVM statistic measures a MARATHON —
    // at the third decade the families interfere (page-cache churn and
    // the previous family's asynchronous shuffle-file reaping overlap
    // the next timed window) and a row can read 6x its standalone wall
    // (dedup_winnowing at gen1000x: 208.6 s as family 4 of the suite vs
    // 31.8 s standalone warm-min, same 24g heap — SCALE.md §9). A
    // caller loops this knob and merges rows to get the per-family
    // engine number; the no-knob suite stays the cross-round series.
    val only = sys.env.get("SCALE_FAMILIES_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val all = (Families ++ extra).filter(n => only.forall(_.contains(n)))
      .map(n => n -> SparkEntry.queries(n))
    require(all.nonEmpty, s"SCALE_FAMILIES_ONLY matched no family: $only")

    // the landing prep (the pretrained probe's model training) runs only
    // when SCALE_FAMILIES_ONLY keeps the probe: training at corpus scale
    // would bill ~a minute to every unrelated family's JVM
    Harness.warmUp(spark, all, dir)

    val results = all.map { case (name, fn) =>
      // qualifying-pair counts come from the SAME execution the timer
      // measures (an Observation/CollectMetrics row count piggybacked on
      // the noop write) — a separate post-hoc count() would re-run the
      // whole query (doubling wall for k-means families) and would rely
      // on training determinism for the count to describe the timed run
      val wantRows = CountRows(name)
      val obs = org.apache.spark.sql.Observation(s"rows_$name")
      val (sec, ok) = Harness.timed {
        try {
          val df = fn(spark, dir)
          Harness.noop(if (wantRows)
            df.observe(obs, org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("rows"))
          else df)
          true
        } catch { case e: Throwable =>
          System.err.println(s"$name failed: ${e.getMessage}"); false }
      }
      val rows = if (ok && wantRows)
        obs.get.apply("rows").asInstanceOf[Long] else -1L
      Harness.release(spark)
      (name, sec, rows, ok)
    }
    val qs = results.map { case (n, s, r, ok) =>
      n -> Option.when(ok)(Harness.Obj(("sec" -> s) +: Option.when(r >= 0)("rows" -> r).toSeq: _*)) }
    val total = results.collect { case (_, s, _, true) => s }.sum
    println(Harness.jsonLine(spark, "scale_families", "dir" -> dir, "scale" -> scale,
      "value" -> total, "unit" -> "sec", "queries" -> Harness.Obj(qs: _*)))
    spark.stop()
  }
}
