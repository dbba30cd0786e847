package graft

/** Plan-shape regression guards: the physical plans that make these
  * queries scale are asserted, not assumed — a change that silently turns
  * a broadcast join into a sort-merge shuffle or drops a pushed filter
  * fails here before it costs anything on a cluster.
  */
class PlanShapeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("dimension joins broadcast (never shuffle the fact side)") {
    Seq("join_inner_agg", "join_broadcast_dim", "q3_shipping_priority",
      "q5_local_supplier").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q must not sort-merge join:\n$p")
    }
  }

  test("top-k uses TakeOrderedAndProject, not a global sort") {
    Seq("sort_topk", "sim_topk_brute", "q3_shipping_priority").foreach { q =>
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q plan")
    }
  }

  test("filters push into the parquet scans") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate")
      || p.contains("GreaterThan(l_shipdate"), p)
    val c = plan("join_semi")
    assert(c.contains("PushedFilters"), c)
  }

  test("the meta-kernel aggregation is a single partial/final hash aggregate") {
    val p = plan("agg_ratio_kernel")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    // partial + final (+ possibly a sort for the orderBy) — but exactly
    // one exchange between them plus the final sort exchange
    assert(hashAggs >= 2, p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected at most agg+sort exchanges:\n$p")
  }

  test("bucketed range join is an equi-join, not a nested-loop cross product") {
    val p = plan("range_join_bands")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$p")
  }

  test("blocked embedding near-dup never plans a nested-loop or cartesian join") {
    val p = plan("embed_neardup_blocked")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"tiled near-dup must stay an equi-join on tile ids:\n$p")
  }

  test("repetition metrics never shuffle a gram: no explode before the agg") {
    val p = plan("text_repetition")
    // one pass of gram_stats per row, then a single partial/final agg on
    // source — a Generate (explode) node would mean grams hit the exchange
    assert(!p.contains("Generate"), s"text_repetition must not explode grams:\n$p")
    assert(p.contains("gram_stats"), p)
  }

  test("heavy hitters aggregate without a token-keyed exchange") {
    val p = plan("text_heavy_hitters")
    // one global ObjectHashAggregate pair over the sketch — the only
    // exchange is the single-row final merge, never hashpartitioning(token)
    assert(!p.contains("hashpartitioning(token"),
      s"misra-gries must not shuffle on the token:\n$p")
    assert(p.contains("misra_gries"), p)
  }

  test("incremental dedup probes the bloom without shuffling the batch") {
    val p = plan("dedup_incremental")
    assert(p.contains("bloom_might_contain"), p)
    // the bloom reaches the probe side via a broadcast, and the exact
    // verify join on the surviving sliver is itself broadcastable here
    assert(p.contains("BroadcastExchange"), s"bloom must broadcast:\n$p")
  }

  test("balanced sampling ranks per stratum, never in a single partition") {
    val p = plan("sample_balanced")
    assert(!p.contains("SinglePartition") || !p.contains("row_number"),
      s"per-stratum rank must not run in one task:\n$p")
    assert(p.contains("hashpartitioning(lang"), s"rank partitioned by stratum:\n$p")
  }

  test("docs_interleave plans no unpartitioned window") {
    // the source index is resolved driver-side (literal map), so the only
    // window left is the per-source rank — a Window with an EMPTY
    // partition spec would move the frame to one task (WindowExec's
    // single-partition warning), the cliff this query was rewritten to
    // avoid. Asserted on the optimized logical plan (AQE-wrapper-proof).
    val lp = SparkEntry.queries("docs_interleave")(spark, sf)
      .queryExecution.optimizedPlan
    val bad = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned Window in:\n$lp")
    val windows = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the per-source rank window")
  }

  test("knn graph prunes to top-k before the shuffle (partial topk_by aggregate)") {
    val p = plan("sim_knn_graph")
    // the bounded top-k aggregate must partial-aggregate on the map side:
    // each mapper ships at most k candidates per (block, src) group into
    // the exchange, so the shuffle carries O(n*k), not the full
    // O(sum |block|^2) pair set — and nothing SORTS that pair set (the
    // r14 window-rank form paid a WindowGroupLimit sort of the whole
    // quadratic join fan-out)
    assert(p.contains("partial_topk_by"), s"map-side top-k missing:\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      s"the quadratic fan-out must not reach a window sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"block join must be an equi-join:\n$p")
    // the quadratic probe side must not run at file-layout parallelism
    assert(p.contains("RoundRobinPartitioning"),
      s"compute-budget repartition missing from the probe side:\n$p")
  }

  test("q10 pushes both fact-side filters into the scans") {
    val p = plan("q10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"), s"returnflag must push down:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"orderdate must push down:\n$p")
  }

  test("chunking is map-side only: no exchange before the chunk rows exist") {
    val df = SparkEntry.queries("docs_chunk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one exchange total — the presentation orderBy; generation itself
    // (tokens -> explode -> slice -> md5) never shuffles
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"chunk generation must not shuffle:\n$p")
  }

  test("range search broadcasts the probes; the corpus never shuffles") {
    val p = plan("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set must broadcast:\n$p")
    // the only SHUFFLE exchange is the presentation orderBy of the tiny
    // result (the BroadcastExchange of the probes is the point) — never a
    // repartition of the embeddings scan
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(p).size
    assert(shuffles <= 1, s"corpus must not shuffle:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge join:\n$p")
  }

  test("classifier scoring has exactly one content exchange: the per-source roll-up") {
    val p = plan("docs_classifier_score")
    assert(!p.contains("Generate"), s"scoring must not explode tokens:\n$p")
    // agg exchange + presentation sort + the r15 compute-budget
    // round-robin floor (which must be the ONLY extra — scoring itself
    // never shuffles by a doc key)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected budget+agg+sort exchanges only:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"scoring must not add a doc-keyed shuffle:\n$p")
  }

  test("q18 keeps the top-100 as TakeOrderedAndProject after the having-filter") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), s"q18 must not global-sort:\n$p")
  }

  test("pii scan is map-side: regexes run in the scan projection") {
    val p = plan("text_pii")
    // per-source agg + presentation sort + the r15 compute-budget
    // round-robin floor; never a doc-keyed shuffle beyond the roll-up
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"pii must not add exchanges:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"pii must not add a doc-keyed shuffle:\n$p")
    assert(!p.contains("Generate"), p)
  }

  test("hash sample prunes to k per group before the shuffle (WindowGroupLimit)") {
    val p = plan("sample_hash_topk")
    // each mapper forwards at most k rows per source: partial
    // WindowGroupLimit below the exchange, so the shuffle carries
    // O(groups x k) rows, not the corpus
    assert(p.contains("WindowGroupLimit"), s"rank pushdown missing:\n$p")
  }

  test("hash split is map-side: one exchange for the tiny aggregate only") {
    val p = plan("docs_split_hash")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the aggregate exchange:\n$p")
    assert(!p.contains("Sort ") || p.contains("rangepartitioning"),
      s"split assignment itself must not sort the corpus:\n$p")
  }

  test("editdist dedup blocks with an equi-join, not a cross product") {
    val p = plan("dedup_editdist")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must plan an equi-join:\n$p")
  }

  test("column profiling scans the table once, not once per column") {
    val p = plan("profile_columns")
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profile must be one pass over the table:\n$p")
    // multiple exact COUNT(DISTINCT) columns plan as a single Expand
    assert(p.contains("Expand"), s"expected the multi-distinct Expand:\n$p")
  }

  test("constraint checks: one scan per table, fk riding the same pass") {
    val p = plan("quality_constraints")
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 2, s"one scan of orders + one of customer:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"referential check must ride a broadcast left join:\n$p")
  }

  test("source interleave prunes each source's head below the shuffle") {
    val p = plan("docs_interleave")
    assert(p.contains("WindowGroupLimit"), s"rank pushdown missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global limit must not sort all:\n$p")
  }

  test("native expressions stay inside whole-stage codegen") {
    // the registered dedup_simhash now PINS its (doc_id, sim) projection
    // (the self-join read it twice), so the returned plan's leaf is the
    // checkpoint RDD and the simhash fold lives in the pinned subtree —
    // assert the codegen property on that projection directly
    import org.apache.spark.sql.functions.col
    val df = graft.Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.HashFunctions.simhash(
        graft.functions.TextFunctions.tokens(col("text")))
        .as("sim"))
    df.collect() // let AQE finalize the stages
    // codegen'd operators carry the "*(stageId)" marker in the simple plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
    assert(p.contains("simhash64"), p)
  }

  test("importance-weight SCORING is map-side only: no exchange, no explode") {
    import org.apache.spark.sql.functions._
    // the model pass (one bucket-keyed aggregate) runs eagerly inside the
    // operator; the RETURNED frame is the scoring pass — its plan must be
    // scan + project only (the whole point of the collected array-literal
    // model: a document never leaves its partition to be scored)
    val docs = graft.Tables.documents(spark, sf)
    val w = graft.operators.Sampling.importanceWeights(
      docs, "text", col("lang") === "en", buckets = 64)
    val p = w.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"scoring must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"scoring must not explode tokens:\n$p")
  }
}
