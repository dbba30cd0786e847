package graft

/** Locks the driver contract: entry smoke, registry/oracle key agreement,
  * and every registered query runnable end-to-end at the smallest sf.
  */
class HarnessContractSpec extends SparkTestBase {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle SQL without queries: $orphans")
    assert(qs.forall(_.matches("[a-z0-9_]+")))
  }

  test("Bench names a crashed query as class: message, escaped for its JSON line") {
    val e = new IllegalStateException("bad \"quote\"\nsecond line")
    assert(Bench.crashName(e) == "java.lang.IllegalStateException: bad \"quote\"")
    assert(SparkEntry.jsonString(Bench.crashName(e)) ==
      "\"java.lang.IllegalStateException: bad \\\"quote\\\"\"")
    assert(Bench.crashName(new RuntimeException("x" * 500)).length == 160)
    assert(Bench.crashName(new NullPointerException) == "java.lang.NullPointerException")
    assert(SparkEntry.jsonString("a\\b\u0001") == "\"a\\\\b\\u0001\"")
    // every harness main prints its JSON line through Harness.jsonLine
    val line = Harness.jsonLine(spark, "m", "s" -> "say \"hi\"\nbye", "t" -> Double.NaN)
    assert(line.startsWith("""{"metric":"m","s":"say \"hi\"\nbye","t":null,"""))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("s").asText == "say \"hi\"\nbye")
    Seq("metric", "loadavg_1m", "loadavg_5m", "host").foreach(k => assert(json.has(k), k))
    assert(json.get("host").get("nproc").asInt == Runtime.getRuntime.availableProcessors())
  }

  test("Verify deletes a query's old output before running it and names its crash") {
    val out = java.nio.file.Files.createTempDirectory("verify_dump").toFile
    val stale = new java.io.File(out, "boom")
    assert(stale.mkdirs())
    val boom: Harness.Query = (_, _) => throw new IllegalStateException("no plan")
    val crashes = Verify.dump(spark, "/root/testdata/sf0.001", out.getPath, Map("boom" -> boom))
    assert(!stale.exists(), "a crashed query's stale output must not survive")
    assert(crashes == Map("boom" -> "java.lang.IllegalStateException: no plan"))
  }

  test("every registered query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // the IVF oracles exist only after their queries run and pin the
  // centroid model; if pinning breaks, Verify would silently emit no
  // oracle for them and the driver would downgrade the check to
  // rows-only — this turns that silent downgrade into a test failure.
  // Each query is executed HERE (cheap at sf0.001) so the test is
  // order-independent, not parasitic on the smoke loop above.
  test("IVF queries pin their centroid model so their oracles materialize") {
    val dir = "/root/testdata/sf0.001"
    Seq("sim_topk_ivf", "sim_topk_ivf_pretrained", "sim_topk_batch",
        "dedup_semantic", "dedup_semantic_lowtau").foreach { n =>
      SparkEntry.queries(n)(spark, dir).count()
      // dir-hinted lookup, exactly as Verify resolves it: checks
      // the pin for the dir this test just ran, immune to other suites
      // in the same JVM having pinned the same query against another dir
      assert(SparkEntry.oracleSqlFor(Some(dir)).contains(n),
        s"$n has no oracle SQL after its query ran — centroid pinning broken")
    }
  }
}
