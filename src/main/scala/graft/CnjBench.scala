package graft

import graft.cnj.{MetasJob, Reader}

/** Like-for-like CNJ pipeline benchmark: the exact workload the
  * reference's published runs time (BASELINE.md, 25.28-81.76 s across
  * four machines at ~0.93 GB) — read the 90-file CSV corpus, compute the
  * Resumo aggregate, write ResumoMetas.csv + Consolidado.csv +
  * grafico_meta1.png — as a step-for-step copy of [[MetasJob.runAll]]
  * with a timer around each phase: the few-dozen-row per-court aggregate
  * runs as one job and is collected to a driver-local frame
  * ([[MetasJob.localSummary]]) that the Resumo sink, the fallback
  * warning and the chart reuse; the raw corpus is never cached (its
  * InMemoryRelation cost ~10x the one re-scan it saved), it is read
  * exactly twice, and Consolidado is sharded — the documented S5/S6
  * divergence: a coalesce(1) of the full corpus would funnel every byte
  * through one task.
  *
  * Prints human-readable phase lines plus ONE machine-readable JSON line
  * (`{"metric":"cnj_bench_total_sec",...}`) carrying phase timings,
  * corpus size, and the 1m/5m loadavg at start — bench numbers on
  * this box are only meaningful at low load (2-3x inflation otherwise),
  * so the artifact records the regime it ran under.
  *
  * Usage: runMain graft.CnjBench <inDir> [outDir]
  */
object CnjBench {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = if (args.length > 1) args(1) else "/tmp/cnj_bench_out"
    val corpusFiles = Option(new java.io.File(inDir).listFiles())
      .map(_.filter(_.isFile)).getOrElse(Array.empty[java.io.File])
    val corpusBytes = corpusFiles.map(_.length()).sum
    val nFiles = corpusFiles.length
    val spark = Harness.session()
    // the corpus is 90 files, the largest ~119 MB: at the default 128 MB
    // maxPartitionBytes that file is a single task and becomes the
    // critical path of the parse; 16 MB splits it ~8 ways (CSV without
    // multiLine is splittable) so the scan actually uses the cores
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def t[A](name: String)(f: => A): A = {
      val (sec, r) = Harness.timed(f)
      phases(name) = sec
      println(f"[cnj-bench] $name: $sec%.1f s")
      r
    }
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val data = t("plan_read_headers")(Reader.readDir(spark, inDir))
    val summary = t("resumo_agg_join_collect") {
      MetasJob.localSummary(MetasJob.resumoTyped(spark, data))
    }
    val res = MetasJob.stringlyOutput(summary)
    t("resumo_write")(MetasJob.writeCsv(res, s"$outDir/ResumoMetas.csv"))
    t("chart_png") {
      MetasJob.warnUnmapped(summary)
      val chart = MetasJob.chartData(res).collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      MetasJob.writeChartPng(chart, s"$outDir/grafico_meta1.png")
    }
    t("consolidado_sharded_write") {
      MetasJob.writeCsv(data, s"$outDir/Consolidado.csv", singleFile = false)
    }
    val total = (System.nanoTime() - t0) / 1e9
    println(Harness.jsonLine(spark, "cnj_bench_total_sec",
      "value" -> total, "unit" -> "sec", "phases" -> Harness.Obj(phases.toSeq: _*),
      "corpus_bytes" -> corpusBytes, "n_files" -> nFiles))
    spark.stop()
  }
}
