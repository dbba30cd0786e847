package graft.cnj

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** SURVEY §2.9 north star: the CNJ ingest as a Structured Streaming file
  * source. The stream reads with the batch reader, so a per-court
  * aggregation over the stream (complete mode) must equal the same
  * aggregation over the batch read of the same directory.
  */
class CnjStreamSpec extends SparkTestBase {

  test("streaming directory ingest aggregates like the batch read") {
    val dir = resourcePath("cnj/dados")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("sigla_tribunal"))
      .agg(count(lit(1)).as("n"),
        sum(col("casos_novos_2025")).as("s_casos"),
        sum(col("julgm2_a")).as("s_j2a"))

    val q = agg(Reader.readDirStream(spark, dir))
      .writeStream.format("memory").queryName("cnj_stream_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (
      r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) null else r.getDouble(2),
      if (r.isNullAt(3)) null else r.getDouble(3))
    val got = spark.table("cnj_stream_out").collect().map(key).toSet
    val expected = agg(Reader.readDir(spark, dir)).collect().map(key).toSet
    assert(got === expected)
    assert(got.size == 11) // same 11 courts as the batch reader spec
  }

  test("a court file with a new header that lands after start() reaches the aggregate") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("cnj_stream_late")
    Files.list(Paths.get(resourcePath("cnj/dados"))).forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val q = Reader.readDirStream(spark, dir.toString)
      .groupBy(col("sigla_tribunal"))
      .agg(count(lit(1)).as("n"), sum(col("julgm2_a")).as("s_j2a"))
      .writeStream.format("memory").queryName("cnj_stream_late")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // a column order no fixture file has; written aside, then moved in
      val staged = dir.resolve("teste_NW.tmp")
      Files.write(staged, Seq("julgm2_a,ramo_justica,casos_novos_2025,sigla_tribunal",
        "4,Justiça Estadual,1,NW", "2.5,Justiça Estadual,,NW").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(staged, dir.resolve("teste_NW.csv"), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    } finally q.stop()
    val nw = spark.table("cnj_stream_late").filter(col("sigla_tribunal") === "NW").collect()
    assert(nw.map(r => (r.getLong(1), r.getDouble(2))).toSeq == Seq((2L, 6.5)))
  }

  test("a stream killed mid-corpus recovers from its checkpoint and " +
      "lands on the batch Resumo") {
    val dir = resourcePath("cnj/dados")
    val ckpt = java.nio.file.Files
      .createTempDirectory("cnj_stream_ckpt").toString
    def resumo(df: org.apache.spark.sql.DataFrame) =
      MetasJob.stringlyOutput(MetasJob.resumoTyped(spark, df))
    def start(queryName: String) =
      resumo(Reader.readDirStream(spark, dir,
          Map("maxFilesPerTrigger" -> "1")))
        .writeStream.format("memory").queryName(queryName)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()

    // incarnation 1: one file per microbatch; kill after >= 2 completed
    // batches, well before the 13-file fixture is consumed
    val q1 = start("cnj_recover_1")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
        System.nanoTime() < deadline) Thread.sleep(50)
    val before = q1.recentProgress.count(_.numInputRows > 0)
    q1.stop()
    assert(before >= 2, s"stream never completed 2 batches ($before)")

    // incarnation 2: same checkpoint — offsets and aggregation state
    // recover, the remaining files replay, complete mode re-emits the
    // full Resumo into the new sink table
    val q2 = start("cnj_recover_2")
    try q2.processAllAvailable() finally q2.stop()
    val after = q2.recentProgress.count(_.numInputRows > 0)
    assert(after >= 1, "restart processed nothing — kill happened too late")

    val got = spark.table("cnj_recover_2").collect().toIndexedSeq
    val expected = resumo(Reader.readDir(spark, dir)).collect().toIndexedSeq
    val report = ResultParity.compare(got, expected)
    report.details.foreach(d => info(s"DIFF $d"))
    assert(report.parity(),
      s"recovered stream != batch: hard=${report.hardDiffs} " +
        s"boundary=${report.boundaryCells}")
  }
}
