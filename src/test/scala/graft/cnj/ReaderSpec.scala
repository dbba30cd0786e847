package graft.cnj

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/** Unit coverage for the single-scan CSV parser (Reader, CnjParseLine):
  * unquoted and quoted lines, the pandas-compatible coercions,
  * malformed-row skipping, header-line dropping, and \r\n tolerance.
  * These pin the hand-rolled parse against the semantics the per-file
  * uniVocity path used to provide (pd.read_csv on_bad_lines='skip' +
  * to_numeric(errors='coerce'); Versao_Np.py:143,155-161).
  */
class ReaderSpec extends SparkTestBase {

  /** The cells [[CnjParseLine.parse]] makes of one line of a file with
    * `header`, keys as strings and numbers as doubles; None = skipped. */
  private def parseLine(header: String, line: String): Option[Seq[Any]] = {
    val cols = header.split(",", -1).toSeq
    val canonical = CnjSchema.keyCols ++ CnjSchema.numericCols
    val spec = Reader.FileSpec(header, cols.length, canonical.map(cols.indexOf).toArray)
    val parse = CnjParseLine(Literal(null, StringType), Literal(null, StringType), Map("/f.csv" -> spec))
    val got = parse.parse(UTF8String.fromString("file:/f.csv"), UTF8String.fromString(line))
    if (got.numElements == 0) None
    else {
      val row = got.getStruct(0, canonical.length)
      Some(cols.map(canonical.indexOf).map(i =>
        if (i < 0 || row.isNullAt(i)) null
        else if (i < CnjSchema.keyCols.length) row.getUTF8String(i).toString
        else row.getDouble(i)))
    }
  }

  test("parse: an unquoted line keeps its empty fields") {
    val header = "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025"
    assert(parseLine(header, "a,b,,4") == Some(Seq("a", "b", null, 4.0)))
    assert(parseLine(header, ",,,") == Some(Seq(null, null, null, null)))
    assert(parseLine(header, "a,b,,4,") == None)
  }

  test("parse: a quoted line keeps separators and escaped quotes") {
    val header = "sigla_tribunal,ramo_justica,julgados_2025"
    assert(parseLine(header, "\"a,b\",c,1") == Some(Seq("a,b", "c", 1.0)))
    assert(parseLine(header, "\"say \"\"hi\"\"\",2,\"3.5\"") == Some(Seq("say \"hi\"", "2", 3.5)))
    assert(parseLine(header, "x,\"\",y") == Some(Seq("x", null, null)))
  }

  test("parseDouble's junk shortcut answers as Double.parseDouble's try/catch does") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def reference(s: String): java.lang.Double =
      if (s.isEmpty) null
      else
        try {
          val d = java.lang.Double.parseDouble(s)
          if (d.isNaN) null else java.lang.Double.valueOf(d)
        } catch { case _: NumberFormatException => null }
    val token: Gen[String] = for {
      lead <- Gen.oneOf("", " ", "\t", "\u0001 ", "\u00a0")
      sign <- Gen.oneOf("", "+", "-", "+-")
      body <- Gen.oneOf(Gen.oneOf("NaN", "Infinity", "0x1p3", "0X1.8P1", "1e5", "1d", "2.5f",
          ".5", "5.", "x", "", "N", "I", "Inf", "nan", "infinity", "1,5", "e5", ".", "0",
          "12.34", "\u0661", "NaNx", "1e", "0x"),
        Gen.listOf(Gen.oneOf('0', '9', '.', 'e', 'E', 'x', 'N', 'I', 'd', '-', ' ')).map(_.mkString))
      trail <- Gen.oneOf("", " ", "\n", "x")
    } yield lead + sign + body + trail
    val tokens = (0 until 5000).map(i => token(Gen.Parameters.default, Seed(i.toLong)).get)
    assert(tokens.count(t => reference(t) != null) > 300, "too few numeric tokens")
    tokens.foreach(t => assert(Reader.parseDouble(t) == reference(t), s"token '$t'"))
  }

  private def writeCsv(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  test("parse semantics: coercion, malformed skip, CRLF, empty keys") {
    val dir = Files.createTempDirectory("readerspec")
    writeCsv(dir, "teste_AA.csv", Seq(
      "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025",
      "AA,Justiça Estadual,10.5,3",          // clean row
      "AA,Justiça Estadual,NaN,abc",          // NaN and non-numeric -> null
      "AA,Justiça Estadual,,7",               // empty numeric -> null
      "AA,Justiça Estadual,1,2,EXTRA",        // wrong width -> skipped
      "short,row",                            // wrong width -> skipped
      ",Justiça Estadual,4,4",                // empty key -> null (pandas NaN)
      "AA,Justiça Estadual,2.5,1\r"))         // trailing \r tolerated
    val df = Reader.readFile(spark, dir.resolve("teste_AA.csv").toString).get
    val rows = df.select("sigla_tribunal", "julgados_2025", "casos_novos_2025").collect()
    assert(rows.length == 5)
    val bySig = rows.groupBy(r => Option(r.getString(0)))
    assert(bySig(None).length == 1) // empty key became null
    val vals = rows.map(r => (if (r.isNullAt(1)) null else r.getDouble(1),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(vals == Set((10.5, 3.0), (null, null), (null, 7.0), (4.0, 4.0), (2.5, 1.0)))
  }

  test("a literal header line in row position is dropped, data rows are not") {
    val dir = Files.createTempDirectory("readerspec2")
    writeCsv(dir, "teste_BB.csv", Seq(
      "sigla_tribunal,ramo_justica,julgados_2025",
      "BB,Justiça Estadual,1",
      "sigla_tribunal,ramo_justica,julgados_2025", // mid-file header dup
      "BB,Justiça Estadual,2"))
    val df = Reader.readFile(spark, dir.resolve("teste_BB.csv").toString).get
    assert(df.count() == 2)
  }

  test("files with spaces and non-ASCII in the path are not silently dropped") {
    // input_file_name() publishes the URL-ENCODED path ("%20", "%C3%A3");
    // a raw-path map lookup would miss and flatMap every row to None —
    // silent data loss. decodeFileUri must round-trip the encoding.
    // (Non-ASCII covered by the direct unit test below — this JVM's
    // filesystem locale cannot create such paths.)
    val dir = Files.createTempDirectory("readerspec enc")
    writeCsv(dir, "teste_TRE SP.csv", Seq(
      "sigla_tribunal,ramo_justica,julgados_2025",
      "DD,Justiça Estadual,7"))
    val df = Reader.readDir(spark, dir.toString)
    val rows = df.select("sigla_tribunal", "julgados_2025").collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "DD")
    assert(rows(0).getDouble(1) == 7.0)
  }

  test("decodeFileUri round-trips encoded specials and tolerates raw paths") {
    assert(Reader.decodeFileUri("file:/a/teste%20TRE%20S%C3%A3o.csv") ==
      "/a/teste TRE São.csv")
    assert(Reader.decodeFileUri("file:///a/b%25c.csv") == "/a/b%c.csv")
    // unencoded specials (not URI-parseable): best-effort scheme strip
    assert(Reader.decodeFileUri("file:/a/plain path.csv") == "/a/plain path.csv")
    assert(Reader.decodeFileUri("/no/scheme.csv") == "/no/scheme.csv")
  }

  test("duplicated header column names resolve to the FIRST occurrence") {
    // pandas mangles repeats (col, col.1), so the reference's name lookup
    // hits the first; a last-wins index map would silently read token 3
    // (here 99.0) for julgados_2025 instead of token 2 (5.0)
    val dir = Files.createTempDirectory("readerspec4")
    writeCsv(dir, "teste_EE.csv", Seq(
      "sigla_tribunal,ramo_justica,julgados_2025,julgados_2025",
      "EE,Justiça Estadual,5,99"))
    val df = Reader.readFile(spark, dir.resolve("teste_EE.csv").toString).get
    val r = df.select("julgados_2025").collect()(0)
    assert(r.getDouble(0) == 5.0)
  }

  test("columns absent from a file land as null in the canonical schema") {
    val dir = Files.createTempDirectory("readerspec3")
    writeCsv(dir, "teste_CC.csv", Seq(
      "sigla_tribunal,ramo_justica,julgm2_a",
      "CC,Justiça Estadual,5"))
    val df = Reader.readDir(spark, dir.toString)
    assert(df.columns.toSeq == CnjSchema.allCols)
    val r = df.collect()(0)
    assert(r.getAs[Double]("julgm2_a") == 5.0)
    assert(r.isNullAt(df.columns.indexOf("julgados_2025")))
  }

  test("readDir over more than 32 files lists once on the driver: no Spark job, same rows as readFile") {
    // above spark.sql.sources.parallelPartitionDiscovery.threshold (32)
    // paths a path-list read would stat the files in a listing job
    val dir = Files.createTempDirectory("readerspec-listing")
    val header = "sigla_tribunal,ramo_justica,julgados_2025,casos_novos_2025"
    (1 to 40).foreach { i =>
      writeCsv(dir, f"teste_T$i%02d.csv", Seq(header,
        s"T$i,Justiça Estadual,$i,${i + 1}", s"T$i,Justiça Estadual,1.5,"))
    }
    // hidden-named files carry valid headers: the driver listing keeps
    // them, and Spark's file index then skips their rows, as it does
    // for a readFile of one of them
    writeCsv(dir, "_under.csv", Seq(header, "UU,Justiça do Trabalho,3,4"))
    writeCsv(dir, ".dot.csv", Seq(header, "DT,Justiça Federal,5,6"))
    writeCsv(dir, "teste_nokeys.csv", Seq("julgados_2025,casos_novos_2025", "1,2"))
    writeCsv(dir, "teste_headeronly.csv", Seq("sigla_tribunal,ramo_justica,julgm2_a"))
    // non-ASCII only where this JVM's file-name encoding can spell it;
    // a literal '%' exercises the same URL-decoding of input_file_name()
    val special =
      if (java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
          .newEncoder().canEncode("ã")) "teste TRE São.csv"
      else "teste TRE S%C3%A3o.csv"
    writeCsv(dir, special, Seq("ramo_justica,sigla_tribunal,julgados_2025",
      "Justiça Eleitoral,SP,9"))
    // neither is a court file of this directory
    writeCsv(dir, "notes.txt", Seq(header, "XX,Justiça Estadual,1,1"))
    Files.createDirectory(dir.resolve("sub"))
    writeCsv(dir.resolve("sub"), "teste_SUB.csv", Seq(header, "SB,Justiça Estadual,1,1"))

    val (df, jobs, _) = countJobsAndTasks(Reader.readDir(spark, dir.toString))
    assert(jobs == 0, s"readDir scheduled $jobs Spark job(s)")
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val csvs = new java.io.File(dir.toString).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".csv")).map(_.getPath).sorted
    val perFile = csvs.flatMap(Reader.readFile(spark, _)).toSeq
    assert(perFile.size == 44) // every .csv file but the one without identity columns
    val got = rows(df)
    assert(got == rows(perFile.reduce(_ union _)))
    val courts = df.select("sigla_tribunal").distinct().collect().map(_.getString(0)).toSet
    assert((1 to 40).map(i => s"T$i").toSet.subsetOf(courts))
    assert(courts.contains("SP"))
    assert(!courts.contains("XX") && !courts.contains("SB"))
    // neither a court file nor a missing directory lists as a directory
    intercept[IllegalArgumentException](Reader.readDir(spark, dir.resolve("teste_T01.csv").toString))
    intercept[IllegalArgumentException](Reader.readDir(spark, dir.resolve("missing").toString))
  }
}
