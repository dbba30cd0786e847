package graft.cnj

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CnjCsvFormat

import graft.SparkTestBase

/** Unit coverage for the single-scan CSV parser (Reader, CnjFileParser):
  * unquoted and quoted lines, the pandas-compatible coercions,
  * malformed-row skipping, header-line dropping, and \r\n tolerance.
  * These pin the hand-rolled parse against the semantics the per-file
  * uniVocity path used to provide (pd.read_csv on_bad_lines='skip' +
  * to_numeric(errors='coerce'); Versao_Np.py:143,155-161).
  */
class ReaderSpec extends SparkTestBase {

  /** The cells [[CnjFileParser.parse]] makes of one line of a file with
    * `header`, keys as strings and numbers as doubles; None = skipped. */
  private def parseLine(header: String, line: String): Option[Seq[Any]] = {
    val cols = header.split(",", -1).toSeq
    val canonical = CnjSchema.allCols
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    val row = CnjFileParser(header, CnjCsvFormat.schema).get.parse(bytes, 0, bytes.length)
    if (row == null) None
    else {
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
    val df = Reader.readDir(spark, dir.toString)
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
    val df = Reader.readDir(spark, dir.toString)
    assert(df.count() == 2)
  }

  test("files with spaces and non-ASCII in the path are not silently dropped") {
    // the driver lists plain paths and the scan hands each reader a
    // URL-encoded one ("%20", "%C3%A3"); the file must be found and read
    // either way. (Non-ASCII is covered by the 40-file test where this
    // JVM's file-name encoding can spell it.)
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

  test("duplicated header column names resolve to the FIRST occurrence") {
    // pandas mangles repeats (col, col.1), so the reference's name lookup
    // hits the first; a last-wins index map would silently read token 3
    // (here 99.0) for julgados_2025 instead of token 2 (5.0)
    val dir = Files.createTempDirectory("readerspec4")
    writeCsv(dir, "teste_EE.csv", Seq(
      "sigla_tribunal,ramo_justica,julgados_2025,julgados_2025",
      "EE,Justiça Estadual,5,99"))
    val df = Reader.readDir(spark, dir.toString)
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
    // a pruned read parses only the two columns it asks for, in its order
    assert(df.select("julgados_2025", "sigla_tribunal").collect().toSeq ==
      Seq(Row(null, "CC")))
  }

  private def sortedRows(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a court file read in many splits gives the rows of a one-split read") {
    // quoted, CRLF, ragged, junk and header-echo lines; a byte order mark
    // before the header, which every split's header read must drop
    val dir = Files.createTempDirectory("readerspec-splits")
    val header = "ramo_justica,sigla_tribunal,julgados_2025,casos_novos_2025"
    writeCsv(dir, "teste_SP.csv", ("\uFEFF" + header) +: (1 to 3000).map { i =>
      i % 7 match {
        case 0 => s"\"T$i,x\",Justiça Estadual,$i.5,\"$i\""
        case 1 => s"T$i,Justiça Federal,$i,${i * 3}\r"
        case 2 => s"T$i,Justiça Estadual,$i" // wrong width
        case 3 => header
        case 4 => s"T$i,,junk,1e3"
        case _ => s"T$i,Justiça do Trabalho,${i % 100}.25,"
      }
    })
    val whole = Reader.readDir(spark, dir.toString)
    assert(whole.rdd.getNumPartitions == 1)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    val (parts, rows, pruned) =
      try {
        val split = Reader.readDir(spark, dir.toString)
        (split.rdd.getNumPartitions, sortedRows(split),
          sortedRows(split.select("casos_novos_2025", "sigla_tribunal")))
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(parts > 20, s"only $parts splits")
    assert(rows == sortedRows(whole))
    assert(pruned == sortedRows(whole.select("casos_novos_2025", "sigla_tribunal")))
    assert(rows.length == (1 to 3000).count(i => i % 7 != 2 && i % 7 != 3))
  }

  test("readDir plans one CnjCsv file scan: no Generate, no input_file_name") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    val plan = Reader.readDir(spark, resourcePath("cnj/dados")).queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s.relation.fileFormat }
    assert(scans.size == 1 && scans.head.isInstanceOf[CnjCsvFormat], plan.toString)
    assert(plan.collect { case g: GenerateExec => g }.isEmpty, plan.toString)
    assert(!plan.toString.contains("input_file_name"), plan.toString)
  }

  test("readDir over 40 files: no Spark job, same rows as one-file directories") {
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
    // for a directory holding only one of them
    writeCsv(dir, "_under.csv", Seq(header, "UU,Justiça do Trabalho,3,4"))
    writeCsv(dir, ".dot.csv", Seq(header, "DT,Justiça Federal,5,6"))
    writeCsv(dir, "teste_nokeys.csv", Seq("julgados_2025,casos_novos_2025", "1,2"))
    // a UTF-8 byte order mark does not hide the identity column behind it
    writeCsv(dir, "teste_BOM.csv", Seq("\uFEFF" + header, "BO,Justiça Estadual,7,8"))
    // a header byte that is not UTF-8 puts the file on the String path
    Files.write(dir.resolve("teste_BD.csv"), (header + ",x").getBytes(StandardCharsets.UTF_8) ++
      Array(0xff.toByte) ++ "\nBD,Justiça Estadual,7,8,9".getBytes(StandardCharsets.UTF_8))
    writeCsv(dir, "teste_headeronly.csv", Seq("sigla_tribunal,ramo_justica,julgm2_a"))
    // non-ASCII only where this JVM's file-name encoding can spell it;
    // else a literal '%', which the scan's URL-encoded path must keep
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
    // each .csv file alone in a directory of its own
    val alone = new java.io.File(dir.toString).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".csv")).sortBy(_.getName).map { f =>
        val own = Files.createTempDirectory("readerspec-alone")
        Files.copy(f.toPath, own.resolve(f.getName))
        own.toString
      }
    val perFile = alone.toSeq.flatMap(d =>
      try Some(Reader.readDir(spark, d))
      catch { case _: IllegalArgumentException => None })
    assert(perFile.size == 46) // every .csv file but the one without identity columns
    val got = sortedRows(df)
    assert(got == sortedRows(perFile.reduce(_ union _)))
    val courts = df.select("sigla_tribunal").distinct().collect().map(_.getString(0)).toSet
    assert((1 to 40).map(i => s"T$i").toSet.subsetOf(courts))
    assert(Set("SP", "BO", "BD").subsetOf(courts))
    assert(!courts.contains("XX") && !courts.contains("SB"))
    // neither a court file nor a missing directory lists as a directory
    intercept[IllegalArgumentException](Reader.readDir(spark, dir.resolve("teste_T01.csv").toString))
    intercept[IllegalArgumentException](Reader.readDir(spark, dir.resolve("missing").toString))
  }
}
