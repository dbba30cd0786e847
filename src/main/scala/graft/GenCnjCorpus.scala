package graft

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import graft.cnj.{CnjSchema, Factors}

/** Dev utility: deterministic CNJ-shaped CSV corpus generator, sized to
  * mirror the reference's fixture corpus (~90 per-court files, ~0.93 GB
  * total — BASELINE.md) so the full pipeline can be timed
  * apples-to-apples against the published numbers. Files are UTF-8
  * whatever the JVM's default charset, and their sizes count UTF-8
  * bytes.
  *
  * Usage: runMain graft.GenCnjCorpus <outDir> [totalMB]
  */
object GenCnjCorpus {

  private val branches = Factors.byBranch.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val totalMB = if (args.length > 1) args(1).toInt else 930
    new File(outDir).mkdirs()
    val rnd = new scala.util.Random(42)
    val nFiles = 90
    val bytesPerFile = totalMB.toLong * 1024 * 1024 / nFiles
    var written = 0L
    (0 until nFiles).foreach { i =>
      val sigla = f"TB$i%02d"
      val branch = branches(i % branches.size)
      // per-file column subset drift, like the real corpus
      val cols = CnjSchema.keyCols ++
        CnjSchema.numericCols.filter(_ => rnd.nextDouble() < 0.7)
      val f = new File(outDir, s"teste_$sigla.csv")
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 20)
      w.write(cols.mkString(","))
      w.newLine()
      var bytes = 0L
      while (bytes < bytesPerFile) {
        val row = cols.map {
          case "sigla_tribunal" => sigla
          case "ramo_justica" => branch
          case _ =>
            val r = rnd.nextInt(100)
            if (r < 10) "" // nulls
            else if (r < 12) "junk" + rnd.nextInt(10) // coercion fodder
            else (rnd.nextInt(2000) / 10.0).toString
        }.mkString(",")
        w.write(row)
        w.newLine()
        bytes += row.getBytes(UTF_8).length + 1
      }
      w.close()
      written += bytes
    }
    println(f"[gen] $nFiles files, ${written / 1024.0 / 1024.0}%.1f MB in $outDir")
  }
}
