package graft.tools

import java.nio.file.{Files, Paths}

import graft.fixtures.FuzzCorpus

/** Writes fuzz-catalog rounds ([[graft.fixtures.FuzzCorpus]]) as
  * (stem.pdf, stem.mine) pairs for the reference comparison:
  * `tools/refverify/compare.sh <dir>` byte-compares every .mine with the
  * reference binary's output for its .pdf.
  *
  * `runMain graft.tools.RefDump <outDir> [rounds] [seed]`
  *  - rounds: comma-separated catalog names (r2..r14, cjk); default all;
  *  - seed: replaces every listed round's default seed (cjk is unseeded).
  * One round writes into `outDir`; several write one `outDir/<round>`
  * directory each (file stems repeat across rounds). Re-running after a
  * kernel change rewrites the same PDFs with fresh .mine files.
  */
object RefDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error("usage: RefDump <outDir> [rounds] [seed]"))
    val rounds = args.lift(1).fold(FuzzCorpus.rounds)(_.split(',').toSeq.map(FuzzCorpus.round))
    val seed = args.lift(2).map(_.toLong)
    rounds.foreach { r =>
      val dir = Paths.get(if (rounds.size == 1) outDir else s"$outDir/${r.name}")
      Files.createDirectories(dir)
      val docs = r.docs(seed.getOrElse(r.seed))
      docs.foreach { case (stem, pdf) =>
        Files.write(dir.resolve(s"$stem.pdf"), pdf)
        Files.write(dir.resolve(s"$stem.mine"), FuzzCorpus.mine(pdf))
      }
      println(s"RefDump ${r.name}: ${docs.size} docs to $dir")
    }
  }
}
