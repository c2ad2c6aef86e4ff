package graft.fixtures

import scala.util.Random

import graft.fixtures.fuzz._

/** The differential-fuzz corpus as one seeded catalog: one [[FuzzCorpus.Round]]
  * per fuzz round (`r2` .. `r14`, each the families of its `fuzz.FuzzRn`
  * generator in their original order and counts) plus `cjk`, the
  * predefined-CMap sweep. A round is pure — every document comes from a
  * `Random` built from an explicit seed, with no global state and no IO —
  * so `docs(seed)` returns the same bytes on every call. Default seeds are
  * the ones each round was compared against the reference binary with
  * (BASELINE.md).
  *
  * Consumers: `graft.tools.RefDump` writes the (stem.pdf, stem.mine) pairs
  * that `tools/refverify/compare.sh` byte-compares with the reference, and
  * `FuzzDigestSpec` pins every round's digest in the test suite.
  */
object FuzzCorpus {

  /** receives one generated document: (file stem, pdf bytes) */
  type Emit = (String, Array[Byte]) => Unit

  /** one catalog entry; `seed` is its default seed (`cjk` ignores seeds) */
  final class Round private[FuzzCorpus] (val name: String, val seed: Long, gen: (Random, Emit) => Unit) {

    /** every document of the round, in generation order */
    def docs(seed: Long = this.seed): Vector[(String, Array[Byte])] = {
      val out = Vector.newBuilder[(String, Array[Byte])]
      gen(new Random(seed), (stem, pdf) => out += stem -> pdf)
      out.result()
    }
  }

  val rounds: Seq[Round] = Seq(
    new Round("r2", 20260817L, (rnd, emit) => new FuzzR2(rnd, emit).run()),
    new Round("r3", 20260818L, (rnd, emit) => new FuzzR3(rnd, emit).run()),
    new Round("r4", 20260819L, (rnd, emit) => new FuzzR4(rnd, emit).run()),
    new Round("r5", 20260820L, (rnd, emit) => new FuzzR5(rnd, emit).run()),
    new Round("r6", 20260821L, (rnd, emit) => new FuzzR6(rnd, emit).run()),
    new Round("r7", 20260822L, (rnd, emit) => new FuzzR7(rnd, emit).run()),
    new Round("r8", 20260830L, (rnd, emit) => new FuzzR8(rnd, emit).run()),
    new Round("r9", 20260909L, (rnd, emit) => new FuzzR9(rnd, emit).run()),
    new Round("r10", 20261010L, (rnd, emit) => new FuzzR10(rnd, emit).run()),
    new Round("r11", 20261111L, (rnd, emit) => new FuzzR11(rnd, emit).run()),
    new Round("r12", 20261212L, (rnd, emit) => new FuzzR12(rnd, emit).run()),
    new Round("r13", 20261313L, (rnd, emit) => new FuzzR13(rnd, emit).run()),
    new Round("r14", 20261414L, (rnd, emit) => new FuzzR14(rnd, emit).run()),
    new Round("cjk", 0L, (_, emit) => CjkSweep.run(emit)))

  def round(name: String): Round =
    rounds.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown fuzz round '$name' (known: ${rounds.map(_.name).mkString(",")})"))

  /** the kernel's `.mine` bytes for one document: the extracted text, or
    * "KERNEL-ERR <exception class>" when the kernel throws — never a throw,
    * so every document yields a comparable pair. `tools/refverify/compare.sh`
    * and the agree-on-error loop key on that literal prefix. */
  def mine(pdf: Array[Byte]): Array[Byte] =
    try graft.core.pdf.PdfExtract.pdf2txt(pdf)
    catch { case e: Throwable => ("KERNEL-ERR " + e.getClass.getName).getBytes }

  /** 1-8 lowercase letters off the caller's seeded Random — lowercase ONLY
    * so generated prose can never collide with PDF operator tokens (Tj,
    * BI, EI, ...) */
  def randWord(rnd: Random): String = {
    val n = 1 + rnd.nextInt(8)
    (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }
}
