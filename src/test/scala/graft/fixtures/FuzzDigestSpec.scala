package graft.fixtures

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins every [[FuzzCorpus]] round (~7,350 adversarial documents) by
  * digest, so a kernel change that moves any output byte fails the suite.
  *
  * This DETECTS CHANGE; it does not re-prove agreement with the reference
  * binary. The pinned values were recorded from kernel output that had
  * agreed byte-for-byte with the reference on these rounds and seeds
  * (BASELINE.md), so a mismatch means the catalog or the kernel drifted:
  *  - `pdf` still matches, `all` does not: the generator is unchanged and
  *    the kernel's output moved — a kernel regression unless proven
  *    otherwise;
  *  - `pdf` differs: the catalog itself changed.
  * Re-recording a value needs either a fresh-seed reference sweep
  * (`graft.tools.RefDump` + `tools/refverify/compare.sh`, all pairs
  * agreeing) or a written justification in CHANGES.md.
  *
  * The digest is the in-memory form of the shell recipe
  * `ls | LC_ALL=C sort | xargs md5sum | md5sum` over a RefDump directory:
  * md5 of the lines "<md5(file)>  <name>\n" sorted by name; `all` takes
  * every .pdf and .mine file, `pdf` only the .pdf files.
  */
class FuzzDigestSpec extends AnyFunSuite {
  import FuzzDigestSpec._

  /** round -> (docs, KERNEL-ERR docs, all digest, pdf digest) */
  private val pinned: Map[String, (Int, Int, String, String)] = Map(
    "r2" -> (1350, 7, "d0feb6af00f090b59b5225815f956f33", "04187954571dd709607a20b20537075f"),
    "r3" -> (500, 0, "593915bc6f8211121e82190faba8612c", "c281ae46aa40d0ee44649f5fdb6adcd7"),
    "r4" -> (500, 107, "9f88700b4928a990e3db245ec47d1f00", "07d15c7fcc9cb1f29683e7cd84000a2c"),
    "r5" -> (500, 251, "abeac41bd5a520d03eff1137d7e76bbe", "442954933c44bc6aa27d86a643a9a63a"),
    "r6" -> (500, 459, "ef02d2880aa3481e97a8abcd885ddda8", "92af2e3bd60b2b39b1cdaed06adbadef"),
    "r7" -> (500, 0, "87b5b5e1e613662c63f55f2059ed1c00", "bd92b10cf188b216234f13af07463899"),
    "r8" -> (500, 0, "02292118e22821bbd8e0ced179ff0006", "fc2ec2506394ea5a20a223e2a0db26f8"),
    "r9" -> (500, 0, "3ee6487c5c4d37374a8e9688bf6d3f86", "cfe9e758a412e370ddcb699d70eef2c1"),
    "r10" -> (500, 0, "b70109fd1eaaae05afc504b546266c20", "43756bcafdd19f842e24ddab58712f89"),
    "r11" -> (500, 0, "c1d41a395c990b2673c3e61178a68501", "f5126872787937ee3b7d0aaaa8730287"),
    "r12" -> (500, 0, "8a106cd499612b99b11dc88debed2369", "0a6a46563b630f29f9b1a0fb26fb63f7"),
    "r13" -> (500, 0, "762a2b4be4693162733b9fa3082c42d0", "51c057d5839136336e775d9ccfd74337"),
    "r14" -> (500, 0, "a31ceb4976f0e9f8a27218c9d207a645", "2b85a2e721aff89a62de80266a462097"),
    "cjk" -> (152, 0, "587fd33c32b8afd821eed6a354d2c1bf", "2e3e37103dc94f3baaca7ca316655837"))

  test("every catalog round is pinned") {
    assert(FuzzCorpus.rounds.map(_.name).toSet == pinned.keySet)
  }

  FuzzCorpus.rounds.foreach { round =>
    test(s"fuzz round ${round.name}: pdf and kernel-output digests match the pinned table") {
      val (nDocs, nErr, all, pdf) = pinned(round.name)
      val docs = round.docs()
      val pdfs = docs.map { case (stem, bytes) => s"$stem.pdf" -> bytes }
      val mines = docs.map { case (stem, bytes) => s"$stem.mine" -> FuzzCorpus.mine(bytes) }
      assert(docs.size == nDocs)
      assert(mines.count { case (_, m) => m.startsWith(KernelErr) } == nErr)
      assert(listingDigest(pdfs) == pdf, "generator drifted: the round's PDF bytes changed")
      assert(listingDigest(pdfs ++ mines) == all,
        "kernel output drifted on unchanged PDFs (see the spec doc before re-recording)")
    }
  }

  test("RefDump writes the pinned cjk dump: file names, .mine bytes, KERNEL-ERR convention") {
    val dir = Files.createTempDirectory("refdump-cjk")
    try {
      graft.tools.RefDump.main(Array(dir.toString, "cjk"))
      assert(directoryDigest(dir) == pinned("cjk")._3)
    } finally {
      Using.resource(Files.walk(dir))(_.iterator().asScala.toVector.reverse
        .foreach(Files.deleteIfExists))
    }
  }
}

object FuzzDigestSpec {
  private val KernelErr = "KERNEL-ERR ".getBytes("US-ASCII")

  private def md5Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** `ls | LC_ALL=C sort | xargs md5sum | md5sum` over (name, bytes) files;
    * names are ASCII, so String order is C-locale byte order */
  private def listingDigest(files: Seq[(String, Array[Byte])]): String =
    md5Hex(files.sortBy(_._1).map { case (name, b) => s"${md5Hex(b)}  $name\n" }
      .mkString.getBytes("US-ASCII"))

  /** [[listingDigest]] over the regular files of a directory on disk */
  private def directoryDigest(dir: Path): String =
    listingDigest(Using.resource(Files.list(dir))(_.iterator().asScala.toVector)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p)))
}
