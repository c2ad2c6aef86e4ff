package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.io.Source
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins every DuckDB oracle string of [[SparkEntry.oracleSql]] by md5, so
  * a refactor of the oracle half of `SparkEntry` (shared fragments, moved
  * CTEs) cannot change a single byte DuckDB runs without failing the suite.
  *
  * `oracle_sql.md5` holds one line per oracle, `"<key> <md5hex(utf8(sql))>"`,
  * keys in C-locale (byte) order; `md5sum` over the file is the digest of
  * the whole listing.
  *
  * The oracles are frozen: re-recording a line is allowed only when that
  * surface's QUESTION changes (a new or corrected semantics, not a
  * rewording of the same query), and the change must be justified in
  * CHANGES.md. A red key after a pure refactor means the refactor is
  * wrong — fix the fragment, never the pin.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  test("every oracle string matches its pinned md5 (oracle_sql.md5)") {
    val text = Using.resource(
      Source.fromResource("graft/oracle_sql.md5", getClass.getClassLoader))(_.mkString)
    val pinned = text.linesIterator.map { l => val Array(k, h) = l.split(' '); k -> h }.toMap
    val now = SparkEntry.oracleSql.map { case (k, sql) => k -> md5Hex(sql) }
    val differing = (pinned.keySet ++ now.keySet).toSeq.sorted
      .filter(k => pinned.get(k) != now.get(k))
      .map(k => s"$k (pinned ${pinned.getOrElse(k, "-")}, now ${now.getOrElse(k, "-")})")
    assert(differing.isEmpty, s"oracle SQL drifted for ${differing.size} key(s):\n" +
      differing.mkString("\n"))
    // keys are ASCII, so String order is C-locale order
    val listing = now.toSeq.sortBy(_._1).map { case (k, h) => s"$k $h\n" }.mkString
    assert(text == listing, "oracle_sql.md5 must list one line per key in C-locale key order")
  }
}
