package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.html.HtmlExtract
import graft.pipeline.Corpus

/** Differential gate of the one tag scanner: `extractLinks`, `pageMeta` and
  * `extractTables` return exactly what their former implementations
  * (HtmlOracles) return, on seeded tag soup and on the synthetic corpus. */
class HtmlScanSpec extends AnyFunSuite {

  /** the first few documents (at most `show`) on which any of the three
    * entry points differs from its oracle */
  private def mismatches(docs: Iterator[String], show: Int = 3): Seq[String] =
    docs.flatMap { html =>
      Seq(
        "extractLinks" -> (HtmlExtract.extractLinks(html), HtmlOracles.extractLinks(html)),
        "pageMeta" -> (HtmlExtract.pageMeta(html), HtmlOracles.pageMeta(html)),
        "extractTables" -> (HtmlExtract.extractTables(html), HtmlOracles.extractTables(html)))
        .collect { case (what, (got, want)) if got != want =>
          s"$what differs\n  got  $got\n  want $want\n  html ${html.take(400)}"
        }
    }.take(show).toSeq

  // HtmlTableSpec's soup atoms plus the head, anchor and raw-text cases the
  // three entry points treat apart
  private val atoms = Vector(
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
    "<caption>", "</caption>", "<div>", "</div>", "<a href='x'>", "</a>",
    "<nav>", "</nav>", "&amp;", "<br/>", "<!-- c -->", "<script>", "</script>", "<", ">",
    "<title>", "</title>", "<TITLE>", "</title >", "<title/>",
    "<link rel=canonical href=/c1>", "<link rel=\"Canonical alternate\" href='/c&amp;2'>",
    "<link href=/c3 rel=canonical/>", "<link rel=canonical>",
    "<meta name=robots content=noindex>", "<meta name=\"ROBOTS\" content=\"nofollow, none\">",
    "<meta content=noindex name=robots/>", "<meta name=description content=nofollow>",
    "<a rel=nofollow href=/nf/>", "<a href=\"/s\" />", "<A HREF=/up>", "</ a >", "</A>",
    "<a name=top>", "<a href='/q?a=1&amp;b=2' rel='external nofollow'>",
    "<a href=/x><style>a{}</style>", "<a href=/y><script>var t='</a>';</script>",
    "<td><script>var c='<td>'</script>", "<td><style>td{}</style>",
    "<a href=\"/open", "<div class='x", "<p title=\"unterminated>", "'", "\"",
    "İ", "<tİtle>", "<svg>", "</svg>", "<head>", "</head>", "<noscript>", "</noscript>",
    "</SCRIPT>", "<style>", "</style>", "<!DOCTYPE html>", "<?xml version='1.0'?>",
    "<p>", "</p>", "<aside>", "</aside>", "<br>", "&lt;b&gt;", "&#x41;&#66;", "&nbsp;",
    "<div id=nav class=\"menu\">", "<article class=content>", "</article>", "=", "/",
    // whole rows and a whole data table, so some tables survive the soup
    "<tr><td>1</td><td>2</td></tr>", "<tr><th>k</th><th>v</th>",
    "<table><tr><td>a</td><td><a href=/t>b</a></td></tr><tr><td>c</td><td>d</td></tr></table>")

  private def soup(rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    (0 to 5 + rnd.nextInt(60)).foreach { _ =>
      if (rnd.nextInt(3) > 0) sb.append(atoms(rnd.nextInt(atoms.length)))
      else (0 to rnd.nextInt(3)).foreach { w =>
        if (w > 0) sb.append(' ')
        sb.append(('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(4)))
      }
      // no separator lets neighbours fuse ("<" + "a ..." opens a tag)
      sb.append(rnd.nextInt(4) match { case 0 => ""; case 1 => "\n"; case _ => " " })
    }
    sb.toString
  }

  test("links, page metadata and tables match their oracles on 2,500 seeded tag-soup documents") {
    val rnd = new scala.util.Random(20261020L)
    val docs = Vector.fill(2500)(soup(rnd))
    // the soup reaches every rule the scanner now carries for all three
    assert(docs.exists(d => HtmlExtract.extractLinks(d).exists(_.nofollow)))
    assert(docs.exists(d => HtmlExtract.pageMeta(d).canonical.nonEmpty))
    assert(docs.exists(d => HtmlExtract.pageMeta(d).noindex))
    assert(docs.exists(d => HtmlExtract.pageMeta(d).title.contains("<")))
    assert(docs.exists(d => HtmlExtract.extractTables(d).nonEmpty))
    val bad = mismatches(docs.iterator)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("links, page metadata and tables match their oracles on 1,000 corpus HTML payloads") {
    val docs = (0L until 1000L).iterator.map(i =>
      new String(Corpus.htmlPayload(42L, i), java.nio.charset.StandardCharsets.UTF_8))
    val bad = mismatches(docs)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
