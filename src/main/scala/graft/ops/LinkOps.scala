package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.html.HtmlExtract

/** Link-graph extraction — the operator pair between the HTML kernel and
  * [[CorpusOps.hostRank]]: pull every outlink (href + anchor text) out of
  * each page with the real DOM scanner, resolve it to a target HOST, and
  * aggregate the host->host edge list a centrality pass consumes. The
  * reference is PDF-only (pdf_extractor.h:6); this is north_rule surface
  * (Common-Crawl-style pages carry their link graph, and seed-list
  * curation ranks hosts by it).
  */
object LinkOps {

  /** lowercased host of an absolute URL; "" when unparseable/hostless */
  private[graft] def hostOf(url: String): String =
    try {
      val h = new java.net.URI(url.trim).getHost
      if (h == null) "" else h.toLowerCase(java.util.Locale.ROOT)
    } catch { case scala.util.control.NonFatal(_) => "" }

  private val schemePrefix = java.util.regex.Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.-]*:")

  /** target host of an href seen on a page of `baseHost`:
    *  - absolute http(s) -> its own host;
    *  - protocol-relative (`//host/...`) -> that host;
    *  - any other scheme (mailto/javascript/data/tel/ftp/...) -> "" (not
    *    a document link);
    *  - empty / fragment-only -> "" (self-reference, not an edge);
    *  - relative path -> the base host. */
  private[graft] def resolveHost(baseHost: String, href: String): String = {
    val h = href.trim
    if (h.isEmpty || h.startsWith("#")) ""
    else {
      val lower = h.toLowerCase(java.util.Locale.ROOT)
      if (lower.startsWith("http://") || lower.startsWith("https://")) hostOf(h)
      else if (h.startsWith("//")) hostOf("http:" + h)
      else if (schemePrefix.matcher(h).find()) ""
      else baseHost
    }
  }

  /** every resolvable outlink of every page, in document order.
    *
    * Input: (doc_id long, url string — the page's own URL, html string).
    * Output: (doc_id, link_pos int — 0-based ordinal among the page's
    * RESOLVABLE links, src_host, dst_host, href, anchor, nofollow).
    * Links that resolve to no host (mailto:, javascript:, fragment-only,
    * href-less anchors) are dropped; a page whose own URL has no parseable
    * host still emits its ABSOLUTE outlinks (src_host = "") but its
    * relative ones have no resolution target and drop.
    *
    * Scale shape: one typed flatMap fused with the scan — per-row kernel
    * work, zero shuffle, output proportional to link count (the
    * ExtractKernel discipline: pure-JVM scanner inside the partition
    * iterator). Like raw-input extraction, it runs in the scan
    * partitions, whose size `spark.sql.files.maxPartitionBytes` bounds. */
  def outlinks(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("doc_id").cast("long"), col("url").cast("string"),
        col("html").cast("string"))
      .as[(Long, String, String)]
      .flatMap { case (id, url, html) =>
        val base = hostOf(if (url == null) "" else url)
        var pos = -1
        HtmlExtract.extractLinks(if (html == null) "" else html)
          .flatMap { l =>
            val dst = resolveHost(base, l.href)
            if (dst.isEmpty) None
            else {
              pos += 1
              Some((id, pos, base, dst, l.href, l.anchor, l.nofollow))
            }
          }
      }
      .toDF("doc_id", "link_pos", "src_host", "dst_host", "href", "anchor", "nofollow")
  }

  /** absolute resolution of an href against the page URL — http(s) only
    * (a canonical pointing at mailto:/javascript: is markup noise, not a
    * document identity); "" when unresolvable */
  private[graft] def resolveUrl(baseUrl: String, href: String): String = {
    val h = href.trim
    if (h.isEmpty) ""
    else
      try {
        val lower = h.toLowerCase(java.util.Locale.ROOT)
        val abs =
          if (lower.startsWith("http://") || lower.startsWith("https://"))
            new java.net.URI(h)
          else {
            val b = new java.net.URI(if (baseUrl == null) "" else baseUrl.trim)
            if (b.getScheme == null || b.getHost == null) return ""
            b.resolve(h)
          }
        val scheme = abs.getScheme
        if (scheme != null && (scheme.equalsIgnoreCase("http") ||
            scheme.equalsIgnoreCase("https"))) abs.toString
        else ""
      } catch { case scala.util.control.NonFatal(_) => "" }
  }

  /** page-level metadata through the real scanner: title, declared
    * canonical (raw href + resolved absolute URL), and robots directives.
    * `canonical_url` falls back to the page's OWN url when no canonical is
    * declared or it cannot resolve (the self-canonical default every
    * search pipeline assumes) — a usable identity key whenever the page
    * has a URL at all (null/empty url with no canonical yields "";
    * [[canonicalLinkDedup]] treats those as singletons, not one group).
    *
    * Input: (doc_id long, url string, html string). Output: (doc_id,
    * title, canonical_href, canonical_url, noindex, nofollow).
    *
    * Scale shape: per-row typed map fused with the scan, zero shuffle. */
  def pageMetadata(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("doc_id").cast("long"), col("url").cast("string"),
        col("html").cast("string"))
      .as[(Long, String, String)]
      .map { case (id, url, html) =>
        val m = HtmlExtract.pageMeta(if (html == null) "" else html)
        val self = if (url == null) "" else url
        val resolved =
          if (m.canonical.isEmpty) self
          else {
            val r = resolveUrl(self, m.canonical)
            if (r.isEmpty) self else r
          }
        (id, m.title, m.canonical, resolved, m.noindex, m.nofollow)
      }
      .toDF("doc_id", "title", "canonical_href", "canonical_url",
        "noindex", "nofollow")
  }

  /** dedup on the DECLARED canonical: group by the canonicalized
    * canonical_url (CorpusOps.urlCanonical folds spelling variants),
    * keeper = lowest doc_id. The crawl-side complement of q39's
    * string-canonicalization dedup — here the PAGE tells us which URL it
    * considers itself a copy of (mirror pages, mobile/AMP variants,
    * pagination tails all declare the same canonical).
    *
    * Scale shape: one shuffle on the canonical key; the window's groups
    * are duplicate-cluster-sized. Documents carry only (doc_id, key).
    *
    * A page with NO usable identity (null/empty page url and no
    * resolvable canonical -> empty canon_key) is not a duplicate of the
    * other identity-less pages: each such doc forms its own singleton
    * group (kept=true, n_dups=1). Collapsing them onto the shared ""
    * key would silently drop unrelated documents AND build one
    * corpus-sized skew partition. */
  def canonicalLinkDedup(meta: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("group_key"))
    meta.select(col("doc_id"),
        coalesce(CorpusOps.urlCanonical(col("canonical_url")), lit(""))
          .as("canon_key"))
      .withColumn("group_key",
        when(col("canon_key") === "",
          concat(lit("\u0000doc:"), col("doc_id"))).otherwise(col("canon_key")))
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("n_dups", count(lit(1)).over(w))
      .select(col("doc_id"), col("canon_key"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("kept"), col("n_dups"))
  }

  /** aggregate an outlinks frame into the host->host edge list hostRank
    * consumes: nofollow links carry no endorsement (the rel=nofollow
    * contract search-engine graphs honor), intra-host links are navigation
    * not endorsement, and a hostless src ("" — unparseable page URL) has
    * no graph identity. One partial-combined groupBy on the (src,dst)
    * pair — edge-cardinality-sized, never document-sized. */
  def hostEdges(links: DataFrame): DataFrame =
    links.filter(!col("nofollow") &&
        col("src_host") =!= "" && col("src_host") =!= col("dst_host"))
      .groupBy(col("src_host").as("src"), col("dst_host").as("dst"))
      .agg(count(lit(1)).as("weight"))

  /** registered domain of a lowercased host — the aggregation key of
    * the DOMAIN-level web graph (Common Crawl publishes its link graph
    * at both host and registered-domain granularity; curation ranks
    * domains, since one operator's subdomains are one reputation).
    * Heuristic public-suffix rule, pure codegen'd column math: last two
    * labels, or last THREE when the host ends in a common second-level
    * suffix under a 2-letter ccTLD (co/com/net/org/gov/ac/edu.xx — the
    * shapes covering the overwhelming majority of multi-part suffixes;
    * the full public-suffix list is versioned data this library does
    * not ship, and the rule is deliberately RE2-expressible so any SQL
    * engine recomputes it exactly). Hosts with fewer labels (or "")
    * pass through unchanged. */
  def registeredDomain(host: Column): Column = {
    val cc = regexp_extract(host,
      "([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\.[a-z][a-z])$", 1)
    val two = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    coalesce(nullif(cc, lit("")), nullif(two, lit("")), host)
  }

  /** [[hostEdges]] at registered-domain granularity: subdomain variants
    * (www./blog./m. fronts of one operator) fold onto one node before
    * endorsement is counted, and links BETWEEN an operator's own
    * subdomains become intra-domain navigation and drop. Same scale
    * shape as hostEdges — one partial-combined groupBy on the folded
    * (src,dst) pair. */
  def domainEdges(links: DataFrame): DataFrame =
    links.filter(!col("nofollow") && col("src_host") =!= "")
      .select(registeredDomain(col("src_host")).as("src"),
        registeredDomain(col("dst_host")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))

  /** per-host graph degree/reciprocity statistics — the structural
    * spam signals every web-graph curation pass computes alongside
    * centrality: in/out degree and weight, and the fraction of a host's
    * out-NEIGHBORS that link back (link farms and paid-link rings
    * reciprocate ~100% of their edges; organically cited hosts don't).
    *
    * Input: (src, dst, weight>0) host edges (duplicates pre-aggregated
    * here, like hostRank). Output one row per host in the edge
    * universe: (host, out_deg, in_deg, out_weight, in_weight, n_recip,
    * reciprocity double = round(n_recip/out_deg, 6), 0.0 for pure
    * sinks).
    *
    * Scale shape: everything is edge-cardinality-sized — two partial
    * aggs (by src, by dst), one pair-key self-equi-join for the
    * reciprocated count (edges on (dst,src) — no cartesian anywhere),
    * and host-keyed outer joins to assemble. Documents never enter.
    * The aggregated edge table is consumed SIX times (out/in/recip
    * both sides/universe both sides), so it is lineage-cut once like
    * hostRank's — without the cut the upstream edge derivation
    * re-executes per consumer. */
  def hostGraphStats(edges: DataFrame): DataFrame = {
    val e = Checkpoints.cut(
      edges.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"),
          col("weight").cast("long").as("weight"))
        .filter(col("src").isNotNull && col("dst").isNotNull && col("weight") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight")))
    val outAgg = e.groupBy(col("src")).agg(
      count(lit(1)).as("out_deg"), sum(col("weight")).as("out_weight"))
    val inAgg = e.groupBy(col("dst")).agg(
      count(lit(1)).as("in_deg"), sum(col("weight")).as("in_weight"))
    val recip = e.select(col("src"), col("dst"))
      .join(e.select(col("dst").as("r_src"), col("src").as("r_dst")),
        col("src") === col("r_src") && col("dst") === col("r_dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("n_recip"))
    val universe = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    universe
      .join(outAgg, universe("host") === outAgg("src"), "left")
      .join(inAgg, universe("host") === inAgg("dst"), "left")
      .join(recip.withColumnRenamed("src", "rc_src"),
        universe("host") === col("rc_src"), "left")
      .select(col("host"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        when(coalesce(col("out_deg"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(coalesce(col("n_recip"), lit(0L)).cast("double") /
            col("out_deg"), 6)).as("reciprocity"))
  }

  /** weakly-connected components of the host graph — the partition map
    * Common Crawl publishes alongside its graphs (one giant component +
    * an archipelago of isolated clusters; spam rings and walled-off
    * mirror farms surface as dense small components, and anything not
    * connected to the main web is a curation signal by itself).
    *
    * Input: (src, dst) host edges (direction ignored — weak
    * connectivity). Output: (host, component_host) for every host in
    * the edge universe, component_host = the lexicographically smallest
    * host in the component (deterministic, engine-independent for the
    * ASCII/punycode hosts real crawls carry — Spark orders strings by
    * UTF-16 code unit, byte-collating engines by UTF-8; they agree on
    * ASCII).
    *
    * Cap rule: the cleaned edge count rides the edge table's cut; at or
    * under `localEdgeCap` edges (default [[Checkpoints.localEdgeCap]])
    * one collect brings the host strings to the driver and a union-find
    * whose root is the `String.compareTo`-smallest host labels them — the
    * order the distributed path's `sortBy(identity)` ids give — into a
    * driver-local frame. Above it (or with `localEdgeCap <= 0`) dense host
    * ids come from a total sort + zipWithIndex (one host-cardinality sort
    * shuffle + one count pass — NO single-partition window, NO
    * hash-as-id collision risk), and [[Dedup.connectedComponentsStar]]'s
    * large-star/small-star rounds do the real work over the (src, dst)
    * id pairs; because ids are rank-ordered, min-id semantics IS min-host
    * semantics. The id table feeds four joins, so it is lineage-cut
    * once. */
  def hostComponents(edges: DataFrame,
      localEdgeCap: Long = Checkpoints.localEdgeCap): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the cleaned edge table is lineage-cut ONCE: it feeds the host
    // universe (which RDD.sortBy's range-partitioner sample executes a
    // second time) and both sides of the id-attach join — without the
    // cut the caller's whole edge-derivation subtree (for q95, the
    // corpus-scanning hostGraphEdges) executed three times
    val (e0, _, local) = Checkpoints.gate(
      edges.select(col("src").cast("string").as("s"),
          col("dst").cast("string").as("d"))
        .filter(col("s").isNotNull && col("d").isNotNull &&
          col("s") =!= "" && col("d") =!= ""),
      localEdgeCap)
    local match {
      case Some(rows) =>
        // Ordering.String is String.compareTo
        spark.createDataset(Dedup.minRootComponents(
            rows.iterator.map(r => (r.getString(0), r.getString(1)))))
          .toDF("host", "component_host")
      case None =>
        val hosts = e0.select(col("s").as("host")).union(e0.select(col("d"))).distinct()
        val ids = Checkpoints.cut(
          hosts.as[String].rdd.sortBy(identity).zipWithIndex().toDF("host", "hid"))
        // the pair count is the edge count, over the cap here, so the
        // star rounds are called directly (connectedComponents' own gate
        // could not pass)
        val pairs = e0
          .join(ids.select(col("host").as("s"), col("hid").as("doc_a")), Seq("s"))
          .join(ids.select(col("host").as("d"), col("hid").as("doc_b")), Seq("d"))
          .select(col("doc_a"), col("doc_b"))
        Dedup.connectedComponentsStar(pairs)
          .join(ids.select(col("hid").as("doc_id"), col("host")), Seq("doc_id"))
          .join(ids.select(col("hid").as("cluster_id"),
            col("host").as("component_host")), Seq("cluster_id"))
          .select(col("host"), col("component_host"))
    }
  }

  /** host co-citation — "related hosts" discovery (Small 1973, the
    * classic bibliometric signal applied to the web graph): two hosts are
    * related when many DISTINCT sources link to both. Complements q89's
    * reciprocity (a spam ring interlinks itself; organically related hosts
    * are co-cited by third parties that need not link each other).
    *
    * Input: (src, dst) host edges (weights ignored — one source endorses a
    * pair once). Hub sources with out-degree > `maxOutDeg` are dropped
    * WHOLE before pairing — a directory page linking 10^5 hosts
    * contributes C(10^5,2) pairs of pure noise and is exactly the
    * quadratic blow-up the cap exists for (same role as q21's maxDf; the
    * cap is part of the contract, so any engine recomputes the same
    * result). Pairs are emitted once with host_a < host_b.
    *
    * Output: (host_a, host_b, n_common_sources) for pairs co-cited by at
    * least `minCommon` distinct sources.
    *
    * Scale shape: dedup + degree-cap are two partial-combined aggregates;
    * pairing is ONE self-equi-join on src with per-src fan-out bounded by
    * maxOutDeg (join output <= Σ C(deg,2), deg <= cap — never cartesian);
    * the pair aggregate is pair-cardinality-sized. Hosts move as strings
    * once; documents are never touched. */
  def coCitation(edges: DataFrame, minCommon: Long = 2L,
      maxOutDeg: Long = 1000L): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxOutDeg >= 2, s"maxOutDeg must be >= 2, got $maxOutDeg")
    // lineage-cut once: the deduped edge table feeds THREE consumers (the
    // degree cap + both sides of the pair self-join) — without the cut
    // each consumption re-runs the upstream edge derivation
    val e = Checkpoints.cut(edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= "" && col("dst") =!= "" && col("src") =!= col("dst"))
      .distinct())
    val kept = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxOutDeg).select(col("src"))
    val ek = e.join(kept, Seq("src"))
    ek.select(col("src"), col("dst").as("host_a"))
      .join(ek.select(col("src"), col("dst").as("host_b")), Seq("src"))
      .filter(col("host_a") < col("host_b"))
      .groupBy(col("host_a"), col("host_b"))
      .agg(count(lit(1)).as("n_common_sources"))
      .filter(col("n_common_sources") >= minCommon)
  }

  /** anchor-text aggregation: the terms the REST of the web uses when
    * linking to a host — the classic "anchor text describes the target
    * better than the target describes itself" retrieval signal, and a
    * seed-curation feature (a host whose in-anchors are all "cheap pills
    * casino" is judged by them). Same endorsement filter as
    * [[hostEdges]]: nofollow, intra-host, and hostless-src links carry
    * no description; so do empty anchors (image links, bare hrefs).
    *
    * Tokenization is the q33 contract (lower, trim, split on
    * whitespace) so any SQL engine recomputes it exactly.
    *
    * Output: top-`topK` terms per dst_host ranked by the number of
    * DISTINCT linking hosts (one spammy host repeating a term a million
    * times counts once), ties by total link count then term:
    * (dst_host, term, n_links long, n_hosts long, rnk int).
    *
    * Scale shape: one partial-combined groupBy on (dst_host, term,
    * src_host) — anchor-token-cardinality-sized, never document-sized —
    * then a second partial agg folding src out, then a per-dst-host
    * top-K window whose partitions are term-vocabulary-sized (bounded
    * by distinct anchor vocab per host, not by in-link count: the
    * distinct-host pre-agg collapses repeat anchors first). */
  /** synchronous label-propagation communities over the host graph
    * (Raghavan et al. 2007) — the density-based complement of
    * [[hostComponents]]: WCC answers "which hosts are REACHABLE from
    * each other" (one giant blob on any real web graph); LPA converges
    * to groups that are densely INTERlinked — link farms, mirror
    * networks, topical clusters — the structural unit seed-list
    * curation and spam review actually want. No reference analog
    * (pdf_extractor.h:6); north_rule surface.
    *
    * Deterministic variant (engines must agree): SYNCHRONOUS rounds
    * (all updates from the previous round's labels), fixed `iterations`,
    * and the argmax tie broken by MIN label — classic async LPA is
    * run-order-dependent, useless under a value-exact oracle. Labels
    * start as the host's own name; one round: each host adopts the
    * label with the highest total incident edge weight among its
    * neighbors (no self-vote). Edges are symmetrized (communities are
    * about mutual density, not direction); self-loops, NULLs and
    * weight<=0 drop ([[hostGraphStats]] guards); the universe is the
    * endpoints of surviving edges.
    *
    * Output: (host, label) — hosts sharing a label after `iterations`
    * rounds are one community.
    *
    * Scale shape: per round, ONE equi-join of the symmetrized edge
    * table against the label table (host-cardinality rows — labels are
    * short strings, never documents), one partial-combined vote
    * aggregate keyed by (host, label), and a per-host top-1 window on
    * the vote table (bounded by distinct neighbor labels, shrinking
    * every round). [[Checkpoints.cut]] pins each round's label table —
    * the q26/hostRank lineage discipline. */
  def labelPropagation(edges: DataFrame, iterations: Int = 2): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"),
        col("weight").cast("long").as("weight"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst") && col("weight") > 0)
    val und = Checkpoints.cut(
      e.select(col("src").as("a"), col("dst").as("b"), col("weight"))
        .union(e.select(col("dst").as("a"), col("src").as("b"), col("weight")))
        .groupBy(col("a"), col("b")).agg(sum(col("weight")).as("w")))
    // symmetric, so every node appears on the a side
    val nodes = Checkpoints.cut(und.select(col("a").as("host")).distinct())
    var labels = nodes.withColumn("label", col("host"))
    for (_ <- 1 to iterations) {
      val votes = und.join(labels, und("b") === labels("host"))
        .groupBy(col("a"), col("label")).agg(sum(col("w")).as("vw"))
      val w = Window.partitionBy(col("a"))
        .orderBy(col("vw").desc, col("label").asc)
      val winners = votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).select(col("a"), col("label").as("new_label"))
      labels = Checkpoints.cut(
        labels.select(col("host"), col("label"))
          .join(winners, col("host") === winners("a"), "left")
          .select(col("host"),
            coalesce(col("new_label"), col("label")).as("label")))
    }
    labels.select(col("host"), col("label"))
  }

  /** per-node triangle count + local clustering coefficient over an
    * undirected simple graph — the classic link-farm density signal
    * (Watts/Strogatz clustering; Becchetti et al. WebSpam 2008 use
    * exactly this per-host feature): organically linked hosts have
    * moderate clustering, interlinked spam rings are near-cliques
    * (coefficient → 1), directories are stars (coefficient → 0). The
    * reciprocity/degree complement lives in [[hostGraphStats]]; this is
    * the second-order structure those first-order stats can't see. No
    * reference analog (pdf_extractor.h:6); north_rule surface.
    *
    * Input: (src, dst) edges, any direction/multiplicity (symmetrized +
    * deduped here; NULLs, empties and self-loops drop). Output one row
    * per node: (node, degree long, triangles long, clustering_e6 long)
    * where clustering_e6 = floor(2·T·10^6 / (d·(d−1))) — exact integer
    * micro-units (the q120 div discipline: never a rounded double), 0
    * when degree < 2.
    *
    * Scale shape: the degree-ordered node-iterator join (Schank/Wagner
    * 2005; the MapReduce formulation is Suri/Vassilvitskii WWW 2011):
    * every edge is ORIENTED from its (degree, name)-smaller endpoint to
    * the larger, so each triangle is enumerated exactly once at its
    * minimum vertex and — the point at web scale — per-node out-degree
    * in the oriented DAG is O(sqrt(|E|)): a 10^6-in-link hub generates
    * wedges only from the few neighbors BELOW it in degree order, never
    * C(10^6, 2). One self-equi-join of the oriented table on the apex
    * builds wedges, one equi-join against the canonical edge set closes
    * them; both are hash joins on node keys — never cartesian, nothing
    * document-sized moves. The edge/degree/oriented tables each feed
    * multiple consumers and are lineage-cut once (the q26 discipline). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("string").as("s"),
        col("dst").cast("string").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= "" && col("d") =!= "" && col("s") =!= col("d"))
    val und = Checkpoints.cut(
      e.select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b")).distinct())
    val deg = Checkpoints.cut(
      und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("degree")))
    val oriented = Checkpoints.cut(und
      .join(deg.select(col("v").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("degree").as("db")), Seq("b"))
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("x")))
        .otherwise(struct(col("b").as("u"), col("a").as("x"))).as("e"))
      .select(col("e.u").as("u"), col("e.x").as("x")))
    // wedges at the apex u (x1 < x2 so each unordered wedge appears once,
    // matching the canonical closing-edge orientation below)
    val tri = oriented.select(col("u"), col("x").as("x1"))
      .join(oriented.select(col("u"), col("x").as("x2")), Seq("u"))
      .filter(col("x1") < col("x2"))
      .join(und, col("x1") === col("a") && col("x2") === col("b"))
      .select(col("u"), col("x1"), col("x2"))
    val perNode = tri
      .select(explode(array(col("u"), col("x1"), col("x2"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_e6",
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  /** bounded-round k-core peeling over an undirected simple graph —
    * the standard dense-subgraph extractor (Seidman 1983; Batagelj/
    * Zaveršnik's peeling): repeatedly delete every node whose degree in
    * the SURVIVING subgraph is below k. On a host graph the stable
    * k-core isolates interlinked rings too dense to be organic (the
    * complement of [[triangleStats]]' per-node view); on a near-dup
    * pair graph it isolates template farms that pairwise thresholds
    * see only as scattered edges. No reference analog
    * (pdf_extractor.h:6); north_rule surface.
    *
    * Deterministic bounded-round contract (the q115 discipline — a
    * value-exact oracle must be able to unroll it): exactly SYNCHRONOUS
    * peel rounds — round i computes every degree over the round-(i−1)
    * survivor-induced subgraph, then drops all sub-k nodes at once — up
    * to `maxRounds`, stopping early at the fixpoint (set-stable round;
    * every later round is then a no-op, so early exit is
    * unroll-equivalent). Output: one row per SURVIVING node,
    * (node, core_deg long) where core_deg is its degree in the final
    * survivor-induced subgraph — below k (even 0) only when `maxRounds`
    * stopped before the fixpoint; at the fixpoint this is the k-core
    * with internal degrees. Peeling a chain unravels one layer per
    * round, so full convergence on a path of length L needs ~L rounds:
    * production callers pass a generous maxRounds (the loop exits at
    * the fixpoint anyway); oracle-gated surfaces pin it small.
    *
    * Scale shape: per round, TWO semi-joins induce the surviving edge
    * table (node-keyed hash joins), one partial-combined degree
    * aggregate, one filter — edges shrink monotonically, nodes move as
    * strings, documents never move. Each round's survivor set and the
    * shrinking edge table are lineage-cut ([[Checkpoints.cut]], the
    * q26 loop discipline) so the plan never compounds across rounds;
    * the fixpoint test is one count on the node table. */
  def kCorePeel(edges: DataFrame, k: Int = 3, maxRounds: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val e = edges.select(col("src").cast("string").as("s"),
        col("dst").cast("string").as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull &&
        col("s") =!= "" && col("d") =!= "" && col("s") =!= col("d"))
    var und = Checkpoints.cut(
      e.select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b")).distinct())
    var alive = Checkpoints.cut(
      und.select(col("a").as("v")).union(und.select(col("b").as("v"))).distinct())
    var aliveN = alive.count()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // cut the induced edge table FIRST and compute degrees from the
      // materialized blocks: the former order ran the two semi-joins
      // twice per round (once inline under the survivor cut, again for
      // the edge-table cut). On the fixpoint round the extra cut holds
      // the same edge set as `und`, so using it below is value-neutral.
      val undNext = Checkpoints.cut(
        und.join(alive.select(col("v").as("a")), Seq("a"))
          .join(alive.select(col("v").as("b")), Seq("b"))
          .select(col("a"), col("b")))
      val deg = undNext.select(col("a").as("v"))
        .union(undNext.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // the survivor count rides the cut's materialization as an
      // Observation (the connectedComponents discipline): the former
      // separate count() job per round folds away
      val obs = org.apache.spark.sql.Observation(s"kcore_round_$round")
      val next = Checkpoints.cut(deg.filter(col("deg") >= k).select(col("v"))
        .observe(obs, count(lit(1)).as("n")))
      val n = Checkpoints.observed(obs) {
        next.agg(count(lit(1)).as("n")).head()
      }.getLong(0)
      und = undNext
      // A_{i+1} ⊆ A_i (an excluded node has no induced edges, hence no
      // degree row), so count equality IS set equality — fixpoint
      if (n == aliveN) converged = true
      else {
        alive = next
        aliveN = n
      }
      round += 1
    }
    val finalInduced = und.join(alive.select(col("v").as("a")), Seq("a"))
      .join(alive.select(col("v").as("b")), Seq("b"))
    val fdeg = finalInduced.select(col("a").as("v"))
      .union(finalInduced.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    alive.join(fdeg, Seq("v"), "left")
      .select(col("v").as("node"), coalesce(col("deg"), lit(0L)).as("core_deg"))
  }

  def anchorTerms(links: DataFrame, topK: Int = 5): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    import org.apache.spark.sql.expressions.Window
    val toks = links.filter(!col("nofollow") &&
        col("src_host") =!= "" && col("src_host") =!= col("dst_host") &&
        trim(col("anchor")) =!= "")
      .select(col("src_host"), col("dst_host"),
        explode(split(trim(lower(col("anchor"))), "\\s+")).as("term"))
    val perSrc = toks.groupBy(col("dst_host"), col("term"), col("src_host"))
      .agg(count(lit(1)).as("n"))
    val agg = perSrc.groupBy(col("dst_host"), col("term"))
      .agg(sum(col("n")).as("n_links"), count(lit(1)).as("n_hosts"))
    val w = Window.partitionBy(col("dst_host"))
      .orderBy(col("n_hosts").desc, col("n_links").desc, col("term").asc)
    agg.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("dst_host"), col("term"), col("n_links"), col("n_hosts"),
        col("rnk"))
  }

  /** per-URL crawl/index eligibility — the composed verdict a crawler's
    * indexing stage computes from the three independent exclusion
    * channels: robots rules (RFC 9309 longest-match via
    * [[RobotsOps.robotsFilter]]), the page's own robots META (noindex),
    * and a canonical LINK declaring the content's identity to live
    * elsewhere ([[CorpusOps.urlCanonical]]-folded comparison, the q86
    * rule). `reason` reports the FIRST failing channel in crawl order
    * (robots is checked before the page is even fetched, meta before
    * canonical).
    *
    * Input: pages (doc_id, url, html) + parsed robots rules. Output:
    * (doc_id, url, host, allowed, noindex, canonical_self, eligible,
    * reason).
    *
    * Scale shape: one metadata kernel pass + the robots rule join (rule
    * tables are host-cardinality — broadcastable, AQE decides), then a
    * doc_id equi-join between the two; page content never shuffles. */
  def crawlEligibility(pages: DataFrame, rules: DataFrame): DataFrame = {
    // NULL url folds to '' at entry (the family's unparseable-accounting
    // convention) — left NULL, urlCanonical(NULL) is NULL and the
    // three-valued eligible would vanish from BOTH eligible filters while
    // reason still claimed 'eligible'
    val p = pages.select(col("doc_id"),
      coalesce(col("url").cast("string"), lit("")).as("url"), col("html"))
    val rf = RobotsOps.robotsFilter(
        p.select(col("doc_id"), col("url")), rules)
      .select(col("doc_id"), col("url"), col("host"), col("allowed"))
    val meta = pageMetadata(p)
      .select(col("doc_id"), col("canonical_url"), col("noindex"))
    rf.join(meta, Seq("doc_id"))
      .withColumn("canonical_self",
        CorpusOps.urlCanonical(col("canonical_url")) ===
          CorpusOps.urlCanonical(col("url")))
      .withColumn("eligible",
        col("allowed") && !col("noindex") && col("canonical_self"))
      .withColumn("reason",
        when(!col("allowed"), "robots_disallow")
          .when(col("noindex"), "noindex")
          .when(!col("canonical_self"), "canonical_elsewhere")
          .otherwise("eligible"))
      .select(col("doc_id"), col("url"), col("host"), col("allowed"),
        col("noindex"), col("canonical_self"), col("eligible"), col("reason"))
  }
}
