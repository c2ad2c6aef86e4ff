package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-text corpora.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash-shuffle on a 64-bit text hash (never on the
  *    full text: shuffle keys stay 8 bytes);
  *  - MinHash-LSH shuffles (band_id, band_hash) pairs — b small ints per
  *    doc — then joins only within buckets, never all-pairs; giant buckets
  *    (viral boilerplate) are capped by `maxBucketSize` before the pair
  *    join, so one hot key cannot go quadratic;
  *  - SimHash banding turns hamming-<=k search into exact-match bucket
  *    joins over C(m, m-k) wide block-combination keys (~32-40 bits), so
  *    bucket occupancy stays O(1) out to 10^10..10^12 docs — the 16-bit
  *    segment scheme saturates at ~10^7;
  *  - exact n-gram Jaccard runs only on LSH candidate pairs, and the grams
  *    table is built only for docs that appear in some candidate pair
  *    (broadcast semi-join) — never shuffled for the whole corpus;
  *  - embedding near-dup: exact mode is a symmetric block-pair equi-join
  *    (work spread over B(B+1)/2 reduce keys, bounded task memory, no
  *    CartesianProduct/BroadcastNestedLoopJoin node); high thresholds can
  *    use the LSH candidate+verify path reusing SimSearch.lshBuckets.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------------
  /** groups of byte-identical texts; one shuffle on xxhash64(text) */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(xxhash64(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** quality-PRIORITY exact dedup over normalization-equivalent copies —
    * the Dolma/RedPajama "keep the best copy" rule instead of keep-first:
    * documents whose `TextOps.normalizeText` forms are byte-identical
    * form a group (re-crawls of one page differing only in whitespace/
    * control-char noise), and the group's winner is the copy with the
    * highest RAW-text quality score (tie -> lowest doc_id) — the copy a
    * curator would keep, not the one that happened to hash first. Every
    * input doc comes back with its group size and a `kept` flag; docs are
    * never dropped silently.
    *
    * Scale shape: the normalized text leaves its documents only as the
    * 8-byte xxhash64 group key; the winner is ONE partial-aggregated
    * groupBy (max of a (quality, -doc_id) struct — no window, no per-group
    * sort), and winners rejoin on the same key, so the corpus exchanges
    * twice on 8-byte keys and the text itself never shuffles. Same 64-bit
    * collision contract as the rest of the hash-keyed dedup family.
    * `qualityScore` is 1e-6-rounded at source, so any recompute (or SQL
    * mirror) ranks identically. */
  def exactDedupKeepBest(documents: DataFrame): DataFrame = {
    val scored = documents.select(
      col("doc_id"),
      xxhash64(TextOps.normalizeText(coalesce(col("text"), lit("")))).as("h"),
      TextOps.qualityScore(col("text")).as("quality"))
    keepBestPerGroup(scored, "h", "n_copies")
      .select(col("doc_id"), col("quality"), col("n_copies"), col("kept"))
  }

  /** the ONE winner rule shared by the exact and fuzzy keep-best dedups
    * (max (quality, -doc_id) struct argmax — highest quality, ties to the
    * LOWEST doc_id — then a rejoin on the group key): one partial-
    * aggregated groupBy + one equi-join, no window, no per-group sort.
    * `scored` carries (doc_id, quality, <groupCol>); the group size comes
    * back as `countName` and the winner flag as `kept`. */
  private def keepBestPerGroup(
      scored: DataFrame, groupCol: String, countName: String): DataFrame = {
    val winners = scored
      .groupBy(col(groupCol))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("w"),
        count(lit(1)).as(countName))
      .select(col(groupCol), (-col("w.neg_id")).as("keep_id"), col(countName))
    scored.join(winners, Seq(groupCol))
      .withColumn("kept", col("doc_id") === col("keep_id"))
      .drop("keep_id")
  }

  /** quality-priority FUZZY dedup — the production representative-selection
    * step (RefinedWeb keeps one doc per near-dup cluster; SlimPajama ranks
    * by length, Dolma by order — here by the 1e-6-rounded quality score,
    * ties to min doc_id, matching `exactDedupKeepBest`'s winner rule).
    * `pairs` is any near-dup edge table (`doc_a`,`doc_b`) from the LSH /
    * Jaccard / SimHash / embedding families; clusters are their connected
    * components, docs in no pair are singleton keepers.
    *
    * Scale shape: text is reduced to an 8-byte quality AT THE SCAN, so the
    * corpus-side frames carry (doc_id, quality[, cluster_id]) triples only;
    * the cluster table is near-dup-docs-sized (a small corpus fraction by
    * construction — LSH already pruned), so AQE broadcasts both the
    * cluster join and the winner rejoin and documents never shuffle; the
    * one corpus-wide aggregation groups 24-byte rows by cluster_id with
    * map-side partial combine. */
  def fuzzyDedupKeepBest(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs)
    val scored = documents.select(
      col("doc_id").cast("long").as("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"))
    val withC = scored
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("quality"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    keepBestPerGroup(withC, "cluster_id", "cluster_size")
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("cluster_size"), col("kept"))
  }

  // ---- MinHash + LSH ---------------------------------------------------------
  final val N_HASHES = 64
  final val N_BANDS = 16 // 4 rows per band
  final val ROWS_PER_BAND = N_HASHES / N_BANDS
  /** default cap on docs per (band, band_hash) bucket: a bucket of 1000+
    * near-identical docs (viral boilerplate) would emit >=500k pairs from
    * one reduce key; production near-dup pipelines drop such clusters. */
  final val MAX_BUCKET_SIZE_DEFAULT = 1000
  private final val PRIME = 2305843009213693951L // 2^61 - 1

  /** deterministic affine hash params (seeded), flat arrays — the signature
    * inner loop runs 64x per shingle, so no tuple boxing there */
  private[graft] def hashParams(seed: Long): (Array[Long], Array[Long]) = {
    val as = new Array[Long](N_HASHES)
    val bs = new Array[Long](N_HASHES)
    var i = 0
    while (i < N_HASHES) {
      var z = seed + i * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      as(i) = ((z ^ (z >>> 27)) | 1L) & 0x3fffffffffffffffL
      var z2 = z + 0x94d049bb133111ebL
      z2 = (z2 ^ (z2 >>> 31)) * 0xbf58476d1ce4e5b9L
      bs(i) = z2 & 0x3fffffffffffffffL
      i += 1
    }
    (as, bs)
  }

  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** word 3-shingles -> 64 minhashes (pure, executor-local).
    *
    * ENGINE-PORTABLE hash discipline (round 5): the shingle base value is
    * the top 60 bits of md5 of the gram string — exactly
    * `('0x' || substr(md5(g), 1, 15))::BIGINT` in DuckDB — and each of
    * the 64 hash functions is the affine map `(a*x + b)` in plain
    * wrapping 64-bit arithmetic followed by Scala's signed `% PRIME`,
    * both restatable in 128-bit SQL. That makes every minhash-family
    * surface (q06 pairs + estimates, q65 snapshot flags, q81 fuzzy
    * decontamination) recomputable by the DuckDB oracle end to end. One
    * md5 per DISTINCT shingle per doc (~150ns) is noise next to the
    * bucket shuffle; the previous mix-based base saved that cost but no
    * external engine could restate it. Signed minima are compared as-is
    * (the SQL mirror converts to signed BIGINT before its min). */
  def minhashSignature(text: String, as: Array[Long], bs: Array[Long]): Array[Long] = {
    val sig = Array.fill(N_HASHES)(Long.MaxValue)
    if (text == null) return sig
    val raw = WS.split(text.toLowerCase(java.util.Locale.ROOT))
    // compact tokens in one pass
    val toks = new Array[String](raw.length)
    var nTok = 0
    var t = 0
    while (t < raw.length) {
      if (raw(t).nonEmpty) { toks(nTok) = raw(t); nTok += 1 }
      t += 1
    }
    val nShingles = math.max(nTok - 2, if (nTok == 0) 0 else 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < nShingles) {
      val sb = new java.lang.StringBuilder(toks(i))
      if (i + 1 < nTok) { sb.append(' '); sb.append(toks(i + 1)) }
      if (i + 2 < nTok) { sb.append(' '); sb.append(toks(i + 2)) }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // top 60 bits of the digest, read big-endian = first 15 hex chars
      var x = 0L
      var b = 0
      while (b < 8) { x = (x << 8) | (d(b) & 0xffL); b += 1 }
      x = x >>> 4
      var h = 0
      while (h < N_HASHES) {
        val v = (as(h) * x + bs(h)) % PRIME // wraps mod 2^64, signed % PRIME
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit LSH bucket key of one signature band: band index in the high
    * 32 bits, FNV-1a over the band's minhash rows in the low 32 — ONE
    * definition shared by the batch pairer (`minhashLsh`) and the
    * incremental snapshot path (`minhashBandSnapshot` /
    * `minhashIncrementalFlags`), so a band-hash change cannot silently
    * strand an existing snapshot. */
  private[graft] def bandKey(sig: Array[Long], b: Int): Long = {
    var acc = 0x811c9dc5 // FNV-1a over the band's minhash rows
    var r = 0
    while (r < ROWS_PER_BAND) {
      val v = sig(b * ROWS_PER_BAND + r)
      acc = (acc ^ v.toInt) * 0x01000193
      acc = (acc ^ (v >>> 32).toInt) * 0x01000193
      r += 1
    }
    (b.toLong << 32) | (acc & 0xffffffffL)
  }

  /** candidate near-duplicate pairs via banded MinHash-LSH; each pair carries
    * the estimated jaccard = matching-minhash fraction.
    *
    * Scale shape: ONE pass computes signatures and emits (band, band_hash,
    * doc_id, sig) rows; ONE shuffle groups them by bucket; pairs are
    * generated executor-locally per bucket with `flatMapGroups` (streaming
    * the group iterator, buffering at most maxBucketSize+1 rows — bounded
    * task memory). Buckets larger than `maxBucketSize` (viral boilerplate)
    * are dropped whole, so no reduce key goes quadratic. A self-join would
    * shuffle — and recompute — the signature pipeline twice: Spark does not
    * reuse exchanges under typed MapElements subtrees (verified on 4.1). */
  /** just the deduped banded-LSH candidate PAIR SET of [[minhashLsh]] —
    * identical (doc_a, doc_b) rows (same signatures, same bands, same
    * bucket cap), without the signature-rejoin verify that computes
    * est_jaccard. For consumers that only consume the pair set (q155's
    * candidates side), the verify joins are pure discarded work — and
    * the eager checkpoint inside minhashLsh forces them to execute, so
    * Catalyst cannot prune them away. */
  private[graft] def minhashLshCandidates(
      documents: DataFrame,
      seed: Long = 42L,
      maxBucketSize: Int = MAX_BUCKET_SIZE_DEFAULT): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (as, bs) = hashParams(seed)
    val pairs = documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, minhashSignature(text, as, bs)) }
      .flatMap { case (id, sig) =>
        if (sig(0) == Long.MaxValue) Iterator.empty
        else (0 until N_BANDS).iterator.map(b => (bandKey(sig, b), id))
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        var over = false
        while (it.hasNext) {
          val r = it.next()
          if (!over) {
            buf += r._2
            if (buf.length > maxBucketSize) { over = true; buf.clear() }
          }
        }
        if (over) Iterator.empty
        else {
          val arr = buf.sorted.toArray
          (0 until arr.length).iterator.flatMap { i =>
            (i + 1 until arr.length).iterator.map(j => (arr(i), arr(j)))
          }
        }
      }
      .toDF("doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_n")).drop("_n")
    Checkpoints.eager(pairs) {}
  }

  def minhashLsh(
      documents: DataFrame,
      seed: Long = 42L,
      maxBucketSize: Int = MAX_BUCKET_SIZE_DEFAULT,
      maxBroadcastPairs: Long = 4000000L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (as, bs) = hashParams(seed)
    // signatures computed ONCE and persisted; the bucket shuffle moves only
    // (bandKey, id) 12-byte rows — an earlier cut shipped the full 512-byte
    // signature on every band row (16x per doc: ~8 KB/doc of shuffle, vs
    // ~200 B/doc here). Signatures rejoin only for the DEDUPED candidate
    // pairs, which are a tiny fraction of the corpus.
    val sigs = documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, minhashSignature(text, as, bs)) }
      .toDF("doc_id", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // token-free docs (sig(0) == Long.MaxValue — no shingle can reach
    // MaxValue since every affine value is < PRIME) emit NO bands: LSH
    // pairing two empty documents is meaningless (exact dedup owns
    // byte-identical empties), matches decontaminateFuzzy's
    // empties-never-match rule, and keeps the SQL oracle (which shingles
    // only token-bearing docs) faithful
    val banded = sigs.as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        if (sig(0) == Long.MaxValue) Iterator.empty
        else (0 until N_BANDS).iterator.map(b => (bandKey(sig, b), id))
      }
    val pairsRaw = banded.groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        var over = false
        while (it.hasNext) {
          val r = it.next()
          if (!over) {
            buf += r._2
            if (buf.length > maxBucketSize) { over = true; buf.clear() }
          }
        }
        if (over) Iterator.empty
        else {
          val arr = buf.sorted.toArray
          (0 until arr.length).iterator.flatMap { i =>
            (i + 1 until arr.length).iterator.map(j => (arr(i), arr(j)))
          }
        }
      }
      .toDF("doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("_n")).drop("_n")
    // consumed twice below (id prune + verify join): materialize the
    // candidate-sized frame once, via the ADAPTIVE cut rather than
    // persist — a persisted plan pins the static shuffle partitioning
    // (32 near-empty final-agg tasks measured for a candidate-sized pair
    // table), while the cut's AQE-coalesced blocks size downstream reads
    // to the data. The size-gate count rides the materialization as an
    // Observation (the connectedComponents discipline).
    val pairsObs = org.apache.spark.sql.Observation("minhash_pairs")
    val pairs = Checkpoints.cut(
      pairsRaw.observe(pairsObs, count(lit(1)).as("n")))
    // verify-join shape is SIZE-GATED on the candidate count:
    //  - pairs under `maxBroadcastPairs` (the normal regime): join the
    //    small pair set straight against the persisted sigs — AQE
    //    broadcasts the pair side and the corpus-sized signature frame is
    //    never shuffled; no extra stages in the Amdahl tail (round-4
    //    profile: the verify tail is what caps this job's scaling).
    //  - pairs ABOVE the threshold (mass-duplication corpora): joining
    //    sigs directly would shuffle the corpus-sized signature frame
    //    TWICE; instead prune sigs to candidate ids with one semi-join
    //    (persisted — both verify joins read it) so the equi-joins are
    //    candidate-sized.
    val nPairs = Checkpoints.observed(pairsObs) {
      pairs.agg(count(lit(1)).as("n")).head()
    }.getLong(0)
    val (joinA, joinB, extraRelease: (() => Unit)) =
      if (nPairs <= maxBroadcastPairs)
        (sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
          sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
          () => ())
      else {
        val candIds = pairs
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        val candSigs = sigs.join(candIds, Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (candSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
          candSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
          () => { candSigs.unpersist(); () })
      }
    val out = pairs
      .join(joinA, "doc_a")
      .join(joinB, "doc_b")
      .withColumn("est_jaccard", expr(
        s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), m -> m)) / ${N_HASHES}.0D"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    // materialize the (tiny) pair result eagerly, then RELEASE the corpus-
    // sized signature cache: block-manager residency across repeated calls
    // in a long session is bounded by O(pairs), not O(corpus). Mechanism
    // (reliable checkpoint vs local) and the executor-loss tradeoff are
    // documented on Checkpoints.
    // pairs is a lineage cut (checkpoint blocks, ContextCleaner-reclaimed
    // once unreferenced), so only the persisted caches release here
    Checkpoints.eager(out) { sigs.unpersist(); extraRelease() }
  }

  // ---- SimHash ----------------------------------------------------------------
  /** 64-bit SimHash over word hashes (pure, executor-local).
    *
    * ENGINE-PORTABLE (round 5): the per-token hash is md5's LOW 8 digest
    * bytes little-endian — DuckDB's `md5_number_lower` — so the q07
    * oracle recomputes every simhash (and therefore the full brute-force
    * hamming pair set, which the banded join provably equals for
    * hamming <= k) from SQL alone. Per-token md5 is one digest per
    * token occurrence; the banding/bucketing cost still dominates. */
  def simhash(text: String): Long = {
    if (text == null) return 0L
    val acc = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { w =>
      if (w.nonEmpty) {
        md.reset()
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var b = 15
        while (b >= 8) { h = (h << 8) | (d(b) & 0xffL); b -= 1 }
        var bit = 0
        while (bit < 64) {
          if (((h >> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
          bit += 1
        }
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (acc(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def simhashes(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      // token-free docs emit no hash row: simhash(no tokens) = 0 would
      // pair every empty doc with every other at hamming 0 — exact
      // dedup's job, not a similarity signal (and the brute-force SQL
      // oracle computes hashes only for token-bearing docs)
      .flatMap { case (id, t) =>
        if (t == null || t.trim.isEmpty) Iterator.empty
        else Iterator((id, simhash(t)))
      }
      .toDF("doc_id", "simhash")
  }

  /** block boundaries for splitting 64 bits into m near-equal blocks */
  private[ops] def blockBounds(m: Int): Array[(Int, Int)] = {
    // (shift, width) per block; widths differ by at most 1
    val base = 64 / m
    val extra = 64 % m
    val out = new Array[(Int, Int)](m)
    var shift = 0
    var i = 0
    while (i < m) {
      val w = base + (if (i < extra) 1 else 0)
      out(i) = (shift, w)
      shift += w
      i += 1
    }
    out
  }

  /** exact banding keys for hamming <= k over m blocks: one key per
    * combination of (m-k) blocks — by pigeonhole, any pair within hamming k
    * leaves >= (m-k) blocks untouched, so it shares >= 1 key. Key = combo id
    * in the top bits ‖ the concatenated block values (~32-40 bits wide, vs
    * 16 bits for the classic 4-segment scheme — bucket occupancy stays flat
    * out to 10^10..10^12 docs). */
  private[ops] def simhashBandKeys(sh: Long, m: Int, k: Int): Array[Long] = {
    val bounds = blockBounds(m)
    val combos = (0 until m).combinations(m - k).toArray
    val keys = new Array[Long](combos.length)
    var c = 0
    while (c < combos.length) {
      var key = c.toLong // combo id disambiguates key spaces
      val combo = combos(c)
      var j = 0
      while (j < combo.length) {
        val (shift, w) = bounds(combo(j))
        val bits = (sh >>> shift) & ((1L << w) - 1L)
        key = (key << w) | bits
        j += 1
      }
      keys(c) = key
      c += 1
    }
    keys
  }

  /** near-dup pairs with hamming(simhash) <= maxHamming over a precomputed
    * (doc_id, simhash) frame. `nBlocks` = m in the C(m, m-k) key scheme:
    * m=6 gives 20 keys/doc of ~32 bits (good to ~10^10 docs); m=8 gives 56
    * keys/doc of 40 bits (good to ~10^12). */
  def simhashNearDupsFromHashes(
      hashes: DataFrame,
      maxHamming: Int = 3,
      nBlocks: Int = 6): DataFrame = {
    require(nBlocks > maxHamming, s"need nBlocks > maxHamming, got $nBlocks <= $maxHamming")
    val spark = hashes.sparkSession
    import spark.implicits._
    val m = nBlocks
    val k = maxHamming
    val banded = hashes.select(col("doc_id").cast("long"), col("simhash"))
      .as[(Long, Long)]
      .flatMap { case (id, sh) =>
        simhashBandKeys(sh, m, k).iterator.map(key => (key, id, sh))
      }
      .toDF("band_key", "doc_id", "simhash")
    val a = banded.select(col("band_key"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band_key"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** near-dup pairs with hamming(simhash(text)) <= maxHamming */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3, nBlocks: Int = 6): DataFrame =
    simhashNearDupsFromHashes(simhashes(documents), maxHamming, nBlocks)

  // ---- exact n-gram Jaccard (verification pass over LSH candidates) ------------

  /** word-3-gram array for a lowercased text column, materializing the token
    * array once per row (referencing split() inside the lambda would
    * recompute it per shingle — O(n^2)). Same definition everywhere the
    * engine shingles: `sequence(0, max(n-3, 0))` indices, `slice` +
    * `concat_ws(' ')`, so short/empty docs yield one (possibly partial)
    * gram — keeps Jaccard defined for every doc. */
  private[graft] def withGrams(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), expr(
        "transform(sequence(0, greatest(size(toks) - 3, 0)), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 3)))").as("grams"))

  /** EXACT all-pairs word-3-gram Jaccard >= threshold via an inverted-index
    * join — the scale shape for exact set-similarity self-joins:
    *
    *  1. one pass builds each doc's DISTINCT gram set (set size kept);
    *  2. explode to (gram, doc_id) postings and equi-join postings with
    *     themselves on the gram — only docs SHARING a gram ever meet
    *     (never all-pairs; the plan is a shuffled equi-join, no cartesian);
    *  3. count shared grams per pair (partial aggregation map-side), then
    *     jaccard = common / (|A| + |B| - common), filter by threshold.
    *
    * Work is sum over grams of df^2 — at web scale ubiquitous grams
    * (boilerplate n-grams with document frequency in the millions) must be
    * dropped via `maxDf`: a gram shared by >maxDf docs contributes join
    * pairs quadratically while adding at most 1 to `common`, so dropping it
    * lowers computed jaccard by < 1/|union| per gram — bounded, documented
    * recall loss at the threshold boundary only. maxDf = 0 disables the cap
    * (exactness mode, used by the DuckDB-oracled query). */
  /** distinct word-3-gram set of one text, identical semantics to
    * `withGrams` + array_distinct (split keeps trailing empties like SQL
    * split with limit -1; indices 0..max(n-3,0); short slices allowed).
    * Typed Scala loop instead of the Catalyst transform/slice expression:
    * ~10x faster per row and evaluated ONCE per doc (the expression subtree
    * was re-evaluated on both sides of the self-join). */
  private[graft] def gramSet(text: String): Array[String] = {
    val toks = WS.split(if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT), -1)
    val n = toks.length
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    val last = math.max(n - 3, 0)
    while (i <= last) {
      val sb = new java.lang.StringBuilder()
      var j = i
      val end = math.min(i + 3, n)
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }

  def ngramJaccardAllPairs(
      documents: DataFrame,
      threshold: Double = 0.8,
      maxDf: Int = 0): DataFrame = {
    val (out, postings) = ngramJaccardAllPairsLazy(documents, threshold, maxDf)
    // same release pattern as minhashLsh: result is O(pairs), postings are
    // O(corpus grams) — materialize the former, free the latter
    Checkpoints.eager(out) { postings.unpersist() }
  }

  /** UNPERSISTED hashed distinct-gram postings carrying each doc's
    * uncapped distinct-gram-set size on every row: (doc_id, g, sz).
    * Carrying sz in the scan kernel is what lets the capped pair core
    * skip both the per-doc sizes aggregate and the two pair↔sizes
    * joins — the size rides the posting to the pair emitter. */
  private def gramPostingsWithSize(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val gs = gramSet(text)
        val sz = gs.length.toLong
        gs.iterator.map { g =>
          var h = 1125899906842597L
          var i = 0
          while (i < g.length) { h = h * 31 + g.charAt(i); i += 1 }
          (id, h, sz)
        }
      }
      .toDF("doc_id", "g", "sz")
  }

  /** the shared hot-key cap of the exact set-similarity families: drop
    * key values whose document frequency exceeds `maxDf` WHOLE (left-anti
    * against the over-cap key set — a partially kept viral key would
    * bias every overlap count it touches); `maxDf <= 0` disables. One
    * definition feeds gramPairCore, ngramJaccardPrefixLazy and
    * fingerprintMatches so cap semantics can never silently diverge
    * between the value-identity-contracted paths. */
  private def cappedPostings(postings: DataFrame, key: String, maxDf: Int): DataFrame =
    if (maxDf <= 0) postings
    else {
      val hot = postings.groupBy(col(key)).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select(col(key))
      postings.join(hot, Seq(key), "left_anti")
    }

  /** one (key → a<b pair) emission group: drop the key WHOLE past
    * `maxDf` distinct docs (identical semantics to the cappedPostings
    * anti-join), else sort the distinct docs and lazily emit every
    * ordered pair with both docs' carried sizes. Memory per group is
    * bounded: collection stops the moment a key exceeds maxDf. */
  private def emitCappedPairs(
      it: Iterator[(Long, Long, Long)], maxDf: Int): Iterator[(Long, Long, Long, Long)] = {
    // doc -> sz (input may carry duplicate (key, doc) rows — the
    // fingerprint path feeds raw occurrences; df is DISTINCT docs)
    val seen = new java.util.HashMap[Long, Long](16)
    var over = false
    while (!over && it.hasNext) {
      val (_, id, sz) = it.next()
      seen.put(id, sz)
      if (seen.size > maxDf) over = true
    }
    if (over) Iterator.empty
    else {
      val n = seen.size
      if (n < 2) Iterator.empty
      else {
        val ids = new Array[Long](n)
        val e = seen.keySet().iterator()
        var x = 0
        while (e.hasNext) { ids(x) = e.next(); x += 1 }
        java.util.Arrays.sort(ids)
        new Iterator[(Long, Long, Long, Long)] {
          private var i = 0
          private var j = 1
          def hasNext: Boolean = i < n - 1
          def next(): (Long, Long, Long, Long) = {
            val r = (ids(i), ids(j), seen.get(ids(i)), seen.get(ids(j)))
            j += 1
            if (j >= n) { i += 1; j = i + 1 }
            r
          }
        }
      }
    }
  }

  /** capped pair-count core shared by the inverted-index families
    * ([[gramPairCore]] maxDf>0, [[fingerprintMatches]] maxDf>0): ONE
    * shuffle of the postings keyed by `key`, in-group whole-key cap,
    * lazy a<b pair emission, partial-combined pair aggregate. Replaces
    * the former hot-key aggregate + left-anti + two full posting
    * re-shuffles + equi-join (guide §2.4: pair generation fundamentally
    * needs every doc of a key on one reducer, so the single groupByKey
    * shuffle loses nothing partial aggregation could have saved — and
    * the a<b half-filter moves before the shuffle of pair rows).
    * Input columns: (key long, doc_id long, sz long — any carried
    * per-doc payload); output (doc_a, doc_b, common, sz_a, sz_b). */
  private def cappedPairCounts(
      postings: DataFrame, key: String, maxDf: Int): DataFrame = {
    require(maxDf > 0, s"cappedPairCounts requires maxDf > 0, got $maxDf")
    val spark = postings.sparkSession
    import spark.implicits._
    postings.select(col(key), col("doc_id"), col("sz"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) => emitCappedPairs(it, maxDf) }
      .toDF("doc_a", "doc_b", "sz_a", "sz_b")
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .select(col("doc_a"), col("doc_b"), col("common"), col("sz_a"), col("sz_b"))
  }

  /** shared inverted-index core of the exact n-gram set-similarity
    * self-joins ([[ngramJaccardAllPairs]] / [[ngramContainment]]):
    * hashed distinct-gram postings carrying per-doc set sizes, and the
    * sized pair table (doc_a < doc_b, common, sz_a, sz_b). Returns
    * (sizedPairs, postings-to-unpersist-after-materialization).
    *
    * Postings are computed ONCE (typed flatMap); the uncapped self-join
    * reads them twice, so that mode persists them — without the persist
    * the whole shingling subtree runs twice (no exchange reuse across the
    * differently-projected join sides). Grams are carried as 64-bit
    * poly-31 hashes, not strings: 8-byte shuffle/join keys instead of
    * ~20-char strings. A within-doc or cross-doc hash collision would
    * perturb `common` by 1 — probability ~(grams^2)/2^64, negligible at
    * any realistic vocabulary; the LSH+verify path (ngramJaccardDups)
    * stays fully string-exact. */
  private def gramPairCore(documents: DataFrame, maxDf: Int): (DataFrame, DataFrame) = {
    if (maxDf > 0) {
      // capped mode: postings have exactly ONE consumer (the pair core),
      // so nothing is persisted — the shingling kernel runs once into
      // the single shuffle (the returned frame's unpersist is a no-op)
      val postings0 = gramPostingsWithSize(documents)
      (cappedPairCounts(postings0, "g", maxDf), postings0)
    } else {
      // uncapped exactness/audit mode (q155's ground-truth side): a
      // viral key's doc list must never be collected on one reducer, so
      // the streaming self-join stays, with persisted postings feeding
      // both sides. Set sizes ride the postings from the kernel (sz on
      // every row) into the pair aggregate's group key — sz is constant
      // per doc, so grouping by it changes nothing — which folds away
      // the former per-doc sizes aggregate and both pair⋈sizes joins.
      val postings0 = gramPostingsWithSize(documents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sized = postings0
        .select(col("doc_id").as("doc_a"), col("g"), col("sz").as("sz_a"))
        .join(postings0.select(col("doc_id").as("doc_b"), col("g"),
          col("sz").as("sz_b")), Seq("g"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
        .agg(count(lit(1)).as("common"))
        .select(col("doc_a"), col("doc_b"), col("common"), col("sz_a"), col("sz_b"))
      (sized, postings0)
    }
  }

  /** lazy plan behind `ngramJaccardAllPairs` (plan-gate tests inspect the
    * join shape here; the public method checkpoints the result to release
    * the postings cache). Returns (result, postings-to-unpersist). */
  private[graft] def ngramJaccardAllPairsLazy(
      documents: DataFrame,
      threshold: Double,
      maxDf: Int): (DataFrame, DataFrame) = {
    val (sized, postings0) = gramPairCore(documents, maxDf)
    val out = sized
      // threshold the RAW ratio (like the DuckDB oracle); rounding happens
      // only in the projected column — filtering on the rounded value kept/
      // dropped pairs within 5e-7 of the threshold differently than the
      // oracle did
      .withColumn("jaccard_raw",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 6).as("jaccard"))
    (out, postings0)
  }

  /** PREFIX-FILTERED exact all-pairs word-3-gram Jaccard — value-
    * identical to [[ngramJaccardAllPairs]] (same output, same oracle),
    * built the way an all-pairs similarity self-join must be built at
    * 100 TB: the candidate join indexes only each document's PREFIX
    * under a global rarest-first gram order (Chaudhuri et al.'s SSJoin
    * prefix filter, ICDE 2006; Xiao et al. PPJoin, WWW 2008). For
    * threshold t, a document with s distinct grams indexes only its
    * s − ⌈t·s⌉ + 1 rarest grams: two documents can reach Jaccard ≥ t
    * only if their prefixes share a gram (if both prefixes are avoided,
    * common ≤ min(⌈t·sa⌉, ⌈t·sb⌉) − 1 < t·(sa+sb)/(1+t), the required
    * overlap), so the filter is LOSSLESS — including under `maxDf`,
    * where prefixes are computed on the capped postings and the capped
    * overlap can only shrink further.
    *
    * Why this is the scale path: the full postings self-join
    * ([[ngramJaccardAllPairs]]) shuffles and pairs the ENTIRE gram
    * table; at t = 0.8 the prefix index is ~20% of it, and because the
    * global order is rarest-FIRST, high-frequency grams (boilerplate,
    * stopword runs — exactly the keys that go quadratic in a bucket
    * join) land in prefixes only for documents short on rare grams.
    * Candidates then verify with exact counts: one equi-join of the
    * candidate pair list against the FULL postings on each side
    * recomputes `common` precisely — all hash joins, never cartesian,
    * never broadcast-of-corpus.
    *
    * Output/parameters: exactly [[ngramJaccardAllPairs]]'s —
    * (doc_a < doc_b, jaccard = round(raw, 6)) at raw-ratio ≥ threshold.
    *
    * Scale shape: postings built once (typed flatMap, 8-byte gram
    * hashes) and persisted; the CAPPED postings (when maxDf > 0) and the
    * prefix table are persisted too — each feeds more than one consumer
    * (df counts + prefix cut + both verify sides; both candidate sides)
    * and would otherwise re-execute its whole upstream subtree per
    * consumer. ONE doc-keyed window shuffle ranks each document's grams
    * by (df asc, g asc) to cut prefixes; the candidate self-join runs
    * over the prefix table only; the verify join is candidate-bounded.
    * All three caches are released after materialization
    * (Checkpoints.eager). */
  def ngramJaccardPrefix(
      documents: DataFrame,
      threshold: Double = 0.8,
      maxDf: Int = 0): DataFrame = {
    val (out, caches) = ngramJaccardPrefixLazy(documents, threshold, maxDf)
    Checkpoints.eager(out) { caches.foreach(_.unpersist()) }
  }

  /** lazy plan behind [[ngramJaccardPrefix]]; returns (result,
    * caches-to-unpersist). */
  private[graft] def ngramJaccardPrefixLazy(
      documents: DataFrame,
      threshold: Double,
      maxDf: Int): (DataFrame, Seq[DataFrame]) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    // postings carry the UNCAPPED per-doc set size on every row (the
    // ngramJaccardAllPairs contract: a maxDf-dropped gram still counts
    // toward set size) — the former separate sizes aggregate + two
    // pair-sizes joins fold into the verify kernel below
    val postings0 = gramPostingsWithSize(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // NOTE: persist (not the adaptive cut) is deliberate for this path's
    // multi-consumer intermediates: an r06 A/B showed the cut's
    // AQE-coalesced blocks (1-2 partitions at the bench advisory)
    // SERIALIZE the CPU-heavy candidate self-join — the persisted
    // 32-partition layout is what keeps it parallel
    val postings =
      if (maxDf <= 0) postings0
      else cappedPostings(postings0, "g", maxDf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfCounts = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("g").asc)
    val perDoc = Window.partitionBy(col("doc_id"))
    // persisted: both sides of the candidate self-join read it, and its
    // subtree holds the join + two windows over the full postings
    val prefix = postings.join(dfCounts, Seq("g"))
      .withColumn("rk", row_number().over(byRarity))
      .withColumn("szc", count(lit(1)).over(perDoc))
      .filter(col("rk") <=
        col("szc") - ceil(col("szc") * lit(threshold)) + lit(1L))
      .select(col("doc_id"), col("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.select(col("doc_id").as("doc_a"), col("g"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verify by sorted-array merge-intersection: each doc's CAPPED gram
    // set folds to one sorted array row (bounded by document length —
    // never key-df-sized), the candidate list hash-joins that doc-table
    // on each side, and `common` is a typed two-pointer intersection —
    // the former cand⋈postings⋈postings re-count streamed |cand|·|doc|
    // joined rows through two shuffles (measured 6M rows and over half
    // the surface's wall time at sf0.1) where this streams |cand| rows
    // through none
    val docGrams = postings.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g"))).as("grams"), min(col("sz")).as("sz"))
    val out = cand
      .join(docGrams.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(docGrams.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
        col("sz").as("sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        col("ga"), col("gb"))
      .as[(Long, Long, Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sza, szb, ga, gb) =>
        var i = 0
        var j = 0
        var c = 0L
        val na = ga.length
        val nb = gb.length
        while (i < na && j < nb) {
          val x = ga(i)
          val y = gb(j)
          if (x == y) { c += 1L; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
        (a, b, c, sza, szb)
      }
      .toDF("doc_a", "doc_b", "common", "sz_a", "sz_b")
      .withColumn("jaccard_raw",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 6).as("jaccard"))
    val caches =
      if (postings eq postings0) Seq(postings0, prefix)
      else Seq(postings0, postings, prefix)
    (out, caches)
  }

  /** EXACT all-pairs word-3-gram CONTAINMENT — the asymmetric
    * complement of [[ngramJaccardAllPairs]]: C(A in B) = |S(A) ∩ S(B)| /
    * |S(A)|. Jaccard misses the syndication/wrapper shape entirely — a
    * short article republished inside a long portal page shares all of
    * ITS grams but few of the page's, so jaccard ≈ |A|/|B| ≈ 0 while
    * containment = 1. This is the signal for quote farms, scraped-and-
    * wrapped reposts, and template pages embedding whole feeds (the
    * Broder "roughly contained" relation from the original shingling
    * paper, SEQUENCES 1997).
    *
    * Output: one row per DIRECTED containment at or above `threshold` —
    * (contained_id, container_id, n_common, sz_contained, containment =
    * round(raw, 6); threshold tests the RAW ratio like the oracle). A
    * near-identical pair emits both directions; `container` means "the
    * other doc of the pair", not a size claim (with equal sets both
    * directions are 1.0).
    *
    * Scale shape: identical to the jaccard all-pairs — same hashed
    * postings self-join (never cartesian), same maxDf hot-gram cap (a
    * dropped gram lowers computed containment by at most 1/|S(A)| —
    * bounded recall loss at the boundary only), one extra
    * pair-cardinality union for the second direction. */
  def ngramContainment(
      documents: DataFrame,
      threshold: Double = 0.8,
      maxDf: Int = 0): DataFrame = {
    val (out, postings) = ngramContainmentLazy(documents, threshold, maxDf)
    Checkpoints.eager(out) { postings.unpersist() }
  }

  /** lazy plan behind `ngramContainment` (the OpsSpec containment test
    * plan-gates the join shape here); returns (result,
    * postings-to-unpersist). */
  private[graft] def ngramContainmentLazy(
      documents: DataFrame,
      threshold: Double,
      maxDf: Int): (DataFrame, DataFrame) = {
    val (sized, postings0) = gramPairCore(documents, maxDf)
    // both directions from ONE pass over the pair table (a union of two
    // projections would execute the postings self-join subtree twice)
    val out = sized.select(explode(array(
        struct(col("doc_a").as("contained_id"), col("doc_b").as("container_id"),
          col("common"), col("sz_a").as("sz_contained")),
        struct(col("doc_b").as("contained_id"), col("doc_a").as("container_id"),
          col("common"), col("sz_b").as("sz_contained")))).as("r"))
      .select(col("r.*"))
      .withColumn("containment_raw",
        col("common").cast("double") / col("sz_contained"))
      .filter(col("containment_raw") >= threshold)
      .select(col("contained_id"), col("container_id"),
        col("common").as("n_common"), col("sz_contained"),
        round(col("containment_raw"), 6).as("containment"))
    (out, postings0)
  }

  /** exact word-3-gram Jaccard, computed ONLY for LSH candidate pairs.
    *
    * Scale shape: the grams table (largest column in the job — one array of
    * 3-grams per doc) is built only for docs appearing in some candidate
    * pair: documents are broadcast-semi-joined down to candidate ids BEFORE
    * shingling, so full-corpus gram arrays are never materialized or
    * shuffled. Candidate pairs are an LSH-confirmed small fraction of the
    * corpus, so the id list broadcasts. */
  def ngramJaccardDups(documents: DataFrame, threshold: Double = 0.8, seed: Long = 42L): DataFrame = {
    val (out, candidates) = ngramJaccardDupsLazy(documents, threshold, seed)
    Checkpoints.eager(out) { candidates.unpersist() }
  }

  /** the lazy plan behind `ngramJaccardDups`, exposed for plan-gate tests
    * (the public method eagerly checkpoints the small result to release the
    * persisted candidate set, which hides the join shape from explain()).
    * Returns (result, candidates-to-unpersist-after-materialization). */
  private[graft] def ngramJaccardDupsLazy(
      documents: DataFrame, threshold: Double, seed: Long): (DataFrame, DataFrame) = {
    // the candidate set is referenced twice (id derivation + final join) and
    // is tiny relative to the corpus: persist it so the LSH pipeline runs
    // once (exchange reuse does not cover typed subtrees; see minhashLsh)
    val candidates = minhashLsh(documents, seed)
      .filter(col("est_jaccard") >= threshold * 0.7)
      .select(col("doc_a"), col("doc_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val grams = documents.select(col("doc_id").cast("long"), col("text"))
      .join(broadcast(candIds), Seq("doc_id"), "left_semi")
      // materialize the token array once per row: referencing split(...)
      // inside the transform lambda would recompute it per shingle (O(n^2))
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), expr(
        "transform(sequence(0, greatest(size(toks) - 3, 0)), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 3)))").as("grams"))
    val a = grams.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val b = grams.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    val out = candidates.join(a, "doc_a").join(b, "doc_b")
      .withColumn("jaccard",
        when(size(array_union(col("grams_a"), col("grams_b"))) === 0, lit(0.0))
          .otherwise(size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
            size(array_union(col("grams_a"), col("grams_b")))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    (out, candidates)
  }

  // ---- duplicate-cluster assignment (connected components) --------------------
  /** connected components over a near-dup pair table: every doc appearing in
    * some (doc_a, doc_b) edge gets cluster_id = min doc_id reachable from it
    * — the canonical "keep one representative per duplicate cluster" step
    * after any near-dup pass.
    *
    * Small-graph fast path: edge tables here are near-dup PAIRS — after
    * LSH+verify they are a small fraction of the corpus, and at bench /
    * moderate scale the whole graph fits on the driver. Under
    * `localEdgeCap` edges (default [[Checkpoints.localEdgeCap]]; a pair
    * row is two longs, lighter than the host edge rows that cap was
    * measured on) the components are solved with one collect +
    * union-find ([[minRootComponents]]: the root of every tree IS the
    * component's min id). Above the cap, or with `localEdgeCap <= 0`,
    * [[connectedComponentsStar]] runs: large-star/small-star rounds whose
    * O(log² n) round bound holds on any graph, shuffled-id chains
    * included, and which throw rather than return when they miss their
    * fixpoint. */
  def connectedComponents(
      pairs: DataFrame,
      localEdgeCap: Long = Checkpoints.localEdgeCap): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    if (localEdgeCap <= 0) connectedComponentsStar(pairs)
    else {
      // cap gate = a count fused into a transient materialization, NOT a
      // limit(cap+1) collect: an over-cap edge table costs one
      // materialization (the star rounds re-read it for their canonical
      // edge table) instead of a cap-sized driver pull discarded on the
      // spot, and a count cannot silently truncate when the cap exceeds
      // the Int.MaxValue collect limit. Materialized via the ADAPTIVE cut
      // rather than persist: a persisted plan pins the static shuffle
      // partitioning (32 near-empty partitions for a hundreds-of-rows
      // pair table — three full-width task waves of pure overhead
      // measured at sf0.1), while the cut's AQE-coalesced blocks size the
      // downstream collect/round reads to the data.
      val edges = pairs.select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      val (cached, _, local) = Checkpoints.gate(edges, localEdgeCap)
      try local match {
        case Some(rows) =>
          spark.createDataset(minRootComponents(rows.iterator.map(r => (r.getLong(0), r.getLong(1)))))
            .toDF("doc_id", "cluster_id")
        case None => connectedComponentsStar(cached.toDF("doc_a", "doc_b"))
      } finally cached.unpersist()
    }
  }

  /** driver-side union-find over (a, b) edges with the `ord`-smallest
    * key as each tree's root (path halving on find): returns (key, its
    * component's minimum) for every key. The local path of
    * [[connectedComponents]] (long ids) and of
    * [[LinkOps.hostComponents]] (host strings). */
  private[ops] def minRootComponents[K](edges: Iterator[(K, K)])(
      implicit ord: Ordering[K]): Seq[(K, K)] = {
    val parent = scala.collection.mutable.HashMap.empty[K, K]
    def find(x0: K): K = {
      var x = x0
      var p = parent(x)
      while (p != x) { val gp = parent(p); parent(x) = gp; x = gp; p = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      val c = ord.compare(ra, rb)
      if (c < 0) parent(rb) = ra else if (c > 0) parent(ra) = rb
    }
    parent.keys.toVector.map(k => (k, find(k)))
  }

  /** connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris/Lattanzi/Mirrokni/Rastogi/Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the published
    * web-scale CC algorithm and this library's one distributed CC
    * engine: q132 calls it directly, and [[connectedComponents]] and
    * [[LinkOps.hostComponents]] run it above their edge cap. The state is
    * the EDGE table itself, rewired toward smaller ids until the graph is
    * a forest of min-rooted stars, so (a) no per-NODE label table is
    * self-joined every round, (b) a high-degree hub is broken up by one
    * large-star round instead of funneling its neighborhood through one
    * reduce key — the properties that matter when the near-dup graph has
    * viral components (boilerplate storms) — and (c) the O(log² n)
    * round bound holds whatever the id layout, where min-label
    * propagation needs O(n) rounds on a path whose ids are shuffled.
    * Output: one row per node of the pair graph,
    * cluster_id = min reachable id — the same frame as
    * [[connectedComponents]]' union-find (OpsSpec pins frame-equality on
    * adversarial shapes and on shuffled-id paths).
    *
    * Round shape (every key a node id, every table edge-sized, shrinking):
    * large-star = one partial-combined min per node over the
    * bidirectional edges + one equi-join, emitting (v, min(N(u) ∪ u)) for
    * each neighbor v > u; small-star = the same min+join pair over the
    * larger-endpoint orientation plus the (u, min) parent edge; one dedup
    * + lineage cut per phase (Checkpoints.cut — reliable checkpoint when
    * a dir is configured).
    *
    * Termination: convergence is DETECTED by an edge-table checksum
    * (count, sum(src), sum(dst), sum(xxhash64)) fused into the cut's
    * materialization job via Observation, then VERIFIED structurally
    * before returning — at the star fixpoint every src has exactly one
    * out-edge and no dst ever appears as a src. A checksum collision on a
    * non-fixpoint (astronomically unlikely) fails the verify and the
    * rounds continue: a collision can cost one wasted round, never a
    * wrong answer. Exhausting maxIter without a verified fixpoint throws
    * — reading star output off a non-fixpoint edge table would be
    * silently wrong, and SoCC'14 bounds the rounds at O(log² n), so the
    * default covers any real graph. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // ONE read of the (possibly expensive) pair input: the canonical cut
    // keeps self-loops so the node universe — which [[connectedComponents]]
    // includes even for self-loop-only nodes — derives from the same
    // materialization; the rounds run on the loop-free view
    val canon = Checkpoints.cut(
      pairs.select(
        greatest(col("doc_a").cast("long"), col("doc_b").cast("long")).as("src"),
        least(col("doc_a").cast("long"), col("doc_b").cast("long")).as("dst"))
        .distinct())
    val allNodes = canon.select(col("src").as("id"))
      .union(canon.select(col("dst").as("id"))).distinct()
    var edges = canon.filter(col("src") =!= col("dst"))
    // star-fixpoint structural verify: one parent per src AND no parent
    // (dst) ever appears as a child (src) — two bounded jobs, run only on
    // checksum-stable rounds (normally exactly once)
    def isStarForest(e: DataFrame): Boolean = {
      val a = e.agg(count(lit(1)).as("n"),
        count_distinct(col("src")).as("nsrc")).collect()(0)
      a.getLong(0) == a.getLong(1) &&
        e.select(col("dst"))
          .join(e.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .isEmpty
    }
    // ONE metric-column list for the convergence checksum: the observe
    // call and the timeout-fallback aggregate must compute the SAME
    // checksum or the degraded metric-delivery path silently diverges
    def checksumCols: Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("n"),
      // cast BEFORE summing: xxhash64 values span the full long range,
      // so a long-typed partial sum overflows under ANSI
      sum(col("src").cast("decimal(38,0)")).as("ssrc"),
      sum(col("dst").cast("decimal(38,0)")).as("sdst"),
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")).as("h"))
    var prev: Option[(Long, BigDecimal, BigDecimal, BigDecimal)] = None
    var done = edges.isEmpty
    var iter = 0
    // per-round intermediates are released once superseded: `ls` is dead
    // as soon as the round's `ss` is pinned, and round r's `ss` is dead
    // once round r+1's is (the last `ss` backs the returned plan and the
    // cut `canon` backs allNodes — both stay). Without this a long run
    // accumulates two edge-table-sized block sets per round.
    var prevSs: DataFrame = null
    while (!done && iter < maxIter) {
      // ---- large-star: every neighbor v > u rewires to min(N(u) ∪ u) ----
      val bidir = edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
      val lsMin = bidir.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      // v > u >= m, so the emitted (v, m) is already canonically oriented
      // and never a self-loop
      val ls = Checkpoints.cut(
        bidir.filter(col("b") > col("a")).join(lsMin, Seq("a"))
          .select(col("b").as("src"), col("m").as("dst"))
          .distinct())
      // ---- small-star: children <= u (and u itself) rewire to the min ----
      val ssMin = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val obs = org.apache.spark.sql.Observation(s"ccstar_$iter")
      val cs = checksumCols
      val ss =
        try Checkpoints.cut(
          ls.join(ssMin, Seq("src"))
            .select(col("dst").as("s2"), col("m"))
            .union(ssMin.select(col("src").as("s2"), col("m")))
            .filter(col("s2") =!= col("m")) // the min child's own row
            .distinct()
            .select(col("s2").as("src"), col("m").as("dst"))
            .observe(obs, cs.head, cs.tail: _*))
        finally ls.unpersist() // also on failure: no leaked round cache
      if (prevSs != null) prevSs.unpersist()
      prevSs = ss
      // the fallback aggregate reuses the SAME metric columns, so the
      // degraded path cannot compute a different checksum than the
      // primary one
      val row: org.apache.spark.sql.Row =
        Checkpoints.observed(obs) { ss.agg(cs.head, cs.tail: _*).collect()(0) }
      // empty edge table: the sums are NULL — fold to 0, the count
      // disambiguates
      def dec(k: String): BigDecimal = {
        val d = row.getAs[java.math.BigDecimal](k)
        if (d == null) BigDecimal(0) else BigDecimal(d)
      }
      val cur = (row.getAs[Long]("n"), dec("ssrc"), dec("sdst"), dec("h"))
      edges = ss
      if (cur._1 == 0L || (prev.contains(cur) && isStarForest(edges)))
        done = true
      prev = Some(cur)
      iter += 1
    }
    if (!done && !isStarForest(edges))
      throw new IllegalStateException(
        s"connectedComponentsStar did not reach the star fixpoint in $maxIter rounds")
    // at the fixpoint every non-root points at its component min; roots
    // and self-loop-only nodes never appear as src — both label themselves
    val selfLabeled = allNodes
      .join(edges.select(col("src").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("id").as("cluster_id"))
    edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
      .union(selfLabeled)
  }

  // ---- embedding near-dup -------------------------------------------------------
  /** cosine >= threshold pairs. Dispatch: thresholds >= `lshCutoff` use the
    * LSH candidate+verify path (near-dup regime — tiny candidate sets, high
    * recall with multi-table probing); lower thresholds need an exact join,
    * served by the symmetric block-pair plan (no cartesian node). */
  def embeddingNearDups(
      embeddings: DataFrame,
      threshold: Double = 0.95,
      lshCutoff: Double = 0.7): DataFrame =
    if (threshold >= lshCutoff) embeddingNearDupsLsh(embeddings, threshold)
    else embeddingNearDupsExact(embeddings, threshold)

  /** EXACT cosine-threshold self-join via symmetric block partitioning:
    * each vector gets block b = hash(vec_id) mod B; side A replicates a
    * vector to pair keys (b, j) for j >= b, side B to (i, b) for i <= b, and
    * an equi-join on the pair key covers every unordered pair exactly once
    * (same-block pairs deduped by id order, cross-block pairs normalized by
    * least/greatest). Work is inherently O(n^2) for an exact low-threshold
    * join, but it is spread evenly over B(B+1)/2 reduce keys with ~2n/B
    * vectors per task — the scale-out shape — and the plan is a shuffled
    * hash/sort-merge join, never CartesianProduct/BroadcastNestedLoopJoin. */
  def embeddingNearDupsExact(
      embeddings: DataFrame,
      threshold: Double,
      nBlocks: Int = 16): DataFrame = {
    val bLit = lit(nBlocks)
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("self_dot", SimSearch.dotCol(col("embedding"), col("embedding")))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), bLit).cast("int"))
    val a = e.select(col("vec_id").as("vid_a"), col("embedding").as("emb_a"),
        col("self_dot").as("dot_a"), col("blk").as("blk_a"))
      .withColumn("pk", explode(expr(
        s"transform(sequence(blk_a, ${nBlocks - 1}), j -> blk_a * $nBlocks + j)")))
      .drop("blk_a")
    val b = e.select(col("vec_id").as("vid_b"), col("embedding").as("emb_b"),
        col("self_dot").as("dot_b"), col("blk").as("blk_b"))
      .withColumn("pk", explode(expr(
        s"transform(sequence(0, blk_b), i -> i * $nBlocks + blk_b)")))
      .drop("blk_b")
    a.join(b, Seq("pk"))
      // same-block keys (pk = i*B+i): keep one id order; cross-block keys:
      // the pair occurs exactly once, in arbitrary id order — keep it
      .filter((col("pk") % (bLit + 1) =!= 0) || (col("vid_a") < col("vid_b")))
      .filter(col("vid_a") =!= col("vid_b"))
      .withColumn("cosine",
        SimSearch.cosineWithNorms(col("emb_a"), col("emb_b"), col("dot_a"), col("dot_b")))
      .filter(col("cosine") >= threshold)
      .select(least(col("vid_a"), col("vid_b")).as("id_a"),
        greatest(col("vid_a"), col("vid_b")).as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** LSH candidate+verify near-dup pairs (the 100 TB path for the actual
    * near-duplicate regime, cosine >= ~0.7): bucket both sides with
    * SimSearch.lshBuckets (multi-table random hyperplanes), generate
    * same-(table,bucket) candidate pairs, verify exact cosine within
    * candidates only. Probabilistic recall, boosted by `nTables`
    * multi-table probing; verified >= threshold pairs are exact.
    *
    * Scale shape (same pattern as minhashLsh): ONE pass computes bucket
    * signatures; ONE shuffle groups rows by (table, bucket); pairs are
    * generated executor-locally per bucket with flatMapGroups (bounded
    * buffering). Buckets larger than `maxBucketSize` — degenerate
    * (zero/constant) vectors or mass-duplicate embeddings hashing to one
    * signature — are dropped whole, so no reduce key goes quadratic. A
    * (table,bucket) self-join would both blow up on hot buckets AND compute
    * the signature flatMap twice (no exchange reuse under typed subtrees). */
  def embeddingNearDupsLsh(
      embeddings: DataFrame,
      threshold: Double,
      nBits: Int = 8,
      nTables: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Int = MAX_BUCKET_SIZE_DEFAULT,
      centerBuckets: Boolean = false): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // centerBuckets: hyperplanes through the data mean instead of the
    // origin — REQUIRED for raw count/hash embeddings, whose shared sign
    // mass otherwise concentrates the corpus into a few buckets (see
    // SimSearch.lshBuckets center doc; bucketing only, verification
    // scores the original vectors). One dim-bounded aggregate pass.
    val center =
      if (centerBuckets) Some(SimSearch.embeddingMean(embeddings, dim)) else None
    val candidates = SimSearch.lshBuckets(embeddings, nBits, nTables, dim, seed, center)
      .as[(Long, Int, Long)] // (vec_id, table, bucket); one row per vec per table
      .groupByKey { case (_, t, b) => (t, b) }
      .flatMapGroups { (_, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        var over = false
        while (it.hasNext) {
          val r = it.next()
          if (!over) {
            buf += r._1
            if (buf.length > maxBucketSize) { over = true; buf.clear() }
          }
        }
        if (over) Iterator.empty
        else {
          val arr = buf.sorted.toArray
          (0 until arr.length).iterator.flatMap { i =>
            (i + 1 until arr.length).iterator.map(j => (arr(i), arr(j)))
          }
        }
      }
      .toDF("id_a", "id_b")
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_n")).drop("_n")
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("self_dot", SimSearch.dotCol(col("embedding"), col("embedding")))
    val ea = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      col("self_dot").as("dot_a"))
    val eb = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      col("self_dot").as("dot_b"))
    candidates.join(ea, "id_a").join(eb, "id_b")
      .withColumn("cosine",
        SimSearch.cosineWithNorms(col("emb_a"), col("emb_b"), col("dot_a"), col("dot_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  // ---- benchmark decontamination -----------------------------------------------

  /** flag training documents that share at least one word-`gramLen`-gram
    * with a benchmark/eval set — the standard pre-training decontamination
    * pass (eval questions leaking into the corpus inflate downstream
    * scores). Returns (doc_id, n_bad_grams): the number of the doc's
    * DISTINCT grams that appear anywhere in the benchmark.
    *
    * Tokenization: lower + trim + split on whitespace; only FULL windows
    * (docs shorter than gramLen tokens cannot be flagged).
    *
    * Scale shape: the benchmark is eval-set-sized (10^3..10^6 grams), the
    * corpus is 10^12 docs — so benchmark gram hashes are collected into a
    * BROADCAST semi-join side and the corpus side never shuffles: explode
    * to (doc_id, gram_hash), hash-semi-join against the broadcast set,
    * then a partial-aggregated count per doc_id. Grams travel as 8-byte
    * xxhash64 values, never as strings. */
  def benchmarkContamination(
      documents: DataFrame,
      benchmark: DataFrame,
      gramLen: Int = 8): DataFrame = {
    // typed span-gram kernel (the decontaminateSpans discipline; same
    // tokenization twin and the same XXH64 WindowHasher — bit-identical
    // to the former xxhash64 expression, collision contract unchanged).
    // NULL text emitted no token array before (size(NULL) fails the
    // length gate) and emits nothing here.
    val spark0 = documents.sparkSession
    import spark0.implicits._
    def gramHashes(df: DataFrame): DataFrame =
      df.select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"))
        .as[(java.lang.Long, String)]
        .flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = spanToks(text)
            val n = toks.length
            if (n < gramLen) Iterator.empty
            else {
              val wh = new WindowHasher(toks, gramLen)
              val seen = new java.util.HashSet[java.lang.Long]()
              Iterator.tabulate(n - gramLen + 1)(i => wh.hash(i))
                .filter(h => seen.add(h))
                .map(h => (id, h))
            }
          }
        }
        .toDF("doc_id", "gram_hash")
    val benchGrams = gramHashes(benchmark).select(col("gram_hash")).distinct()
    gramHashes(documents)
      .join(broadcast(benchGrams), Seq("gram_hash"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bad_grams"))
  }

  /** FUZZY benchmark decontamination — the third member of the family:
    * `benchmarkContamination` flags docs containing an exact eval n-gram,
    * `decontaminateSpans` cuts those spans, and THIS op flags docs that
    * are near-duplicates of a WHOLE eval document — the reformatted/
    * lightly-edited eval copy whose every n-gram drifted (punctuation,
    * casing artifacts, shuffled boilerplate) but whose shingle set still
    * overlaps heavily. Similarity = matching-minhash fraction (the same
    * 64-hash/3-shingle signature family as `minhashLsh`, so the estimate
    * is k/64 — an exact binary fraction, recompute-stable); a doc is
    * `contaminated` when its best eval match >= threshold. Empty/NULL
    * texts on either side never match (the empty signature is excluded
    * rather than trivially matching every other empty).
    *
    * Scale shape: the EVAL side is bounded by construction (a benchmark,
    * not a corpus) — its signatures + a band-key index are computed
    * driver-side from one bounded collect and BROADCAST (64·8 bytes per
    * eval doc); the corpus side is ONE mapPartitions pass that computes
    * each doc's signature in-scan, probes the 16 band keys against the
    * broadcast index, and verifies candidates against the (few) eval
    * signatures sharing a band — no shuffle, no join, docs never move.
    * Returns every input doc: (doc_id, eval_sim, contaminated). */
  def decontaminateFuzzy(
      documents: DataFrame,
      evalDocs: DataFrame,
      threshold: Double = 0.8,
      seed: Long = 42L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0, 1], got $threshold")
    val spark = documents.sparkSession
    import spark.implicits._
    val (as, bs) = hashParams(seed)
    def isEmptySig(sig: Array[Long]): Boolean = sig(0) == Long.MaxValue
    val evalSigs: Array[Array[Long]] = evalDocs
      .select(coalesce(col("text"), lit("")).as("text")).as[String]
      .collect().map(t => minhashSignature(t, as, bs)).filterNot(isEmptySig)
    // no dedup needed building the index: the band index sits in the
    // key's high 32 bits, so one (evalDoc, band) pair yields one entry
    val evalByBand: Map[Long, Array[Int]] =
      (for { ei <- evalSigs.indices; b <- 0 until N_BANDS }
        yield (bandKey(evalSigs(ei), b), ei))
        .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toArray }
    val bSigs = spark.sparkContext.broadcast(evalSigs)
    val bIdx = spark.sparkContext.broadcast(evalByBand)
    documents.select(col("doc_id").cast("long"), coalesce(col("text"), lit("")).as("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val sigsE = bSigs.value
        val byBand = bIdx.value
        // per-partition generation-stamped candidate dedup: zero per-row
        // allocation in the hot loop (a per-row HashSet would box every
        // candidate index)
        val stamp = new Array[Int](sigsE.length)
        var gen = 0
        rows.map { case (id, t) =>
          val sig = minhashSignature(t, as, bs)
          var best = 0.0
          if (!isEmptySig(sig) && sigsE.nonEmpty) {
            gen += 1
            var b = 0
            while (b < N_BANDS) {
              val cands = byBand.getOrElse(bandKey(sig, b), null)
              if (cands != null) {
                var c = 0
                while (c < cands.length) {
                  val ei = cands(c)
                  if (stamp(ei) != gen) {
                    stamp(ei) = gen
                    val e = sigsE(ei)
                    var m = 0
                    var h = 0
                    while (h < N_HASHES) { if (sig(h) == e(h)) m += 1; h += 1 }
                    val est = m.toDouble / N_HASHES
                    if (est > best) best = est
                  }
                  c += 1
                }
              }
              b += 1
            }
          }
          (id, best, best >= threshold)
        }
      }.toDF("doc_id", "eval_sim", "contaminated")
  }

  /** SEMANTIC decontamination — the embedding-space member of the family
    * (q40 flags exact eval grams, q46 cuts the spans, q81 flags shingle
    * near-dups; THIS one catches the PARAPHRASED eval copy that shares no
    * lexical surface at all): a corpus vector is `contaminated` when its
    * best cosine against any eval vector >= threshold. `eval_sim` is the
    * best cosine itself (1e-6-rounded on emit; the flag compares the
    * unrounded value, like the SQL mirror). Zero-norm and NULL vectors
    * never match; a zero-norm/absent EVAL vector is excluded from the
    * index rather than poisoning every comparison.
    *
    * Scale shape: the eval matrix is bounded by construction (a
    * benchmark, not a corpus) — collected once with its squared norms and
    * BROADCAST; the corpus side is ONE mapPartitions pass taking the
    * arg-max cosine in index-ordered double arithmetic (bit-identical to
    * the DuckDB list_inner_product mirror, q09's parity recipe) — no
    * shuffle, no join, vectors never move. Per-doc cost is O(|eval|·dim):
    * exact and right up to ~10^5 eval vectors; past that, prefilter
    * candidates with the ANN stack (SimSearch.lshBuckets band-join or an
    * IVF probe against an eval-side index — q81's candidate-then-verify
    * shape) and reserve this exact pass for the survivors. */
  def decontaminateSemantic(
      embeddings: DataFrame,
      evalEmbeddings: DataFrame,
      threshold: Double = 0.95,
      maxEvalVectors: Long = 2000000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0, 1], got $threshold")
    val spark = embeddings.sparkSession
    import spark.implicits._
    // NOT cosineF (semDeDup's kernel): that one divides by the PRODUCT OF
    // SQRTS (s / (na*nb)) to mirror its own recompute, while this op must
    // divide by the SQRT OF THE PRODUCT (s / sqrt(n2*m2)) to stay
    // bit-identical to the q09/q82 DuckDB formulation — the two differ in
    // the last ulp and each is pinned by its own oracle
    def dot(a: Array[Float], b: Array[Float]): Double = {
      require(a.length == b.length,
        s"embedding dim mismatch: ${a.length} vs ${b.length} — a truncated dot" +
          " would silently deflate cosines (the SQL mirror errors loudly here)")
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    // count-gated bounded collect (the fast-path cap convention): the two
    // arguments have identical types, so an accidental corpus/eval swap
    // must fail loudly, not OOM the driver
    val evalCached = evalEmbeddings.select(col("embedding")).as[Array[Float]]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalVecs: Array[(Array[Float], Double)] =
      try {
        val n = evalCached.count()
        require(n <= maxEvalVectors,
          s"evalEmbeddings has $n rows (cap $maxEvalVectors): eval sets are " +
            "benchmark-sized by contract — did the corpus/eval arguments get swapped?")
        evalCached.collect().filter(_ != null)
          .map(a => (a, dot(a, a)))
          .filter(_._2 > 0)
      } finally evalCached.unpersist()
    val bEval = spark.sparkContext.broadcast(evalVecs)
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val ev = bEval.value
        rows.map { case (id, v) =>
          val a = if (v == null) Array.empty[Float] else v
          val na = dot(a, a)
          val best =
            if (ev.isEmpty || na <= 0) 0.0
            else {
              // true max, negatives included (the SQL mirror's max() does
              // not clamp); per-pair sqrt keeps the op order identical
              var b = Double.NegativeInfinity
              var k = 0
              while (k < ev.length) {
                val (w, m2) = ev(k)
                val c = dot(a, w) / math.sqrt(na * m2)
                if (c > b) b = c
                k += 1
              }
              b
            }
          (id, best)
        }
      }.toDF("vec_id", "best")
      .select(col("vec_id"), round(col("best"), 6).as("eval_sim"),
        (col("best") >= threshold).as("contaminated"))
  }

  /** SPAN-LEVEL decontamination: instead of flagging/dropping a whole
    * document (`benchmarkContamination`), cut exactly the tokens covered
    * by any benchmark-matching `gramLen`-gram window and keep the rest —
    * the variant used when contaminated docs are too valuable to discard
    * wholesale. Tokenization identical to the flag variant (lower + trim +
    * whitespace split, full windows only).
    *
    * Returns every input doc (NULL text treated as empty):
    * (doc_id, clean_text, n_tokens_removed); uncontaminated docs pass
    * through with their (lowercased, trimmed, space-normalized) token
    * stream intact and n_tokens_removed = 0.
    *
    * Scale shape: bench gram hashes BROADCAST (eval-set-sized); the corpus
    * explodes positioned grams NARROWLY for a broadcast semi-join finding
    * bad window starts; the per-doc start arrays join back at DOC level
    * and the cut happens inside the row with higher-order functions
    * (exists/filter are interpreted, not codegen'd — the per-token work is
    * array-local and tiny next to a corpus shuffle, which an earlier
    * token-exploded formulation paid twice).
    *
    * The starts-side join is SIZE-GATED (the round-3 scale finding): the
    * flagged-doc frame is contamination-sized, which scales with the
    * CORPUS, not the eval set — a force-broadcast blows the driver/
    * broadcast limit on any heavily contaminated corpus (the shipped q46
    * surface alone contaminates every 11th doc). In the default AUTO
    * regime the operator counts flagged docs EAGERLY at call time (one
    * extra narrow pass: scan -> broadcast semi-join -> partial-agg count;
    * no corpus shuffle — and the subtree re-executes inside the returned
    * plan, so auto pays the flag scan twice) and hints broadcast only
    * under `maxBroadcastDocs`. Callers who know their contamination
    * profile skip the count entirely: `maxBroadcastDocs = Long.MaxValue`
    * forces the broadcast shape (the round-3 behavior — one pass, lazy),
    * `maxBroadcastDocs <= 0` forces the shuffled left-outer. Nothing is
    * persisted in any regime (no cache to leak across calls). */
  def decontaminateSpans(
      documents: DataFrame,
      benchmark: DataFrame,
      gramLen: Int = 8,
      maxBroadcastDocs: Long = 4000000L): DataFrame = {
    val spark0 = documents.sparkSession
    import spark0.implicits._
    // typed span-gram kernel (the q109 discipline): tokenization mirrors
    // the former Catalyst split(lower(trim(coalesce(text,''))), '\s+')
    // exactly (space-only trim, limit -1 split keeping edge empties),
    // and the per-window hash is XXH64(seed 42) over the gram's UTF-8
    // bytes — BIT-IDENTICAL to the xxhash64(concat_ws(' ', slice(...)))
    // expression this kernel replaced (WindowHasher; parity-pinned), so
    // the collision contract is unchanged. The former
    // transform(sequence(...))+xxhash64 expression pair was interpreted
    // per window (higher-order expressions run outside codegen); this is
    // one JIT'd pass.
    def gramStarts(df: DataFrame): DataFrame =
      df.select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("string").as("text"))
        .as[(java.lang.Long, String)]
        .flatMap { case (id, text) =>
          val toks = spanToks(text)
          val n = toks.length
          if (n < gramLen) Iterator.empty
          else {
            val wh = new WindowHasher(toks, gramLen)
            Iterator.tabulate(n - gramLen + 1)(i => (id, i, wh.hash(i)))
          }
        }
        .toDF("doc_id", "pos", "gram_hash")
    val benchGrams = gramStarts(benchmark).select(col("gram_hash")).distinct()
    val flaggedStarts = gramStarts(documents)
      .join(broadcast(benchGrams), Seq("gram_hash"), "left_semi")
    val startsPerDoc0 = flaggedStarts
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("starts"))
    // the size gate counts FLAGGED docs; counting the raw plan would run
    // the whole gramStarts+semi-join subtree once for the count and again
    // for the real join (the round-4 7.5x q46 regression). Materialize the
    // flagged-docs-sized aggregate first — one row per flagged doc, so
    // count(startsPerDoc) == the distinct-doc count — and both the gate
    // and the join read the materialized frame.
    val startsPerDoc =
      if (maxBroadcastDocs == Long.MaxValue || maxBroadcastDocs <= 0L) startsPerDoc0
      else Checkpoints.eager(startsPerDoc0) {}
    val startsSide =
      if (maxBroadcastDocs == Long.MaxValue) broadcast(startsPerDoc)
      else if (maxBroadcastDocs <= 0L) startsPerDoc
      else if (startsPerDoc.count() <= maxBroadcastDocs) broadcast(startsPerDoc)
      else startsPerDoc
    // reassembly in the same typed discipline: the former filter/exists
    // higher-order pair re-scanned the span list per token, interpreted
    val out = documents
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text"))
      .join(startsSide, Seq("doc_id"), "left_outer")
      .as[(java.lang.Long, String, scala.collection.Seq[Int])]
      .map { case (id, text, starts) =>
        val toks = spanToks(text)
        val n = toks.length
        val bad = new Array[Boolean](n)
        if (starts != null) starts.foreach { s0 =>
          var j = math.max(s0, 0)
          val e = math.min(s0.toLong + gramLen, n.toLong).toInt
          while (j < e) { bad(j) = true; j += 1 }
        }
        val sb = new java.lang.StringBuilder
        var removed = 0L
        var first = true
        var i = 0
        while (i < n) {
          if (bad(i)) removed += 1L
          else {
            if (!first) sb.append(' ')
            sb.append(toks(i))
            first = false
          }
          i += 1
        }
        (id, sb.toString, removed)
      }
      .toDF("doc_id", "clean_text", "n_tokens_removed")
    // typed tuples yield a nullable string column; the coalesce (never
    // hit — the kernel always emits a string) restates the former
    // expression path's non-nullable clean_text without opaquing the
    // plan behind an RDD scan (OpsSpec plan-gates the join shape here)
    out.select(col("doc_id"),
      coalesce(col("clean_text"), lit("")).as("clean_text"),
      col("n_tokens_removed"))
  }

  /** q46 tokenization twin of `split(lower(trim(coalesce(text,''))),
    * '\\s+')`: SQL trim strips 0x20 only; split keeps edge empties
    * (limit -1). Lower-casing uses `Locale.ROOT` deliberately: it pins
    * the tokens (and so every span hash) independent of the JVM's
    * default locale. Parity with the Catalyst expression is pinned in
    * OpsSpec. */
  private[ops] def spanToks(text0: String): Array[String] = {
    val t0 = if (text0 == null) "" else text0
    var b = 0
    var e = t0.length
    while (b < e && t0.charAt(b) == ' ') b += 1
    while (e > b && t0.charAt(e - 1) == ' ') e -= 1
    WS.split(t0.substring(b, e).toLowerCase(java.util.Locale.ROOT), -1)
  }

  /** per-doc gram-window hasher for the typed span kernels: XXH64 with
    * seed 42 over the UTF-8 bytes of `concat_ws(' ', toks[i..i+g-1])` —
    * BIT-IDENTICAL to the Catalyst `xxhash64(concat_ws(' ', slice(...)))`
    * the kernels replaced (parity-pinned in OpsSpec), so the collision
    * contract is exactly the expression path's ~2^-64, not a weaker
    * polynomial class. Token bytes encode once per doc; windows fill a
    * growable reuse buffer. */
  private final class WindowHasher(toks: Array[String], g: Int) {
    private val tb: Array[Array[Byte]] =
      toks.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    private var buf = new Array[Byte](64)
    def hash(start: Int): Long = {
      var len = g - 1
      var w = 0
      while (w < g) { len += tb(start + w).length; w += 1 }
      if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length * 2))
      var off = 0
      w = 0
      while (w < g) {
        if (w > 0) { buf(off) = ' '.toByte; off += 1 }
        val b = tb(start + w)
        System.arraycopy(b, 0, buf, off, b.length)
        off += b.length
        w += 1
      }
      Xx64.hash(buf, len, 42L)
    }
  }

  /** test hook: XXH64(seed 42) of a string's UTF-8 bytes — the value
    * Spark's `xxhash64(stringCol)` computes (OpsSpec pins the parity). */
  private[graft] def xx64String(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Xx64.hash(b, b.length, 42L)
  }

  /** shared middle of the keep-first unit dedups (`corpusLineDedup`,
    * `corpusParagraphDedup`): per unit-hash winner = min (doc_id, pos)
    * struct, regrouped into per-document keep-position sets. Input is
    * the exploded occurrence frame (doc_id, pos, h); unit text never
    * enters — only 8-byte hashes shuffle. One definition so the
    * winner/collision contract cannot diverge between granularities. */
  private def keepFirstPosPerDoc(occurrences: DataFrame): DataFrame =
    occurrences
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .groupBy(col("w.doc_id").as("doc_id"))
      .agg(collect_list(col("w.pos")).as("keep_pos"))

  /** shared engine of the windowed duplicate-span removers
    * (`exactSubstringSelfDedup`, `corpusSpanDedup`): `windowLen`
    * consecutive units hash to an 8-byte key, (hash, doc_id, pos)
    * tuples shuffle for the min-struct winner groupBy, losing
    * occurrences resolve by hash-keyed equi-join vs the winner table
    * (no per-hash occurrence collect — viral spans stay distributed),
    * union per doc, and the corpus exchanges ONCE on doc_id for
    * reassembly. Returns (doc_id, u, kept) — unit array and surviving
    * units — for the caller to name/join its outputs; `hashSepSql` is
    * the SQL-literal separator text used inside concat_ws (so the
    * window hash matches each caller's DuckDB oracle byte-for-byte). */
  private def cutLosingWindows(
      documents: DataFrame,
      unitArr: Column,
      windowLen: Int,
      hashSepSql: String): DataFrame = {
    val spans = documents
      .select(col("doc_id"), unitArr.as("u"))
      .filter(size(col("u")) >= windowLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(u) - $windowLen), " +
          s"i -> xxhash64(concat_ws('$hashSepSql', slice(u, i + 1, $windowLen))))"))
        .as(Seq("pos", "h")))
    val winners = spans
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val losingStarts = spans
      .join(winners, Seq("h"))
      .filter(!(col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("bad_starts"))
    val wl = lit(windowLen)
    val bs = coalesce(col("bad_starts"), array().cast("array<int>"))
    documents
      .select(col("doc_id"), unitArr.as("u"))
      .join(losingStarts, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("u"),
        filter(col("u"), (x, i) => !exists(bs, s => i >= s && i < s + wl)).as("kept"))
  }

  /** corpus-wide exact line dedup, keep-FIRST occurrence (CCNet-style
    * paragraph dedup at line granularity): every distinct non-blank line
    * survives exactly once, in the document with the lowest (doc_id, pos);
    * blank lines are structure, not paragraphs — always kept.
    *
    * Scale shape: LINE text leaves its documents only as 8-byte xxhash64
    * keys (the keeper groupBy shuffles (hash, doc_id, pos) tuples), and
    * the winners come back as per-document POSITION SETS. The reassembly
    * join then exchanges the documents frame ONCE on doc_id (the keep-set
    * side is corpus-cardinality, not broadcastable) and re-filters the
    * text executor-locally — so the total text movement is one
    * doc_id-partitioned pass of the corpus, vs removeBoilerplateLines
    * whose reassembly groupBy shuffles the EXPLODED line rows (strictly
    * more bytes plus per-line row overhead). Hash collisions would drop
    * a distinct line: 64-bit over realistic corpus line counts, the same
    * accepted contract as the other hash-keyed dedup ops. */
  def corpusLineDedup(documents: DataFrame): DataFrame = {
    val lines = documents
      .select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n")).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .select(col("doc_id"), col("pos"), xxhash64(col("line")).as("h"))
    val keepPosPerDoc = keepFirstPosPerDoc(lines)
    val lineArr = split(coalesce(col("text"), lit("")), "\n")
    val keepSet = coalesce(col("keep_pos"), array().cast("array<int>"))
    val keptArr = filter(lineArr, (x, i) => trim(x) === "" || array_contains(keepSet, i))
    documents
      .join(keepPosPerDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        array_join(keptArr, "\n").as("clean_text"),
        (size(lineArr) - size(keptArr)).as("n_removed"))
  }

  /** exact-substring SELF-dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — ExactSubstr): any
    * `windowTokens`-token run occurring more than once in the corpus
    * survives only at its first occurrence (lowest doc_id, then start
    * pos); every token covered by a losing window is cut, keeping the
    * rest of the document — `decontaminateSpans` against the corpus
    * ITSELF instead of an eval set, and `corpusSpanDedup`'s engine one
    * granularity down (tokens instead of lines; the paper's suffix-array
    * formulation finds the same >=k-token duplicate runs — overlapping
    * duplicate windows union into exactly the maximal duplicated
    * substring). Tokenization matches decontaminateSpans (lower + trim +
    * whitespace; clean_text is the kept tokens space-joined). Docs
    * shorter than `windowTokens` tokens carry no windows and pass
    * through; docs are never dropped.
    *
    * Scale shape: windows shuffle as 8-byte xxhash64 keys with their
    * (doc_id, pos) — never token text; losers resolve via the hash-keyed
    * equi-join against the winner table (no per-hash occurrence collect:
    * a boilerplate run repeated 10^8 times stays distributed), removal
    * starts come back as bounded per-doc arrays, and the corpus
    * exchanges once on doc_id. Unlike the eval-set variant there is no
    * broadcastable side at all — both sides are corpus-sized by
    * construction, so every join is honestly shuffled. Same 64-bit
    * collision contract as the rest of the family. */
  def exactSubstringSelfDedup(documents: DataFrame, windowTokens: Int = 50): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be positive, got $windowTokens")
    val toks = split(lower(trim(coalesce(col("text"), lit("")))), "\\s+")
    cutLosingWindows(documents, toks, windowTokens, " ")
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("u")) - size(col("kept"))).cast("long").as("n_tokens_removed"))
  }

  /** corpus-wide exact PARAGRAPH dedup, keep-FIRST occurrence — the
    * CCNet paragraph-dedup shape at its native granularity (CCNet §3.1
    * dedups normalized paragraphs corpus-wide; `corpusLineDedup` is the
    * same engine at line granularity). Paragraphs are maximal runs of
    * text between blank-line runs (`\n{2,}`); a paragraph survives
    * exactly once, in the document with the lowest (doc_id, pos). Output
    * normalizes paragraph separators to a single blank line
    * (`clean_text` = kept paragraphs joined "\n\n") — paragraphs are
    * content units here, separators are not preserved verbatim the way
    * the line-granularity op preserves blank lines.
    *
    * Scale shape: identical to `corpusLineDedup` — paragraph text leaves
    * its documents only as 8-byte xxhash64 keys, winners return as
    * per-document position sets, and the corpus exchanges ONCE on doc_id
    * for reassembly. Same 64-bit collision contract. */
  def corpusParagraphDedup(documents: DataFrame): DataFrame = {
    val paraArr = split(coalesce(col("text"), lit("")), "\n{2,}")
    val paras = documents
      .select(col("doc_id"), posexplode(paraArr).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      .select(col("doc_id"), col("pos"), xxhash64(col("para")).as("h"))
    val keepPosPerDoc = keepFirstPosPerDoc(paras)
    val keepSet = coalesce(col("keep_pos"), array().cast("array<int>"))
    val keptArr = filter(paraArr, (x, i) => trim(x) =!= "" && array_contains(keepSet, i))
    documents
      .join(keepPosPerDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        array_join(keptArr, "\n\n").as("clean_text"),
        (size(filter(paraArr, x => trim(x) =!= "")) - size(keptArr)).as("n_removed"))
  }

  /** C4's corpus-wide SPAN dedup (Raffel et al. 2020 §2.2: "discarded
    * all but one of any three-sentence span occurring more than once"),
    * at line granularity — the unit the rest of the dedup family uses
    * (the synthetic corpus carries sentence-per-line structure; C4's
    * sentence tokenizer is the only non-deterministic piece, replaced by
    * the line splitter here). A span is `spanLen` CONSECUTIVE lines; the
    * lexicographically-first occurrence (lowest doc_id, then start pos)
    * keeps its lines, and every line covered by any LOSING occurrence is
    * removed — overlapping losing windows union, so a line survives only
    * if no duplicate span covers it. Documents shorter than `spanLen`
    * lines carry no spans and pass through untouched; docs are never
    * dropped (empty `clean_text` at worst).
    *
    * Scale shape: spans leave their documents only as 8-byte xxhash64
    * window keys — (hash, doc_id, pos) tuples shuffle for the winner
    * groupBy, losers come back via a hash-keyed equi-join against the
    * winner table (NO collect of occurrence lists per hash: a viral span
    * repeated 10^6 times stays distributed), and the corpus exchanges
    * ONCE on doc_id for reassembly with bounded per-doc removal-start
    * arrays. Same 64-bit collision contract as the other hash-keyed
    * dedup ops. */
  def corpusSpanDedup(documents: DataFrame, spanLen: Int = 3): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive, got $spanLen")
    cutLosingWindows(documents, split(coalesce(col("text"), lit("")), "\n"), spanLen, "\\n")
      .select(col("doc_id"),
        array_join(col("kept"), "\n").as("clean_text"),
        (size(col("u")) - size(col("kept"))).as("n_removed"))
  }

  // ---- incremental dedup (new crawl shard vs processed-corpus snapshot) ----
  //
  // Production corpora are not deduped from scratch per crawl: the corpus
  // keeps an 8-byte-key snapshot table (exact text hashes; MinHash band
  // keys) and each incoming shard dedups against the SNAPSHOT, then
  // appends only its genuinely-new keys. The corpus documents themselves
  // are never re-read — at 10^12 docs the snapshot is the only artifact
  // that ever moves, and it only ever APPENDS (the admitted shard's keys
  // that the snapshot does not hold yet).
  //
  // Scale shape: the shard is the small side (one crawl increment vs the
  // accumulated corpus), so the snapshot-side scan dominates. A Bloom
  // filter built over the SHARD's keys (Spark's own BloomFilterAggregate /
  // BloomFilterMightContain runtime-filter expressions, wrapped via the
  // same bridge as DotProduct) prunes the snapshot scan-side to
  // ~|shard ∩ snapshot| + fpp·|snapshot| rows BEFORE the exchange — at 1%
  // fpp the snapshot shuffle drops ~99%. The Bloom is a prefilter only:
  // false positives are resolved by the exact equi-join that follows, so
  // the result is bit-identical with the Bloom on or off (test-gated).

  /** default exact-dedup key: 64-bit hash of the raw text (NULL ≡ empty,
    * like `corpusLineDedup` and the other text-keyed ops) */
  def textHashKey: Column = xxhash64(coalesce(col("text"), lit("")))

  /** sentinel for custom `key` expressions that evaluate to NULL: a NULL
    * key never equi-joins (NULL != NULL), so an un-normalized NULL-keyed
    * doc would silently vanish from `incrementalExactDedup`'s per-doc
    * output. All NULL keys group under this one value — "NULL is a dup of
    * NULL", the key-level analog of `textHashKey`'s NULL ≡ empty. */
  private[graft] final val NULL_KEY: Long = 0x6e756c6c6b657921L // "nullkey!"

  private def normKey(key: Column): Column =
    coalesce(key.cast("long"), lit(NULL_KEY))

  /** distinct 8-byte key table of a processed corpus — the snapshot the
    * incremental ops join against (NULL keys normalize to [[NULL_KEY]],
    * matching `incrementalExactDedup`). Persist with a plain parquet
    * write; grow it by appending the admitted shard's keys that it does
    * not hold yet (a left-anti join on `h`), never by rewriting. */
  def exactKeySnapshot(corpus: DataFrame, key: Column): DataFrame =
    corpus.select(normKey(key).as("h")).distinct()

  /** Bloom-prune `table` (keyed by long column `h`) against the keys of
    * `probe`: rows whose `h` cannot be in probe are dropped scan-side,
    * before any exchange. `nProbe` sizes the filter (an upper bound on
    * probe's distinct keys is fine — extra bits only lower the fpp); the
    * filter binary is computed by one aggregate job and embedded as a
    * foldable literal, so the probe stays whole-stage-codegen'd. Returns
    * `table` unchanged when the probe is empty-keyed (nothing can match
    * downstream anyway) — `BloomFilterAggregate` yields NULL on zero rows
    * and `might_contain(NULL, h)` would silently drop every row.
    *
    * Spark silently CLAMPS `BloomFilterAggregate`'s estimate/bits to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits` (defaults 4M items / 64M bits): past either limit the
    * filter saturates toward fpp ~ 1 — the prune then costs a full probe
    * aggregate pass and drops nothing. So the prune is SKIPPED (returns
    * `table` unchanged, result-identical since the exact join resolves)
    * whenever the sized filter would be clamped; raise both confs at
    * session build time to Bloom-prune larger shards. */
  private def bloomPrune(
      table: DataFrame, probe: DataFrame, nProbe: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // optimal bits m = -n·ln(p)/ln(2)²; floor keeps tiny probes honest
    val nBits = math.max(64L,
      (-nProbe * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val conf = table.sparkSession.conf
    val maxItems =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    if (nProbe > maxItems || nBits > maxBits) table
    else {
      val agg = GraftColumnBridge.column(new BloomFilterAggregate(
        GraftColumnBridge.expression(col("h")),
        Literal(math.max(nProbe, 1L)), Literal(nBits)).toAggregateExpression())
      val bytes = probe.select(col("h")).agg(agg.as("bf")).head().getAs[Array[Byte]](0)
      if (bytes == null) table
      else table.filter(GraftColumnBridge.column(BloomFilterMightContain(
        Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
        GraftColumnBridge.expression(col("h")))))
    }
  }

  /** dedup an incoming shard against an `exactKeySnapshot` of the corpus
    * already admitted: per shard doc, `dup_vs_corpus` = its key is already
    * in the snapshot; `keep` = not in the corpus AND first occurrence
    * (lowest doc_id) of its key within the shard. Output one row per
    * shard doc `(doc_id, dup_vs_corpus, keep)`.
    *
    * Plan: shard keys union'd with the (Bloom-pruned) snapshot keys into
    * ONE groupBy(h) computing both the in-corpus flag and the
    * first-in-shard winner — robust to duplicate `h` rows in a
    * hand-built snapshot (no join-side row multiplication) — then one
    * equi-join back onto the shard's (doc_id, h) pairs. Only 8-byte keys
    * ever shuffle; documents never move. NULL `key` values normalize to
    * [[NULL_KEY]] so every shard doc appears in the output (a raw NULL
    * would never equi-join back). The Bloom prefilter engages when the
    * shard has at most `bloomMaxKeys` rows AND the sized filter fits
    * Spark's `runtime.bloomFilter.maxNumItems/maxNumBits` clamps (defaults
    * 4M/64M — see `bloomPrune`; raise the confs for bigger shards); past
    * either bound the exact join runs unfiltered rather than pay for a
    * saturated filter. The shard's (doc_id, h) pairs are persisted for the
    * pass count + bloom aggregate + final join (16 B/row, released after
    * the eager result materialization — `Checkpoints` discipline), so the
    * shard lineage is read ONCE. */
  def incrementalExactDedup(
      shard: DataFrame,
      snapshot: DataFrame,
      key: Column = textHashKey,
      bloomMaxKeys: Long = 50000000L,
      bloomFpp: Double = 0.01): DataFrame = {
    val (out, hashes) =
      incrementalExactDedupLazy(shard, snapshot, key, bloomMaxKeys, bloomFpp)
    Checkpoints.eager(out) { hashes.unpersist(); () }
  }

  /** lazy plan behind `incrementalExactDedup` (plan-gate tests inspect
    * the bloom prefilter / join shape here; the public method checkpoints
    * the result to release the hash cache). Returns
    * (result, hashes-to-unpersist). */
  private[graft] def incrementalExactDedupLazy(
      shard: DataFrame,
      snapshot: DataFrame,
      key: Column = textHashKey,
      bloomMaxKeys: Long = 50000000L,
      bloomFpp: Double = 0.01): (DataFrame, DataFrame) = {
    val hashes = shard.select(col("doc_id").cast("long").as("doc_id"),
      normKey(key).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nShard = hashes.count() // materializes the cache; replaces a shard re-scan
    val snapKeys =
      if (nShard > 0 && nShard <= bloomMaxKeys)
        bloomPrune(snapshot.select(col("h")), hashes, nShard, bloomFpp)
      else snapshot.select(col("h"))
    val perHash = hashes.select(col("h"), col("doc_id"), lit(false).as("snap"))
      .unionByName(snapKeys.select(col("h"), lit(null).cast("long").as("doc_id"),
        lit(true).as("snap")))
      .groupBy(col("h"))
      .agg(max(col("snap")).as("in_corpus"),
        min(when(!col("snap"), col("doc_id"))).as("first_id"))
    val out = hashes.join(perHash, Seq("h"))
      .select(col("doc_id"), col("in_corpus").as("dup_vs_corpus"),
        (!col("in_corpus") && col("doc_id") === col("first_id")).as("keep"))
    (out, hashes)
  }

  /** MinHash band-key snapshot of an admitted corpus: the 16 LSH bucket
    * keys per doc (same `bandKey` as `minhashLsh`), distinct. An incoming
    * doc sharing ANY band key with the snapshot is a near-dup candidate
    * vs the corpus — the standard incremental-LSH membership test. */
  def minhashBandSnapshot(corpus: DataFrame, seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (as, bs) = hashParams(seed)
    corpus.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (_, text) =>
        val sig = minhashSignature(text, as, bs)
        // token-free docs contribute no snapshot bands (minhashLsh rule)
        if (sig(0) == Long.MaxValue) Iterator.empty
        else (0 until N_BANDS).iterator.map(b => bandKey(sig, b))
      }
      .toDF("h").distinct()
  }

  /** flag shard docs that are near-dup candidates vs an admitted corpus's
    * `minhashBandSnapshot`: `(doc_id, dup_vs_corpus)`, one row per shard
    * doc. Same decision rule as `minhashLsh`'s bucketing (any shared
    * band), applied shard-vs-snapshot instead of pairwise; combine with
    * `minhashLsh(shard)` for intra-shard near-dups. The snapshot side is
    * Bloom-pruned by the shard's band keys under the same size gate as
    * `incrementalExactDedup` (shard band rows = 16x docs; Spark's
    * bloom-filter clamps apply — see `bloomPrune`). The shard's band rows
    * are persisted across the count + bloom aggregate + semi-join (typed
    * MapElements subtrees get NO exchange reuse — minhashLsh's persisted-
    * signatures rationale), so the 64-hash signature pipeline runs ONCE
    * per shard doc; released after the eager result materialization. */
  def minhashIncrementalFlags(
      shard: DataFrame,
      bandSnapshot: DataFrame,
      seed: Long = 42L,
      bloomMaxKeys: Long = 50000000L,
      bloomFpp: Double = 0.01): DataFrame = {
    val spark = shard.sparkSession
    import spark.implicits._
    val (as, bs) = hashParams(seed)
    val banded = shard.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = minhashSignature(text, as, bs)
        // token-free shard docs probe no bands -> flagged false (the
        // minhashLsh empties rule; an all-MaxValue band key would
        // otherwise match any token-free doc admitted to the snapshot)
        if (sig(0) == Long.MaxValue) Iterator.empty
        else (0 until N_BANDS).iterator.map(b => (id, bandKey(sig, b)))
      }
      .toDF("doc_id", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materializes the cache; == shard.count() * N_BANDS without re-scanning
    val nBandRows = banded.count()
    val snapKeys =
      if (nBandRows > 0 && nBandRows <= bloomMaxKeys)
        bloomPrune(bandSnapshot.select(col("h")), banded, nBandRows, bloomFpp)
      else bandSnapshot.select(col("h"))
    val hit = banded.join(snapKeys, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("flag", lit(true))
    val out = shard.select(col("doc_id").cast("long").as("doc_id"))
      .join(hit, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("flag"), lit(false)).as("dup_vs_corpus"))
    Checkpoints.eager(out) { banded.unpersist(); () }
  }

  // ---- SemDeDup (semantic deduplication) -------------------------------------

  private def normF(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
    math.sqrt(s)
  }

  /** cosine with zero-norm guard: any zero vector scores 0 (never a dup) */
  private def cosineF(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double =
    if (na <= 0.0 || nb <= 0.0) 0.0
    else {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i); i += 1 }
      s / (na * nb)
    }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540): k-means
    * cluster the embedding space, then within each cluster treat any pair
    * with cosine >= `threshold` as semantic duplicates and keep ONE
    * representative per duplicate group — the member FARTHEST from the
    * cluster centroid (the paper's keep-the-outlier rule: typical points
    * are the redundant ones; atypical points carry the learning signal).
    *
    * Deterministic decision rule: cluster members are ordered by
    * (cosine-to-centroid rounded to 1e-6 — the emitted `cent_sim` — DESC,
    * vec_id ASC) — most typical first — and a
    * member is DROPPED iff some LATER member (strictly less typical, or
    * equal-similarity higher id) is within `threshold` cosine of it. In a
    * duplicate chain a->b->c this keeps exactly the least-typical end,
    * matching the reference implementation's sorted upper-triangular
    * max-similarity matrix.
    *
    * Returns one row per input vector: (vec_id, cluster, cent_sim, kept).
    *
    * Scale shape (the published algorithm IS the scale path — clustering
    * exists precisely so the quadratic step never sees the corpus):
    * k-means trains on a bounded hash-sample (`SimSearch.buildIvfIndex`,
    * auto nlist ~ sqrt(n)); assignment is ONE map-only pass against the
    * broadcast centroids; the single shuffle groups (id, cent_sim,
    * embedding) rows by cluster; per-cluster pairing is O(c^2 * dim)
    * executor-local work bounded by `maxClusterSize`. Clusters over the
    * cap — degenerate embeddings collapsing onto one centroid — emit all
    * members KEPT via a lazy pass-through (bounded buffering, conservative:
    * silently dropping data in a pathological cluster is worse than
    * under-deduping it; the cap event is the operational signal to raise
    * nClusters). */
  def semDeDup(
      embeddings: DataFrame,
      threshold: Double = 0.95,
      nClusters: Int = 0,
      iters: Int = 3,
      dim: Int = 64,
      trainSample: Long = 200000L,
      maxClusterSize: Int = MAX_BUCKET_SIZE_DEFAULT): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    assignToCentroids(embeddings, nClusters, iters, dim, trainSample)
      .groupByKey(_._2)
      .flatMapGroups { (cluster, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Double, Double, Array[Float])]()
        var over = false
        while (it.hasNext && !over) {
          val r = it.next()
          buf += ((r._1, r._3, r._4, r._5))
          if (buf.length > maxClusterSize) over = true
        }
        if (over) {
          // pass-through: everything already buffered plus the rest of the
          // stream emits kept=true without further buffering
          buf.iterator.map(r => (r._1, cluster, round6(r._2), true)) ++
            it.map(r => (r._1, cluster, round6(r._3), true))
        } else {
          // order by the ROUNDED cent_sim (the emitted value): the output
          // is then self-oracling — a recompute from (cent_sim, vec_id)
          // reproduces the exact ordering; raw-value ordering could flip
          // sub-1e-6 ties against the emitted tie-break
          val arr = buf.sortBy(r => (-round6(r._2), r._1)).toArray
          Iterator.tabulate(arr.length) { i =>
            val (id, centSim, normI, embI) = arr(i)
            var dropped = false
            var j = i + 1
            while (j < arr.length && !dropped) {
              if (cosineF(embI, normI, arr(j)._4, arr(j)._3) >= threshold) dropped = true
              j += 1
            }
            (id, cluster, round6(centSim), !dropped)
          }
        }
      }
      .toDF("vec_id", "cluster", "cent_sim", "kept")
  }

  /** shared k-means assignment pass for the embedding-space pruners: train
    * centroids on a bounded hash-sample (`SimSearch.buildIvfIndex`), then
    * ONE map-only pass emitting (vec_id, cluster, cosine-to-centroid,
    * self_norm, embedding) per input vector against the broadcast
    * centroids — no shuffle happens here; callers choose what to move. */
  private def assignToCentroids(
      embeddings: DataFrame,
      nClusters: Int,
      iters: Int,
      dim: Int,
      trainSample: Long): org.apache.spark.sql.Dataset[(Long, Int, Double, Double, Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = SimSearch.buildIvfIndex(embeddings, nClusters, iters, dim, trainSample).centroids
    val bc = spark.sparkContext.broadcast(cents)
    val centNorms = cents.map(c => math.sqrt(SimSearch.dotF(c, c)))
    val bcNorms = spark.sparkContext.broadcast(centNorms)
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cs = bc.value
        val ns = bcNorms.value
        rows.map { case (id, e) =>
          val c = SimSearch.nearestCentroid(e, cs)
          val selfNorm = normF(e)
          val centSim =
            if (selfNorm <= 0.0 || ns(c) <= 0.0) 0.0
            else SimSearch.dotF(e, cs(c)) / (selfNorm * ns(c))
          (id, c, centSim, selfNorm, e)
        }
      }
  }

  /** SSL-prototype pruning (Sorscher et al. 2022, "Beyond neural scaling
    * laws: beating power law scaling via data pruning", arXiv:2206.14486;
    * the second stage of the D4 recipe, Tirumala et al. 2023, "D4:
    * Improving LLM Pretraining via Document De-Duplication and
    * Diversification", arXiv:2308.12284): k-means cluster the embedding
    * space, score each member by its cosine to its cluster centroid (its
    * prototypicality), and DROP the most prototypical `pruneFraction` of
    * every cluster — the redundant examples near the cluster center carry
    * the least learning signal; the atypical tail is kept. Ranking happens
    * within each cluster (the reference implementation sorts examples
    * cluster-by-cluster), which is also the partition-safe shape at scale.
    *
    * Deterministic rule: within a cluster, order by (cent_sim DESC,
    * vec_id ASC); the first floor(pruneFraction * clusterSize) members are
    * dropped. Returns one row per input vector:
    * (vec_id, cluster, cent_sim, kept).
    *
    * Composes with [[semDeDup]] as published D4: run semDeDup first, feed
    * the kept rows' embeddings here.
    *
    * Scale shape: bounded-sample k-means + one map-only assignment pass;
    * the ONLY shuffle moves ~20-byte (vec_id, cluster, cent_sim) triples —
    * embeddings and documents never move. Ranking is a cluster-partitioned
    * sort window (sort-based aggregation, spills rather than OOMs if a
    * degenerate cluster grows huge; raising nClusters is the operational
    * fix, exactly as in semDeDup). */
  def prototypesPrune(
      embeddings: DataFrame,
      pruneFraction: Double = 0.5,
      nClusters: Int = 0,
      iters: Int = 3,
      dim: Int = 64,
      trainSample: Long = 200000L): DataFrame = {
    require(pruneFraction >= 0.0 && pruneFraction <= 1.0,
      s"pruneFraction must be in [0,1], got $pruneFraction")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = assignToCentroids(embeddings, nClusters, iters, dim, trainSample)
      .map(r => (r._1, r._2, round6(r._3)))
      .toDF("vec_id", "cluster", "cent_sim")
    val byTypicality = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("cent_sim").desc, col("vec_id").asc)
    val wholeCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    assigned
      .withColumn("rn", row_number().over(byTypicality))
      .withColumn("n", count(lit(1)).over(wholeCluster))
      .select(col("vec_id"), col("cluster"), col("cent_sim"),
        (col("rn").cast("long") > floor(col("n") * pruneFraction)).as("kept"))
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  // ---- exact multi-phrase scan (decontamination audit) -------------------

  /** Aho-Corasick automaton over a bounded phrase set — transitions as
    * per-node SORTED parallel (char, child) primitive arrays (binary
    * search, no Character boxing in the scan loop — a HashMap[Char,_]
    * key boxes every non-ASCII lookup), fail/dict links as flat int
    * arrays. Serializable, broadcast once per job; matching walks the
    * text once whatever the phrase count. Node 0 is the root and never
    * anyone's child, so 0 doubles as "missing" in lookups. */
  private[graft] final class PhraseAutomaton(phrases: Array[String])
      extends Serializable {
    /** (per-node sorted edge chars, per-node child ids aligned with the
      * chars, pattern idx ending at node or -1, failure link, nearest
      * suffix-pattern node or -1 — the dictionary link: per-position
      * match work is bounded by patterns ACTUALLY ending there) */
    val (edgeChars, edgeKids, out, fail, dict) = PhraseAutomaton.build(phrases)
    /** child of `s` on `c`, 0 when absent (binary search, boxing-free) */
    private def child(s: Int, c: Char): Int = {
      val cs = edgeChars(s)
      var lo = 0
      var hi = cs.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val mc = cs(mid)
        if (mc == c) return edgeKids(s)(mid)
        else if (mc < c) lo = mid + 1
        else hi = mid - 1
      }
      0
    }
    /** next state from `state` on `c` (NFA simulation via fail links) */
    def step(state: Int, c: Char): Int = {
      var s = state
      var n = child(s, c)
      while (s != 0 && n == 0) { s = fail(s); n = child(s, c) }
      n
    }
  }

  private[graft] object PhraseAutomaton {
    private def build(phrases: Array[String]):
        (Array[Array[Char]], Array[Array[Int]], Array[Int], Array[Int], Array[Int]) = {
      val gotoMaps = scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[Char, Int]())
      val outBuf = scala.collection.mutable.ArrayBuffer(-1)
      for (pi <- phrases.indices) {
        var node = 0
        val p = phrases(pi)
        var i = 0
        while (i < p.length) {
          val c = p.charAt(i)
          val next = gotoMaps(node).getOrDefault(c, 0)
          node =
            if (next != 0) next
            else {
              gotoMaps += new java.util.HashMap[Char, Int]()
              outBuf += -1
              gotoMaps(node).put(c, gotoMaps.size - 1)
              gotoMaps.size - 1
            }
          i += 1
        }
        outBuf(node) = pi
      }
      val out = outBuf.toArray
      val fail = new Array[Int](out.length)
      val dict = Array.fill(out.length)(-1)
      // BFS failure links (classic construction); a child's fail target
      // is strictly shallower than the child, so getOrDefault's 0 can
      // never alias a real transition back to the child
      val queue = new java.util.ArrayDeque[Int]()
      gotoMaps(0).forEach { (_, child) => fail(child) = 0; queue.add(child) }
      while (!queue.isEmpty) {
        val u = queue.poll()
        dict(u) = if (out(fail(u)) >= 0) fail(u) else dict(fail(u))
        gotoMaps(u).forEach { (c, v) =>
          var f = fail(u)
          while (f != 0 && gotoMaps(f).getOrDefault(c, 0) == 0) f = fail(f)
          fail(v) = gotoMaps(f).getOrDefault(c, 0)
          queue.add(v)
        }
      }
      // freeze the boxed build maps into sorted primitive parallel arrays
      val edgeChars = new Array[Array[Char]](out.length)
      val edgeKids = new Array[Array[Int]](out.length)
      var n = 0
      while (n < out.length) {
        val entries = new Array[(Char, Int)](gotoMaps(n).size)
        var k = 0
        gotoMaps(n).forEach { (c, v) => entries(k) = (c, v); k += 1 }
        java.util.Arrays.sort(entries, Ordering.by((e: (Char, Int)) => e._1))
        edgeChars(n) = entries.map(_._1)
        edgeKids(n) = entries.map(_._2)
        n += 1
      }
      (edgeChars, edgeKids, out, fail, dict)
    }
  }

  /** exact multi-phrase scan — the decontamination AUDIT primitive: find
    * every literal occurrence of every phrase (eval prompts, canary
    * strings, license markers) across the corpus in ONE pass. The n-gram
    * (q40/q46/q81) and semantic (q82) decontaminators decide what to cut;
    * this reports the ground truth they are judged against, and it is the
    * tool an audit actually runs ("which docs contain this exact prompt,
    * how many times, where").
    *
    * Semantics: case-sensitive literal matching; EVERY start offset
    * counts (overlapping occurrences included — "aa" occurs 3x in
    * "aaaa"); `first_pos` is the first occurrence's 0-based offset in
    * Unicode code points (engine-neutral: UTF-16 indices would disagree
    * with any codepoint-counting SQL engine on astral chars). NULL text
    * matches nothing; NULL/empty phrases are dropped (an empty needle
    * matching everywhere is never what an audit means). Only matching
    * (doc, phrase) pairs are emitted.
    *
    * Output: (doc_id, phrase, n_matches long, first_pos int).
    *
    * Scale shape: the phrase set is bounded by construction (a benchmark
    * or blocklist, not a corpus) — count-gated collect (cap
    * `maxPhrases`), ONE Aho-Corasick automaton built driver-side and
    * broadcast; the corpus side is one mapPartitions scan, text walked
    * ONCE regardless of phrase count (per-position work bounded by
    * patterns actually ending there via dictionary links), per-partition
    * generation-stamped counters so the hot loop allocates nothing per
    * row. No shuffle, no join, documents never move. */
  def phraseScan(
      documents: DataFrame,
      phrases: DataFrame,
      maxPhrases: Int = 1000000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val phraseCached = phrases.select(col("phrase").cast("string")).as[String]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pats: Array[String] =
      try {
        val n = phraseCached.count()
        require(n <= maxPhrases,
          s"phrases has $n rows (cap $maxPhrases): phrase sets are " +
            "benchmark/blocklist-sized by contract — did the corpus/phrase " +
            "arguments get swapped?")
        phraseCached.collect().filter(p => p != null && p.nonEmpty).distinct
      } finally phraseCached.unpersist()
    if (pats.isEmpty)
      return spark.emptyDataset[(Long, String, Long, Int)]
        .toDF("doc_id", "phrase", "n_matches", "first_pos")
    val bAc = spark.sparkContext.broadcast(new PhraseAutomaton(pats))
    val bPats = spark.sparkContext.broadcast(pats)
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val ac = bAc.value
        val names = bPats.value
        // generation-stamped per-pattern counters: zero per-row allocation
        val stamp = new Array[Int](names.length)
        val cnt = new Array[Long](names.length)
        val firstUtf16 = new Array[Int](names.length)
        var gen = 0
        rows.flatMap { case (id, text) =>
          if (text == null || text.isEmpty) Iterator.empty
          else {
            gen += 1
            val g = gen
            var state = 0
            var i = 0
            var nHit = 0
            while (i < text.length) {
              state = ac.step(state, text.charAt(i))
              // dict-chain walk inlined (a per-char emit callback would
              // allocate one closure per character — the opposite of the
              // zero-allocation contract this loop documents)
              var s = if (ac.out(state) >= 0) state else ac.dict(state)
              while (s >= 0) {
                val pi = ac.out(s)
                if (stamp(pi) != g) {
                  stamp(pi) = g; cnt(pi) = 0L
                  firstUtf16(pi) = i - names(pi).length + 1
                  nHit += 1
                }
                cnt(pi) += 1L
                s = ac.dict(s)
              }
              i += 1
            }
            if (nHit == 0) Iterator.empty
            else {
              val outRows = new Array[(Long, String, Long, Int)](nHit)
              var k = 0
              var pi = 0
              while (pi < names.length) {
                if (stamp(pi) == g) {
                  // one codepoint conversion per matched (doc, phrase)
                  outRows(k) = (id, names(pi), cnt(pi),
                    text.codePointCount(0, firstUtf16(pi)))
                  k += 1
                }
                pi += 1
              }
              outRows.iterator
            }
          }
        }
      }
      .toDF("doc_id", "phrase", "n_matches", "first_pos")
  }

  /** winnowing fingerprint selection over one normalized text (Schleimer/
    * Wilkerson/Aiken, SIGMOD 2003 — the MOSS algorithm): k-gram rolling
    * hashes, then per window of `w` consecutive hashes keep the MINIMUM,
    * under the paper's ROBUST winnowing tie rule: if the previous
    * window's selection is still in-window and still minimal, KEEP it
    * (no new selection); only otherwise select the rightmost minimal
    * hash. On runs of equal hashes (repetitive text — 'aaaa…', spammy
    * boilerplate) plain rightmost-tie winnowing would select a NEW
    * position every slide (density 1); the robust rule re-selects only
    * when the kept position falls out of the window, so density drops to
    * ~1/w there — exactly the inputs whose fingerprint tables would
    * otherwise blow up the [[fingerprintMatches]] self-join. Output
    * (hash, pos) pairs in selection order.
    *
    * Guarantees (the paper's, pinned by OpsSpec): every window of w
    * consecutive k-grams contains at least one selected position
    * (local coverage), so any shared substring of length >= w + k - 1
    * between two documents yields at least one shared fingerprint
    * HASH (robust tie-keeping can pick different positions of the same
    * repeated gram in the two documents, but the hash — the match
    * currency — is equal); expected density on random text is 2/(w+1).
    *
    * Normalization: lowercase + whitespace runs collapsed to one space +
    * trim — formatting/casing edits must not break span matching (the
    * MOSS discipline); texts shorter than k emit nothing. The rolling
    * hash is poly-31 over chars in plain wrapping 64-bit arithmetic with
    * the leading term removed per step — byte-deterministic everywhere. */
  private[graft] def winnowOne(text: String, k: Int, w: Int): Array[(Long, Int)] = {
    val s = (if (text == null) "" else text)
      .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
    val n = s.length
    if (n < k) return Array.empty
    val m = n - k + 1 // number of k-grams
    val hashes = new Array[Long](m)
    var h = 0L
    var pow = 1L // 31^(k-1)
    var i = 0
    while (i < k) { h = h * 31 + s.charAt(i); if (i < k - 1) pow *= 31; i += 1 }
    hashes(0) = h
    i = 1
    while (i < m) {
      h = (h - s.charAt(i - 1) * pow) * 31 + s.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    if (m <= w) {
      // fewer grams than one window: select the single global min
      // (rightmost tie) so even short texts carry one fingerprint
      var best = 0
      i = 1
      while (i < m) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
      return Array((hashes(best), best))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var lastPos = -1
    var start = 0
    while (start + w <= m) {
      var minV = hashes(start)
      i = start + 1
      while (i < start + w) { if (hashes(i) < minV) minV = hashes(i); i += 1 }
      // robust rule: the previous selection survives while it stays
      // in-window AND minimal; otherwise select the rightmost minimum
      if (lastPos < start || hashes(lastPos) != minV) {
        var best = start
        i = start + 1
        while (i < start + w) { if (hashes(i) <= hashes(best)) best = i; i += 1 }
        out += ((hashes(best), best))
        lastPos = best
      }
      start += 1
    }
    out.toArray
  }

  /** per-document winnowing fingerprints — the span-level ROBUST analog
    * of the exact families (q61 catches byte-exact substrings; this
    * catches them after case/whitespace edits, with a provable
    * length->detection guarantee instead of MinHash's probabilistic
    * one). Output (doc_id, fp, pos): pos is the k-gram start in the
    * normalized text. DISTINCT (doc_id, fp) is the match currency;
    * positions kept for span triage.
    *
    * Scale shape: one scan-fused typed flatMap — the selection is a
    * per-row O(n*w) kernel (w is small; the paper's density argument is
    * about OUTPUT size: ~2/(w+1) of grams survive, so the table this
    * emits is 5-10x smaller than a full shingle table at w=8). */
  def winnowFingerprints(documents: DataFrame, k: Int = 8,
      w: Int = 4): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        winnowOne(text, k, w).iterator.map { case (fp, pos) => (id, fp, pos) }
      }
      .toDF("doc_id", "fp", "pos")
  }

  /** the DISTINCT (doc_id, fp) set of [[winnowFingerprints]] — the match
    * currency (q122's surface) — deduped INSIDE the kernel: fingerprints
    * are per-document, and doc_id is part of the key, so per-doc dedup
    * makes the rows globally distinct by construction and the former
    * corpus-wide distinct() shuffle (the whole cost of the round-5
    * currency change: q122's record moved 0.21 s -> 0.77 s for exactly
    * this exchange) folds away into the scan. Value-identical to
    * `winnowFingerprints(..).select(doc_id, fp).distinct()` (OpsSpec
    * parity gate). */
  def winnowFingerprintSet(documents: DataFrame, k: Int = 8,
      w: Int = 4): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sel = winnowOne(text, k, w)
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        var i = 0
        while (i < sel.length) { seen.add(sel(i)._1); i += 1 }
        val out = new Array[(Long, Long)](seen.size)
        val it = seen.iterator()
        var j = 0
        while (it.hasNext) { out(j) = (id, it.next()); j += 1 }
        out.iterator
      }
      .toDF("doc_id", "fp")
  }

  /** cross-document fingerprint matching over [[winnowFingerprints]]
    * output: pairs (doc_a < doc_b) sharing at least `minShared` DISTINCT
    * fingerprints, with the shared count — the plagiarism/syndication
    * span detector (each shared fingerprint witnesses a shared
    * normalized substring of length >= k; `minShared` trades recall for
    * viral-boilerplate noise exactly like q21's threshold).
    *
    * Scale shape: the q21 inverted-index discipline — distinct (fp,
    * doc) postings self-join on the 8-byte fp key, maxDf cap drops
    * corpus-viral fingerprints WHOLE before the join (boilerplate would
    * otherwise quadratically explode the hottest keys), one
    * partial-combined pair aggregate. Documents never move. The distinct
    * postings are persisted (three consumers: the cap aggregate and both
    * self-join sides — `fps` is usually the winnowing kernel's lazy
    * output, which would otherwise re-run per consumer) and released
    * after materialization (Checkpoints.eager, the gramPairCore
    * discipline). */
  def fingerprintMatches(fps: DataFrame, minShared: Long = 2L,
      maxDf: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    if (maxDf > 0) {
      // capped mode, the [[cappedPairCounts]] single-shuffle shape: raw
      // (fp, doc) occurrences flow straight into the fp-keyed group (the
      // emitter dedupes docs in-group, so the former distinct() shuffle
      // is folded away), the whole-key cap applies in-group, and a<b
      // pairs aggregate partial-combined. Nothing is persisted — every
      // stage has one consumer — so no eager checkpoint is needed to
      // release anything; callers that read the result twice cut it
      // themselves.
      cappedPairCounts(
          fps.select(col("fp").cast("long").as("fp"),
            col("doc_id").cast("long").as("doc_id"), lit(0L).as("sz")),
          "fp", maxDf)
        .select(col("doc_a"), col("doc_b"), col("common").as("n_shared"))
        .filter(col("n_shared") >= minShared)
    } else {
      // uncapped: streaming self-join (a viral fingerprint's doc list
      // must never be collected on one reducer), persisted distinct
      // postings feeding both sides, released after materialization
      val postings0 = fps.select(col("doc_id").cast("long").as("doc_id"),
        col("fp").cast("long").as("fp")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = postings0.select(col("doc_id").as("doc_a"), col("fp"))
        .join(postings0.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
      Checkpoints.eager(out) { postings0.unpersist() }
    }
  }

  // ---- b-bit minwise signatures (Li & König, WWW 2010) --------------------

  /** md5-keyed minhash signatures over the q21 word-3-gram sets: sig_i =
    * min over the doc's distinct grams of 60 bits of md5(gram '#' i) —
    * md5 (the q36/q129 engine-portable hash discipline) so a SQL oracle
    * recomputes every signature exactly; the production-scale dedup path
    * ([[minhashLsh]]) keeps its faster splittable Scala hashes, this
    * family exists to AUDIT signature compression ([[bbitMinhashJaccard]]).
    * Output one row per (doc_id, i in [0, k), sig long). Empty/NULL
    * texts still carry the single empty-string gram (gramSet never
    * returns an empty set — the q21 set semantics), so EVERY input
    * document emits exactly k rows; two empty documents therefore
    * estimate J = 1, consistent with ngramJaccardAllPairs on the same
    * sets.
    *
    * Scale shape: grams explode ×k then partial-combined min-aggregate —
    * the standard minhash cost (k hashes per gram); callers bound the
    * input first (the q08 discipline: semi-join documents down to the
    * ids under audit before shingling). */
  def minhashMd5Sigs(documents: DataFrame, k: Int = 16): DataFrame = {
    require(k >= 1 && k <= 256, s"k must be in [1,256], got $k")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) => gramSet(text).iterator.map(g => (id, g)) }
      .toDF("doc_id", "g")
      .select(col("doc_id"), col("g"),
        explode(sequence(lit(0L), lit(k.toLong - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(concat(col("g"), lit("#"), col("i").cast("string"))),
          1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("doc_id"), col("i")).agg(min(col("h")).as("sig"))
  }

  /** b-bit minwise Jaccard estimation (Li & König, WWW 2010) for a given
    * pair table — the storage side of minhash at 10^12 docs: keeping
    * only the LOWEST b bits of each of k signatures stores k·b bits per
    * doc (k=16, b=2: 4 bytes) instead of k·64, and the match fraction f
    * of the b-bit signatures still estimates J because unequal minhashes
    * collide on b bits with probability ~2^-b:
    * Ĵ = (f − 2^-b) / (1 − 2^-b), clamped at 0. Emitted as exact
    * integer micro-units (the q120 div discipline):
    * j_est_e6 = ((matches·2^b − k)·10^6) div (k·(2^b − 1)) when
    * positive — integer arithmetic end to end, so any engine recomputes
    * it bit-exactly from the same signatures.
    *
    * Input: documents + pairs (doc_a, doc_b). Output one row per
    * DISTINCT pair — including pairs whose ids are ABSENT from
    * `documents` (deleted between pair generation and audit): those
    * have no signatures to compare, so they emit n_matches = 0,
    * j_est_e6 = 0 rather than silently vanishing (an audit that
    * returns fewer rows than it was asked about lies by omission).
    *
    * Scale shape: documents are semi-joined down to the ids under audit
    * BEFORE shingling (the q08 discipline — signatures are never built
    * corpus-wide here), signatures travel as (id, i, 8-byte sig) rows,
    * the pair estimate is two equi-joins on (id, i) + one
    * partial-combined count + one pair-sized left join restoring
    * absent-id rows — never cartesian. */
  def bbitMinhashJaccard(documents: DataFrame, pairs: DataFrame,
      k: Int = 16, b: Int = 2): DataFrame = {
    require(b >= 1 && b <= 32, s"b must be in [1,32], got $b")
    val p = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .distinct()
    val ids = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
    val docs = documents.join(broadcast(ids), Seq("doc_id"), "left_semi")
    val mask = (1L << b) - 1
    val sigs = minhashMd5Sigs(docs, k)
      .select(col("doc_id"), col("i"), (col("sig").bitwiseAND(mask)).as("sb"))
    val matches = p
      .join(sigs.select(col("doc_id").as("doc_a"), col("i"), col("sb").as("sa")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("i"), col("sb")),
        Seq("doc_b", "i"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("sa") === col("sb"), 1L).otherwise(0L)).as("n_matches"))
    // pair-sized left join: a pair whose doc is absent from `documents`
    // joined no signatures — keep its row at zero instead of dropping it
    val full = p.join(matches, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
    val pow = 1L << b
    full.withColumn("j_est_e6",
      when(col("n_matches") * pow <= k, 0L)
        .otherwise(expr(s"((n_matches * $pow - $k) * 1000000) div ($k * ${pow - 1})")))
  }

  // ---- content-defined chunking (storage-level dedup) ---------------------

  /** deterministic splitmix64 finalizer (Steele et al. 2014) — used only
    * to derive the fixed gear table below; no runtime randomness. */
  private def splitmix64(i0: Long): Long = {
    var x = i0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** the 256-entry gear table (Xia et al.'s Ddelta/FastCDC gear hash):
    * one fixed 64-bit value per byte, derived deterministically so every
    * run of every engine chunks identically. */
  private val GEAR: Array[Long] = Array.tabulate(256)(i => splitmix64(i.toLong))

  /** gear-hash content-defined chunk boundaries over `bytes`: the gear
    * hash h = (h << 1) + GEAR[b] rolls one byte at a time; a boundary
    * cuts after position p when (h & mask) == 0 and the chunk has
    * reached `minSize`; `maxSize` force-splits (low-entropy runs may
    * never hit the mask). Returns chunk END offsets (exclusive),
    * ascending, last == bytes.length. */
  private[graft] def cdcBoundaries(bytes: Array[Byte], minSize: Int,
      mask: Long, maxSize: Int): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + GEAR(bytes(i) & 0xFF)
      val len = i - start + 1
      if ((len >= minSize && (h & mask) == 0L) || len >= maxSize) {
        out += i + 1
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += bytes.length
    out.toArray
  }

  /** 64-bit FNV-1a over a byte range — the chunk identity hash. */
  private def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xFFL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** content-defined chunking (Gear hash — Xia et al., Ddelta 2014 /
    * FastCDC, USENIX ATC 2016) over each document's UTF-8 bytes: the
    * STORAGE-dedup primitive. Fixed-size blocking breaks on the first
    * inserted byte (every later block shifts); a content-defined cut
    * point depends only on the surrounding bytes, so an edit disturbs
    * only the chunk it lands in — near-identical documents (mirrors,
    * CMS re-renders, quoted mails) share almost all chunk hashes. This
    * is the byte-level complement of [[winnowFingerprints]] (which
    * SAMPLES k-grams for matching); CDC PARTITIONS the byte stream, so
    * refcounting chunk hashes measures exactly the storage a
    * dedup-aware store would reclaim. No reference analog
    * (pdf_extractor.h:6); north_rule surface.
    *
    * Boundaries: gear hash rolls one byte at a time, cut after `h &
    * mask == 0` once `minSize` bytes accumulated (mask = 2^avgBits − 1,
    * so chunks average ~2^avgBits bytes past the minimum), force-split
    * at `maxSize`. Output one row per chunk: (doc_id, chunk_idx int,
    * start int — byte offset, len int, chunk_hash long — FNV-1a of the
    * chunk bytes). Empty/NULL texts emit no rows (q128 joins them back
    * as zero-byte rows for corpus accounting).
    *
    * Scale shape: scan-fused typed flatMap — per-row kernel work, zero
    * shuffle, output ~bytes/2^avgBits rows per doc; chunk identity
    * travels as an 8-byte hash, never as chunk bytes. */
  def cdcChunks(documents: DataFrame, minSize: Int = 64,
      avgBits: Int = 8, maxSize: Int = 4096): DataFrame = {
    require(minSize >= 1, s"minSize must be >= 1, got $minSize")
    require(avgBits >= 1 && avgBits <= 48, s"avgBits must be in [1,48], got $avgBits")
    require(maxSize > minSize, s"maxSize ($maxSize) must exceed minSize ($minSize)")
    val mask = (1L << avgBits) - 1
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null || text.isEmpty) Iterator.empty
        else {
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val ends = cdcBoundaries(bytes, minSize, mask, maxSize)
          var start = 0
          ends.iterator.zipWithIndex.map { case (end, idx) =>
            val r = (id, idx, start, end - start, fnv64(bytes, start, end))
            start = end
            r
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "start", "len", "chunk_hash")
  }
}

/** XXH64 (Yann Collet's xxHash, public-domain spec) over a byte array —
  * the hash Spark's `xxhash64` expression applies to a string column's
  * UTF-8 bytes (seed 42). Reimplemented here so typed kernels can emit
  * values bit-identical to the Catalyst expression they replace; the
  * OpsSpec parity test pins every length class (empty, <4, <8, <32,
  * stripe remainder, multi-stripe, non-ASCII). */
private[graft] object Xx64 {
  private final val P1 = 0x9E3779B185EBCA87L
  private final val P2 = 0xC2B2AE3D27D4EB4FL
  private final val P3 = 0x165667B19E3779F9L
  private final val P4 = 0x85EBCA77C2B2AE63L
  private final val P5 = 0x27D4EB2F165667C5L

  private def longLE(d: Array[Byte], o: Int): Long =
    (d(o) & 0xffL) |
      ((d(o + 1) & 0xffL) << 8) |
      ((d(o + 2) & 0xffL) << 16) |
      ((d(o + 3) & 0xffL) << 24) |
      ((d(o + 4) & 0xffL) << 32) |
      ((d(o + 5) & 0xffL) << 40) |
      ((d(o + 6) & 0xffL) << 48) |
      ((d(o + 7) & 0xffL) << 56)

  private def intLE(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) |
      ((d(o + 1) & 0xffL) << 8) |
      ((d(o + 2) & 0xffL) << 16) |
      ((d(o + 3) & 0xffL) << 24)) & 0xffffffffL

  def hash(data: Array[Byte], len: Int, seed: Long): Long = {
    import java.lang.Long.rotateLeft
    var off = 0
    var h = 0L
    if (len >= 32) {
      var v1 = seed + P1 + P2
      var v2 = seed + P2
      var v3 = seed
      var v4 = seed - P1
      val limit = len - 32
      while (off <= limit) {
        v1 = rotateLeft(v1 + longLE(data, off) * P2, 31) * P1
        v2 = rotateLeft(v2 + longLE(data, off + 8) * P2, 31) * P1
        v3 = rotateLeft(v3 + longLE(data, off + 16) * P2, 31) * P1
        v4 = rotateLeft(v4 + longLE(data, off + 24) * P2, 31) * P1
        off += 32
      }
      h = rotateLeft(v1, 1) + rotateLeft(v2, 7) + rotateLeft(v3, 12) +
        rotateLeft(v4, 18)
      h = (h ^ (rotateLeft(v1 * P2, 31) * P1)) * P1 + P4
      h = (h ^ (rotateLeft(v2 * P2, 31) * P1)) * P1 + P4
      h = (h ^ (rotateLeft(v3 * P2, 31) * P1)) * P1 + P4
      h = (h ^ (rotateLeft(v4 * P2, 31) * P1)) * P1 + P4
    } else h = seed + P5
    h += len
    while (off + 8 <= len) {
      h ^= rotateLeft(longLE(data, off) * P2, 31) * P1
      h = rotateLeft(h, 27) * P1 + P4
      off += 8
    }
    if (off + 4 <= len) {
      h ^= intLE(data, off) * P1
      h = rotateLeft(h, 23) * P2 + P3
      off += 4
    }
    while (off < len) {
      h ^= (data(off) & 0xffL) * P5
      h = rotateLeft(h, 11) * P1
      off += 1
    }
    h ^= h >>> 33
    h *= P2
    h ^= h >>> 29
    h *= P3
    h ^= h >>> 32
    h
  }
}
