package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source-level corpus curation operators — the knobs a training-data
  * pipeline turns ABOVE the document level: capping any one source's
  * contribution, stratified sampling per language, blocklist filtering,
  * and distribution reporting. All deterministic (hash-based, no RNG) so
  * reruns/retries at 10^12 rows reproduce byte-identical corpora.
  */
object CorpusOps {

  /** cap each source's contribution at `maxDocs` documents, keeping the
    * lowest doc_ids (deterministic retention).
    *
    * Scale shape: a bare row_number window funnels EVERY row of a source
    * through one reducer's sort — a hot source with 10^9 docs is a
    * straggler/spill. So each scan partition first keeps only its local
    * `maxDocs` smallest doc_ids per source (bounded heap, no shuffle);
    * the window's reducer then sees at most partitions x maxDocs rows per
    * source. Exactness: the global smallest-maxDocs set is a subset of the
    * union of per-partition smallest-maxDocs sets, so the final ranks are
    * identical to the unpruned window. For quota-by-fraction instead of
    * count, derive maxDocs per source from `lengthHistogram`-style totals
    * first. */
  def sourceQuota(documents: DataFrame, maxDocs: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    // maxDocs <= 0 means "keep nothing" — short-circuit to an empty frame;
    // without the guard the first row of a source dereferences the empty
    // heap's head inside the task (NoSuchElementException fails the job)
    if (maxDocs <= 0)
      return documents
        .select(col("doc_id").cast("long"), col("source"), lit(0L).as("rk"))
        .filter(lit(false))
    val pruned = documents
      .select(col("doc_id").cast("long"), col("source"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.PriorityQueue[Long]] // max-heaps
        it.foreach { case (id, src) =>
          val h = heaps.getOrElseUpdate(src,
            scala.collection.mutable.PriorityQueue.empty[Long])
          if (h.size < maxDocs) h.enqueue(id)
          else if (id < h.head) { h.dequeue(); h.enqueue(id) }
        }
        heaps.iterator.flatMap { case (src, h) => h.iterator.map(id => (id, src)) }
      }
      .toDF("doc_id", "source")
    val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
    pruned
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= maxDocs)
      .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
  }

  /** source/host reputation prior — the RefinedWeb-family curation rule
    * "judge the HOST, not just the page": every source's prior is the
    * MEAN quality of its documents, every document inherits its source's
    * prior, and `kept` applies one threshold to that prior (a page on a
    * content-farm host is dropped even when the page itself scores well,
    * and a mediocre page on a reputable host survives). Sources with
    * fewer than `minDocs` documents carry no evidence — they fall back
    * to the GLOBAL mean prior (judged as "average host", neither
    * whitelisted nor blacklisted by a handful of pages).
    *
    * Exactness: the mean is computed in integer MICRO-units (qualityScore
    * is 1e-6-rounded at source, so quality*1e6 is an exact long; the
    * prior is floor(sum/n) of exact longs) — no float summation-order
    * sensitivity, any recompute or SQL mirror ranks identically.
    *
    * Scale shape: text is reduced to an 8-byte micro-quality AT THE SCAN;
    * the per-source aggregation is one partial-combined groupBy of
    * 16-byte rows; the global fallback is a 1-row scalar (labeled lazy
    * broadcast, q52's shape); the prior table is one row per source —
    * host-cardinality-sized, rejoined on the source key (AQE broadcasts
    * it when small, shuffles honestly at web host counts). Documents
    * never shuffle. */
  def sourceQualityPrior(
      documents: DataFrame,
      minDocs: Long = 5L,
      threshold: Double = 0.3): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val thrMicros = math.round(threshold * 1e6)
    // NULL text scores as empty text (quality 0.3), NOT as NULL: a NULL
    // quality would be skipped by sum() while count() includes the doc
    // (silently deflating its source's mean), and an all-NULL source
    // would emit kept=NULL rows that vanish from BOTH kept filters
    val scored = documents.select(
      col("doc_id"),
      coalesce(col("source"), lit("unknown")).as("source"),
      TextOps.qualityScore(coalesce(col("text"), lit(""))).as("quality"))
      .withColumn("qm", round(col("quality") * lit(1e6), 0).cast("long"))
    val bySource = scored.groupBy(col("source"))
      .agg(sum(col("qm")).as("sm"), count(lit(1)).as("n_source_docs"))
    val priors = bySource
      .crossJoin(broadcast(bySource.agg(
        sum(col("sm")).as("gs"), sum(col("n_source_docs")).as("gn"))))
      .select(col("source"), col("n_source_docs"),
        when(col("n_source_docs") >= minDocs,
          floor(col("sm").cast("double") / col("n_source_docs")))
          .otherwise(floor(col("gs").cast("double") / col("gn")))
          .cast("long").as("prior_micros"))
    scored.join(priors, Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"),
        (col("prior_micros") / lit(1e6)).as("source_prior"),
        col("n_source_docs"),
        (col("prior_micros") >= thrMicros).as("kept"))
  }

  /** deterministic stratified sampling: per-language keep-rates out of 256
    * md5 buckets (engine-portable, retry-stable — the same property as
    * TextOps.hashSplit). Unlisted languages use `defaultPct256`. Pure
    * per-row column math, no shuffle, no RNG. */
  def stratifiedSample(
      documents: DataFrame,
      pct256ByLang: Map[String, Int] = Map("en" -> 128, "de" -> 64),
      defaultPct256: Int = 26,
      salt: String = "strat"): DataFrame = {
    require((defaultPct256 +: pct256ByLang.values.toSeq).forall(p => p >= 0 && p <= 256))
    val hexByte = substring(md5(concat(col("doc_id").cast("string"), lit(":" + salt))), 1, 2)
    // 256 -> keep all (the 2-char hex compare cannot express it: f"%02x" of
    // 256 is the 3-char "100"); 0 -> drop all
    def keepFor(p: Int) =
      if (p >= 256) lit(true) else if (p <= 0) lit(false) else hexByte < lit(f"$p%02x")
    val pred = pct256ByLang.foldLeft(keepFor(defaultPct256)) { case (acc, (lang, p)) =>
      when(col("lang") === lang, keepFor(p)).otherwise(acc)
    }
    documents
      .filter(pred)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** drop documents whose source appears in the blocklist frame
    * (columns: source). The blocklist is dimension-sized — broadcast
    * left-anti join, so the corpus never shuffles. */
  def blocklistFilter(documents: DataFrame, blocklist: DataFrame): DataFrame =
    documents
      .join(broadcast(blocklist.select(col("source"))), Seq("source"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))

  /** query parameters stripped by `urlCanonical` — the tracking/session
    * params every crawl-dedup pipeline drops (utm_* campaign tags, ref,
    * click ids). Matched WITH or WITHOUT a value (`?ref` and `?ref=x` are
    * both tracking noise; requiring '=' let valueless forms survive and
    * split dedup groups). Kept params are sorted so param ORDER never
    * splits a canonical group. */
  private val TRACKING_PARAM = "^(utm_[^=]*|ref|fbclid|gclid)(=|$)"

  /** canonicalize a URL column for dedup keying:
    *  1. strip the fragment (`#...`);
    *  2. drop tracking query params (utm_*, ref, fbclid, gclid) AND empty
    *     params ('p?' == 'p', trailing '&' is noise), SORT the survivors
    *     (param order is presentation, not identity);
    *  3. lowercase scheme+host ONLY (RFC 3986: paths are case-sensitive —
    *     lowercasing them would conflate distinct resources; URLs with no
    *     scheme://host prefix are lowercased whole) and strip ALL trailing
    *     slashes off the pre-query part ('/+$', not '/$': stripping one
    *     slash per application made '…/x//' canonicalize differently on a
    *     second pass, breaking idempotence).
    * Pure codegen'd column math — no UDF, no shuffle; at 10^12 rows this
    * runs inside the scan stage. (Multiple '?' are treated as in crawl
    * practice: first '?' starts the query string.) */
  def urlCanonical(url: Column): Column = {
    val nofrag = regexp_replace(url, "#.*$", "")
    val base = regexp_replace(substring_index(nofrag, "?", 1), "/+$", "")
    val schemeHostRe = "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)(.*)$"
    val schemeHost = regexp_extract(base, schemeHostRe, 1)
    val caseFixed = when(schemeHost =!= "",
      concat(lower(schemeHost), regexp_extract(base, schemeHostRe, 2)))
      .otherwise(lower(base))
    val hasQ = instr(nofrag, "?") > 0
    val qstr = regexp_replace(nofrag, "^[^?]*\\?", "") // after the FIRST '?'
    val params = when(hasQ,
      filter(split(qstr, "&"), p => (length(p) > 0) && !p.rlike(TRACKING_PARAM)))
      .otherwise(array().cast("array<string>"))
    concat(
      caseFixed,
      when(size(params) > 0, concat(lit("?"), array_join(array_sort(params), "&")))
        .otherwise(lit("")))
  }

  /** exact dedup on the canonical URL: one partial-aggregated shuffle on
    * the canonical key; keeper = lowest doc_id (deterministic). The classic
    * first-stage crawl dedup — at web scale ~30-40% of fetched URLs are
    * alternate spellings of a page already held. */
  def canonicalUrlDedup(urls: DataFrame): DataFrame =
    urls
      .select(col("doc_id"), urlCanonical(col("url")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** quality-ordered token-budget selection per source — the corpus-mixing
    * primitive: each source contributes its highest-quality documents
    * until its token budget is spent (running whitespace-token sum,
    * cutoff inclusive-sum <= budget). Ordering is (quality desc, doc_id
    * asc) on the ROUNDED quality so the selection is engine-portable and
    * retry-stable.
    *
    * Scale note: the running sum is a per-source window — a hot source
    * sorts in one reducer. Unlike sourceQuota's count cap, a token budget
    * has no exact local pre-prune (a scan partition cannot know the global
    * quality cutoff); production shape for web-scale sources is two-pass:
    * estimate the cutoff quality via approx quantiles of the token-
    * weighted quality distribution, pre-filter to ~cutoff - epsilon, then
    * run this window on the survivors. */
  def tokenBudgetSelect(
      documents: DataFrame,
      budgetTokens: Long = 1000L,
      tokenizer: String = "ws"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one token-count definition for both engines: tokensFor("ws") is
    // TextOps.tokenCount, the codegen'd expression the DuckDB oracle
    // mirrors; "bpe" charges the budget in real model tokens
    val scored = documents.select(col("doc_id"), col("source"),
      round(TextOps.qualityScore(col("text")), 6).as("quality"),
      TextOps.tokensFor(tokenizer, col("text")).as("n_tokens"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("quality"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** target-mixture balancing — the recipe step behind Pile/RedPajama/
    * Dolma-style corpora: fix the RELATIVE per-source token proportions
    * of the training mix. `targetWeights` gives integer mixture parts per
    * source (web->6, books->1, code->1 means 6:1:1 by tokens). The largest
    * corpus achievable at exactly those proportions spends
    * `units = min_s floor(available_s / w_s)` mixture units — the scarcest
    * source relative to its weight binds — giving every source an exact
    * integer budget of `w_s * units` tokens; each source then spends its
    * budget on its highest-quality documents under the same deterministic
    * (quality DESC, doc_id ASC) inclusive running-sum rule as
    * [[tokenBudgetSelect]]. Integer unit math keeps the cutoff
    * engine-portable (no floating-point boundary flips at the budget
    * edge). Sources without a weight are excluded from the output; a
    * weighted source ABSENT from the corpus contributes zero available
    * tokens, so units = 0 and nothing anywhere is kept — the mixture is a
    * hard constraint, not best-effort (catching a mis-speced recipe beats
    * silently shipping a skewed mix).
    *
    * Returns one row per weighted-source document:
    * (doc_id, source, quality, n_tokens, cum_tokens, budget_tokens, kept).
    *
    * Scale shape: per-source totals are one map-side-partial aggregation
    * (|sources| rows) left-joined onto the weights so empty sources count
    * as zero, folded to a ONE-ROW `units` scalar that rejoins as a labeled
    * broadcast crossJoin (the q52/q60 scalar shape); the per-source
    * running sum is tokenBudgetSelect's window — its hot-source note and
    * two-pass pre-prune strategy apply verbatim. */
  def mixtureBalance(
      documents: DataFrame,
      targetWeights: Map[String, Long],
      tokenizer: String = "ws"): DataFrame = {
    require(targetWeights.nonEmpty, "targetWeights must name at least one source")
    require(targetWeights.values.forall(_ > 0), "mixture weights must be positive")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val weights = targetWeights.toSeq.toDF("source", "weight")
    val scored = documents
      .select(col("doc_id"), col("source"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"),
        TextOps.tokensFor(tokenizer, col("text")).as("n_tokens"))
      .join(broadcast(weights), Seq("source"))
    val totals = scored.groupBy(col("source")).agg(sum(col("n_tokens")).as("total_tokens"))
    val units = weights
      .join(totals, Seq("source"), "left_outer")
      .agg(min(expr("coalesce(total_tokens, 0L) div weight")).as("units"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(units))
      .withColumn("budget_tokens", col("weight") * col("units"))
      .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"),
        col("cum_tokens"), col("budget_tokens"),
        (col("cum_tokens") <= col("budget_tokens")).as("kept"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the average per-token log-likelihood ratio between a TARGET bag-of-
    * words model and a RAW one — positive means "looks like the target
    * distribution", the signal DSIR resamples by to tilt a web corpus
    * toward a curated domain. Deterministic variant: `isTarget` marks the
    * target documents inside the frame, the raw model trains on the
    * non-target rest (disjoint split, so the contrast is not diluted by
    * the target's own mass), both models are add-`alpha` smoothed over
    * the COMBINED vocabulary, and the score is the length-normalized
    * average (selection then composes with any top-k/budget op —
    * `tokenBudgetSelect` ordering, deterministic instead of DSIR's
    * Gumbel-noise sampling). Tokenization: lower + trim + whitespace.
    * Docs with zero tokens score 0 and are never dropped.
    *
    * Scale shape: classic word-count, the `ngramLmScore` plan one model
    * smaller — the count table is vocabulary-sized with map-side partial
    * aggregation, the totals/vocab join in as a broadcast ONE-ROW
    * aggregate, and the scoring join shuffles (doc_id, word) token rows
    * once. `hashBuckets > 0` is the 10^12-row regime: words become
    * `pmod(xxhash64(w), hashBuckets)` features, bounding the count table
    * at a fixed size exactly as DSIR's hashed n-gram features do (the
    * oracle path keeps exact words — same plan, unbounded vocab). */
  /** the shared lower+trim+whitespace tokenization (empty tokens dropped)
    * of the two model-based scorers — ONE definition so the dsirScore and
    * qualityClassifier oracles cannot silently diverge on convention.
    * (TextOps.ngramLmScore / Dedup keep their own UNfiltered variant:
    * those oracles deliberately preserve the empty-string token of an
    * empty text, a different contract.) */
  private[graft] val wsTokens: Column = filter(
    split(lower(trim(coalesce(col("text"), lit("")))), "\\s+"), w => w =!= "")

  /** hashed-feature mapping for the 10^12-row regime: words/features
    * become one of `hashBuckets` buckets, bounding every model table at a
    * fixed size (DSIR's hashed n-gram trick). Identity when disabled. */
  private def hashedFeat(hashBuckets: Int): Column => Column =
    if (hashBuckets > 0) f => pmod(xxhash64(f), lit(hashBuckets.toLong)).cast("string")
    else f => f

  def dsirScore(
      documents: DataFrame,
      isTarget: Column,
      alpha: Double = 1.0,
      hashBuckets: Int = 0): DataFrame = {
    val toks = wsTokens
    val feat = hashedFeat(hashBuckets)
    val tok = documents
      .select(col("doc_id"), isTarget.as("is_target"), explode(toks).as("w0"))
      .select(col("doc_id"), col("is_target"), feat(col("w0")).as("w"))
    val counts = tok.groupBy(col("w")).agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_target"), 1L).otherwise(0L)).as("cr"))
    val totals = counts.agg(
      sum(col("ct")).as("tt"), sum(col("cr")).as("tr"), count(lit(1)).as("v"))
    val scored = tok
      .join(counts, Seq("w"))
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        log((col("ct") + lit(alpha)) / (col("tt") + lit(alpha) * col("v"))) -
          log((col("cr") + lit(alpha)) / (col("tr") + lit(alpha) * col("v"))))
      .groupBy(col("doc_id"))
      .agg(round(avg(col("lr")), 6).as("s"), count(lit(1)).as("n"))
    documents.select(col("doc_id"), isTarget.as("is_target"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("is_target"),
        coalesce(col("s"), lit(0.0)).as("dsir_score"),
        coalesce(col("n"), lit(0L)).as("n_tokens"))
  }

  /** per-source length histogram: bucket = floor(n_chars / bucketWidth),
    * count + share-of-source. One partial-aggregated shuffle on
    * (source, bucket); the share join is vs the source totals (tiny). */
  /** engine-portable deterministic per-doc mix in [0, 2^32): an odd
    * multiplicative hash over doc_id reduced mod 2^31 (the reduction keeps
    * `reduced * multiplier` inside int64 at any doc_id scale — 2^31 x
    * ~2.7e9 < 2^63). Pure integer arithmetic so any SQL engine computes
    * the identical value: the same retry-stable property the md5-bucket
    * sampler has, in a form whose MOD/ORDER math stays in plain columns.
    * Precondition: NON-NEGATIVE doc_id (every id scheme in this engine) —
    * Spark's pmod and SQL's sign-preserving % diverge below zero.
    *
    * A multiplicative hash mixes LOW bits into HIGH bits only: bit k of
    * the product depends on input bits 0..k, so `mix % m` for small m is
    * nearly the identity on structured ids (e.g. 2654435761 ≡ 1 mod 16 —
    * `mix % 16` IS `doc_id % 16`). Anything that buckets by the mix must
    * take HIGH bits: `mixHi16` below. */
  private def mix32(id: Column, multiplier: Long): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(multiplier), lit(4294967296L))

  /** top 16 bits of `mix32` — the well-mixed end, safe to bucket by
    * (`(mix >> 16) % m`; SQL mirror: `(mix // 65536) % m`) */
  private def mixHi16(mix: Column): Column = shiftright(mix, 16)

  /** deterministic training-order shuffle + shard assignment — the final
    * step of every pretraining data pipeline: break source/crawl locality
    * by globally shuffling the admitted corpus, then write N shards whose
    * within-shard order is reproducible (a retry or a second lab run
    * produces byte-identical shards). The shuffle key is `mix32`
    * (multiplier 2654435761, Knuth's 2^32/phi); the shard is the key's
    * TOP 16 bits mod nShards (the low bits of a multiplicative hash are
    * unmixed — `key % 16` would be exactly `doc_id % 16`); `shard_pos`
    * is the rank inside the shard by (key, doc_id).
    *
    * Scale shape: shard assignment is per-row column math fused into the
    * scan (zero shuffle); the within-shard rank is one window partitioned
    * by shard_id — choose nShards so a shard's rows fit one task (real
    * corpora write 10^4-10^6 shards, each some hundreds of MB: exactly the
    * granularity a sequential shard writer needs anyway). Token counts
    * ride along so downstream writers can report per-shard token mass. */
  def shuffleShards(
      documents: DataFrame,
      nShards: Int = 16,
      tokenizer: String = "ws"): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard_id")).orderBy(col("mix"), col("doc_id"))
    documents
      .select(col("doc_id"),
        TextOps.tokensFor(tokenizer, col("text")).as("n_tokens"),
        mix32(col("doc_id"), 2654435761L).as("mix"))
      .withColumn("shard_id", pmod(mixHi16(col("mix")), lit(nShards.toLong)).cast("int"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard_id"), col("shard_pos"), col("n_tokens"))
  }

  /** temperature-based multilingual resampling (the p^alpha rule of
    * XLM-R / mBERT / mT5: Conneau et al. 2020 §3.1, sampling prob
    * q_l ∝ p_l^alpha): rebalances a language-skewed corpus toward the
    * flat distribution as alpha -> 0. Per-language keep RATE
    * r_l = min(1, q_l * N / n_l) — head languages are downsampled to
    * their temperature share; tail languages whose share should GROW
    * saturate at keep-all, with the residual emitted as `up_factor`
    * (q_l*N/n_l, the repetition multiplier an upsampling epoch sampler
    * would apply — this operator only ever drops rows, never clones).
    * The keep decision is the `mix32` uniform u(doc_id) < r_l: hash-based
    * and engine-portable, so reruns reproduce the exact corpus (rates
    * rounded to 1e-6 so both engines compare the same literal).
    *
    * Scale shape: per-language counts are one tiny aggregate; rates come
    * back as a broadcast lang-keyed join (bounded by #languages); the
    * keep test is per-row column math — the corpus itself never
    * shuffles. */
  def temperatureSample(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val langCol = coalesce(col("lang"), lit("und"))
    val u = mix32(col("doc_id"), 1597334677L) / lit(4294967296.0)
    documents
      .select(col("doc_id"), langCol.as("lang"))
      .join(broadcast(temperatureRates(documents, alpha)), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("rate"), col("up_factor"),
        (u < col("rate")).as("kept"))
  }

  /** the p^alpha rate table shared by `temperatureSample` (drop side) and
    * `epochUpsample` (copy side): per language, `up_factor` = q_l·N/n_l
    * (6-dp rounded so recomputes rank identically) and `rate` = its
    * keep-capped value min(1, up_factor). q_l = p_l^alpha / sum(p^alpha);
    * the total and the normalizer are 1-row scalars — labeled lazy
    * broadcast joins (q52's shape); the table itself is one row per
    * language, always broadcast. */
  private def temperatureRates(documents: DataFrame, alpha: Double): DataFrame = {
    val langCol = coalesce(col("lang"), lit("und"))
    val counts = documents.groupBy(langCol.as("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val withP = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_docs")).as("n_total"))))
      .withColumn("p", col("n_docs").cast("double") / col("n_total"))
    withP
      .crossJoin(broadcast(withP.agg(sum(pow(col("p"), lit(alpha))).as("z"))))
      .withColumn("q", pow(col("p"), lit(alpha)) / col("z"))
      .withColumn("up_factor", round(col("q") * col("n_total") / col("n_docs"), 6))
      .select(col("lang"), round(least(col("up_factor"), lit(1.0)), 6).as("rate"),
        col("up_factor"))
  }

  /** deterministic EPOCH materializer — the upsampling half of the
    * temperature-resampling contract (`temperatureSample` is drop-only
    * and reports the residual up_factor; this op SPENDS it): every
    * document of language l is emitted floor(u_l) times plus one more
    * when the per-doc uniform falls below frac(u_l), so the expected
    * copy count per lang-l doc is exactly u_l = q_l·N/n_l and the
    * materialized epoch hits the p^alpha target mixture in expectation —
    * the XLM-R/mT5 sample-with-replacement epoch (Conneau et al. 2020
    * §3.1) made deterministic. The draw reuses temperatureSample's mix32
    * salt, so for head languages (u_l < 1, base 0) the one-copy test IS
    * q73's kept test — the two surfaces can never disagree on the drop
    * set. Docs drawing zero copies are absent from the epoch BY CONTRACT
    * (this epoch's downsample losers; the temperatureSample surface
    * carries the kept/rate accounting for every doc). Emitted rows:
    * (doc_id, lang, up_factor, n_copies, copy 0..n_copies-1).
    *
    * Scale shape: the rate table is a lang-keyed broadcast; copies come
    * from ONE per-row explode(sequence(...)) fused into the scan — the
    * corpus never shuffles, and the epoch size is Σ u_l·n_l ≈ N rows
    * regardless of skew (up_factor is bounded by the rarest language's
    * share, not by any per-key hot spot). */
  def epochUpsample(documents: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val langCol = coalesce(col("lang"), lit("und"))
    val u = mix32(col("doc_id"), 1597334677L) / lit(4294967296.0)
    documents
      .select(col("doc_id"), langCol.as("lang"))
      .join(broadcast(temperatureRates(documents, alpha)), Seq("lang"))
      .withColumn("n_copies",
        (floor(col("up_factor")) +
          when(u < col("up_factor") - floor(col("up_factor")), 1L).otherwise(0L))
          .cast("long"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("up_factor"), col("n_copies"),
        explode(sequence(lit(0L), col("n_copies") - 1L)).as("copy"))
  }

  /** Trained model-based quality classifier — the "quality filter" of
    * CCNet (Wenzek et al. 2020, fastText vs Wikipedia), GPT-3 (Brown et
    * al. 2020 App. A, logistic regression vs WebText) and DCLM (Li et al.
    * 2024, fastText OH-2.5+ELI5): logistic regression over unigram+bigram
    * TERM-FREQUENCY features, trained with `iters` fixed-step batch
    * gradient-descent passes on labeled SEED documents, then scored over
    * the whole corpus with a keep threshold. Distinct from `dsirScore`
    * (generative count-ratio, closed form): this one is DISCRIMINATIVE —
    * weights are fit to separate the seed sets, the lifecycle every
    * published pipeline uses (small curated positive seed + corpus-sample
    * negative seed, score everything).
    *
    * Determinism: tokenization is lower+trim+whitespace; features are
    * token strings (or hashed buckets, below); initial weights are zero;
    * the step is plain batch GD (gradient averaged over the N seed docs
    * that have >=1 feature), so the whole fit is closed-form arithmetic —
    * an unrolled-SQL engine reproduces it value-exactly (the q74 oracle
    * does, 3 iterations). `learnRate` absorbs the tf feature scale
    * (features are O(1/doc_len)): the default separates planted signal on
    * 50-200-token docs in 3 iterations; it is a step SIZE, not a schedule.
    * If a doc is flagged both seed-pos and seed-neg, pos wins. Docs with
    * zero features score sigmoid(0)=0.5 (no evidence rejects nothing at
    * the default threshold); `kept` compares the ROUNDED prob (6 dp) so
    * both engines decide from the same literal.
    *
    * Scale shape: seed sets are small by construction (the published
    * recipe trains on 10^5-10^6 docs, not the corpus), so under
    * `localSeedCap` feature rows the GD fit runs driver-locally after one
    * collect (the bounded-training lifecycle the ANN index builders use);
    * above the cap the distributed loop persists the seed feature table
    * once and each iteration joins it to the vocab-sized weight table (NO
    * broadcast hint — seeds can be wide, AQE decides; `hashBuckets > 0`
    * bounds the vocab at a fixed size for the 10^12-row regime, exactly
    * dsirScore's hashed-feature variant) with the weight table
    * lineage-cut per iteration so the loop's plan stays flat.
    * The corpus-wide TOKEN EXPLOSION happens exactly once (the scoring
    * pass: explode -> left-join weights -> per-doc sum); the corpus TABLE
    * itself is scanned three times — the seed filter (predicate pushed to
    * the scan, reads only seed rows), the scoring pass, and the flags side
    * of the final doc_id equi-join (the same join shape as dsirScore's
    * output assembly) — so plan for 2 narrow scans + 1 scoring pass +
    * 1 doc_id shuffle at the 10^12-row regime, not 1 scan. */
  def qualityClassifier(
      documents: DataFrame,
      isSeedPos: Column,
      isSeedNeg: Column,
      iters: Int = 3,
      learnRate: Double = 3000.0,
      threshold: Double = 0.5,
      hashBuckets: Int = 0,
      localSeedCap: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = wsTokens
    val feat = hashedFeat(hashBuckets)
    // per-doc feature rows with tf weight x = count(f) / n_features;
    // n_features = |unigrams| + |bigrams| = 2*len-1 (len>=2), len else.
    // hashBuckets == 0 (identity features, every surface here): a typed
    // kernel counts each doc's features in one pass and emits the
    // PRE-AGGREGATED (doc_id, y, f, x) rows — the former explode +
    // interpreted bigram transform + groupBy shuffled ~3x the rows.
    // Value-identical: count map iteration order never reaches the
    // output (rows are keyed), x = cnt.toDouble / nf like the cast
    // division. Hashed-bucket mode keeps the expression path (its
    // xxhash64-bucket column is Catalyst-defined).
    def featureTable(frame: DataFrame): DataFrame =
      if (hashBuckets > 0) {
        val nf = when(size(col("t")) >= 2, size(col("t")) * 2 - 1)
          .otherwise(size(col("t")))
        frame
          .withColumn("nf", nf)
          .select(col("doc_id"), col("y"), col("nf"),
            explode(concat(col("t"), TextOps.wordGramsOverT(2))).as("f0"))
          .groupBy(col("doc_id"), col("y"), col("nf"), feat(col("f0")).as("f"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("doc_id"), col("y"), col("f"),
            (col("cnt").cast("double") / col("nf")).as("x"))
      } else {
        frame.select(col("doc_id").cast("long"), col("y"), col("t"))
          .as[(Long, Double, Array[String])]
          .flatMap { case (id, y, t) =>
            val len = t.length
            if (len == 0) Iterator.empty
            else {
              val nf = (if (len >= 2) len * 2 - 1 else len).toDouble
              val counts = new java.util.HashMap[String, Long]()
              var i = 0
              while (i < len) {
                counts.merge(t(i), 1L, (a, b) => a + b)
                if (i + 1 < len) counts.merge(t(i) + " " + t(i + 1), 1L, (a, b) => a + b)
                i += 1
              }
              val it = counts.entrySet().iterator()
              new Iterator[(Long, Double, String, Double)] {
                def hasNext: Boolean = it.hasNext
                def next(): (Long, Double, String, Double) = {
                  val e = it.next()
                  (id, y, e.getKey, e.getValue.toDouble / nf)
                }
              }
            }
          }
          .toDF("doc_id", "y", "f", "x")
      }
    val seeds = documents
      .filter(isSeedPos || isSeedNeg)
      .select(col("doc_id"), when(isSeedPos, 1.0).otherwise(0.0).as("y"), toks.as("t"))
    // seed sets are small by construction (the published recipe trains on
    // 10^5-10^6 docs, not the corpus), so under `localSeedCap` FEATURE
    // rows the whole GD fit runs driver-locally after one collect — the
    // same bounded-training lifecycle as the ANN index builders — instead
    // of 2 shuffled joins + a lineage cut per iteration. Rows are
    // processed in canonical (doc_id, f) order, so the fit is
    // deterministic; the distributed loop below remains the over-cap path
    // (localSeedCap <= 0 forces it, which the parity test uses). The cap
    // gate is a count over the cache BOTH fits read (not a limit(cap+1)
    // collect): an over-cap seed set never pays a cap-sized driver pull,
    // the featurization job runs exactly once either way, and a count
    // cannot silently truncate when the cap exceeds the Int.MaxValue
    // collect limit.
    val trainXDf = featureTable(seeds)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w: DataFrame = try {
      if (localSeedCap > 0 && trainXDf.count() <= localSeedCap) {
        val probe = trainXDf.as[(Long, Double, String, Double)].collect()
        require(probe.nonEmpty, "qualityClassifier needs at least one non-empty seed document")
        val rows = probe.sortBy(r => (r._1, r._3))
      val wts = scala.collection.mutable.HashMap.empty[String, Double]
      rows.foreach(r => wts.getOrElseUpdate(r._3, 0.0))
      var nSeeds = 0
      var i0 = 0
      while (i0 < rows.length) {
        if (i0 == 0 || rows(i0)._1 != rows(i0 - 1)._1) nSeeds += 1
        i0 += 1
      }
      var itn = 0
      while (itn < iters) {
        // per-doc sigmoid over the doc's contiguous run, then the batch
        // gradient per feature accumulated in row order — the exact math
        // of the distributed joins (and of the unrolled-SQL oracle)
        val probByDoc = scala.collection.mutable.LongMap.empty[Double]
        var i = 0
        while (i < rows.length) {
          val d = rows(i)._1
          var s = 0.0
          var j = i
          while (j < rows.length && rows(j)._1 == d) { s += rows(j)._4 * wts(rows(j)._3); j += 1 }
          probByDoc(d) = 1.0 / (1.0 + math.exp(-s))
          i = j
        }
        val grad = scala.collection.mutable.HashMap.empty[String, Double]
        rows.foreach { r =>
          grad(r._3) = grad.getOrElse(r._3, 0.0) + (probByDoc(r._1) - r._2) * r._4
        }
        // independent per-feature updates: map iteration order is irrelevant
        grad.foreach { case (f, g) => wts(f) = wts(f) - learnRate * g / nSeeds }
        itn += 1
      }
        wts.toSeq.sortBy(_._1).toDF("f", "wt")
      } else qualityClassifierDistributedFit(trainXDf, iters, learnRate)
    } finally trainXDf.unpersist()
    // corpus-wide scoring: the one pass that touches every document;
    // features unseen in training carry weight 0
    val allX = featureTable(
      documents.select(col("doc_id"), lit(0.0).as("y"), toks.as("t")))
    val probs = allX
      .join(w, Seq("f"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * coalesce(col("wt"), lit(0.0))).as("s"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6).as("prob"))
    documents
      .select(col("doc_id"), isSeedPos.as("is_seed_pos"), isSeedNeg.as("is_seed_neg"))
      .join(probs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("is_seed_pos"), col("is_seed_neg"),
        coalesce(col("prob"), lit(0.5)).as("prob"),
        (coalesce(col("prob"), lit(0.5)) >= lit(threshold)).as("kept"))
  }

  /** the distributed GD loop — the over-cap fallback of
    * `qualityClassifier` (seed feature table too large for one driver
    * collect): 2 shuffled joins + a lineage-cut weight table per
    * iteration, seed features persisted once. */
  /** over-cap GD fit. `trainX` arrives PERSISTED by the caller (which
    * also releases it in a finally, covering the no-seeds require and any
    * job failure inside the loop — no leaked seed cache in a long
    * session); every pass below reads that cache. */
  private def qualityClassifierDistributedFit(
      trainX: DataFrame, iters: Int, learnRate: Double): DataFrame = {
    val w = {
      // N = seed docs with >=1 feature (zero-token seeds contribute no
      // gradient mass and are excluded from the average on both engines)
      val nSeeds = trainX.select(col("doc_id")).distinct().count()
      require(nSeeds > 0, "qualityClassifier needs at least one non-empty seed document")
      // lazy zero-init: iteration 1's cut pins the first MATERIALIZED
      // weights, so an extra eager job just to checkpoint a table of
      // zeros would be pure launch overhead (the distinct reads the
      // already-persisted trainX)
      var wk = trainX.select(col("f")).distinct().withColumn("wt", lit(0.0))
      for (_ <- 1 to iters) {
        val p = trainX.join(wk, Seq("f"))
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(col("x") * col("wt")).as("s"))
          .select(col("doc_id"), col("y"),
            (lit(1.0) / (lit(1.0) + exp(-col("s")))).as("p"))
        val grad = trainX.select(col("doc_id"), col("f"), col("x"))
          .join(p, Seq("doc_id"))
          .groupBy(col("f"))
          .agg(sum((col("p") - col("y")) * col("x")).as("gs"))
        // grad's support == trainX's vocab every iteration (trainX is
        // static), so an inner join loses nothing
        wk = Checkpoints.cut(
          wk.join(grad, Seq("f"))
            .select(col("f"),
              (col("wt") - lit(learnRate) * col("gs") / lit(nSeeds.toDouble)).as("wt")))
      }
      wk
    }
    w
  }

  /** host-graph centrality — weighted PageRank over the host->host link
    * graph, the seed-list/reputation signal the CommonCrawl ecosystem
    * publishes (host-level harmonic-centrality/PageRank ranks) and the
    * RefinedWeb/FineWeb family consumes as a curation prior: a host
    * linked by many well-linked hosts outranks a content farm that only
    * links to itself. Complements [[sourceQualityPrior]] (which judges a
    * host by its own pages); this judges a host by who links to it.
    *
    * Semantics (K fixed rounds, no convergence test — deterministic):
    * total mass M = 1e12 integer units over N hosts (the union of edge
    * endpoints); r0 = M div N for every host; each round
    * `r'(v) = ((100-d) * (M div N)) div 100
    *        + (d * (inflow(v) + dangling div N)) div 100`
    * where inflow(v) sums each in-edge's share of its source's rank
    * `share = w * (r div outw) + ((r mod outw) * w) div outw`
    * (== floor(r*w/outw), decomposed so every intermediate fits a
    * 64-bit long), `outw` is the source host's total out-weight, and
    * `dangling` is the summed rank of hosts with no out-edges
    * (redistributed uniformly, the standard dangling-node rule).
    *
    * Exactness: every operation is floor-division/mod on non-negative
    * longs — order-independent, no float summation anywhere — so any
    * SQL engine recomputes bit-identical ranks (the q77 micro-unit
    * discipline applied to an iterative fixpoint, unrolled like q74's
    * GD iterations). Mass is not exactly conserved (floors leak a few
    * units per round); that loss is deterministic too.
    *
    * Scale shape: the graph is HOST-pair-sized, not document-sized —
    * the web is ~10^8 hosts / ~10^10 aggregated host edges, far below
    * the 10^12-doc corpus. Duplicate (src,dst) rows are pre-aggregated
    * once (one shuffle) and the aggregated edge table + the host base
    * are lineage-cut and reused across rounds; each round is one
    * equi-join on src + one partial-combined groupBy on dst + a
    * broadcast of the 1-row dangling aggregate — the connectedComponents
    * round shape, lineage-cut every round.
    *
    * Cap rule: the edge table's row count rides its cut; at or under
    * [[Checkpoints.localEdgeCap]] aggregated edges one collect brings it
    * to the driver, the rounds run there in the same exact longs and the
    * result is a driver-local frame (on small graphs the distributed
    * rounds are one-task jobs whose scheduling outweighs their
    * arithmetic); above it the distributed rounds run.
    *
    * The per-host out-weight must stay below ~3e9
    * (sqrt(Long.MaxValue), enforced) so the share decomposition cannot
    * overflow; aggregated host->host weights sit orders of magnitude
    * under that, and a caller with a pathological megahub caps weights
    * first.
    *
    * Input: (src string, dst string, weight long>0 — rows with
    * weight<=0 are dropped); output one row per host in the edge
    * universe: (host, out_weight, rank_e12 long, rank double =
    * rank_e12/1e12). */
  def hostRank(edges: DataFrame, iterations: Int = 3, dampingPct: Int = 85): DataFrame =
    rankFixpoint(edges, None, iterations, dampingPct)
      .select(col("host"), col("out_weight"), col("rank_e12"), col("rank"))

  /** host-tier assignment — the TIER EXTRACTION last mile: fold a host
    * centrality table ([[hostRank]] / [[trustRank]] output) into ordinal
    * quality tiers by rank percentile, then stamp every document with its
    * host's tier. This is how seed-list curation actually consumes
    * centrality (FineWeb/CCNet-style: tier 1 = head hosts that anchor the
    * corpus, middle tiers sampled, tail tiers filtered or heavily
    * downweighted) — downstream mixture ops (q69/q73) take tiers, not raw
    * ranks.
    *
    * Tier rule, exact integer math end-to-end: hosts are totally ordered
    * by (rank_e12 desc, host asc) and 1-based ranked; host is tier i
    * (1-based) when `rnk * 100 <= cut_i * n_hosts` for the i-th percent
    * cut (default cuts 10/50: top 10% -> tier 1, next 40% -> tier 2, rest
    * -> tier 3). No percentile/float quantile anywhere, so any engine
    * reproduces the boundaries exactly. Documents whose host is outside
    * the ranked universe get tier 0 (unranked — a curation signal itself);
    * NULL source folds to "unknown" (the [[hostRank]] surface convention).
    *
    * Scale shape: ranking is a distributed sort + zipWithIndex over the
    * HOST table (host-cardinality, ~10^8 — never a single-partition
    * window), a driver-side sort under the cap (see [[hostTierTable]]);
    * the doc stamp is one join of the corpus's (doc_id, host) pairs
    * against the host-tier table — broadcastable whenever the host
    * table fits, and AQE decides (no forced hint). Document text never
    * moves. */
  def hostTiers(hostRanks: DataFrame, documents: DataFrame,
      tierPctCuts: Seq[Int] = Seq(10, 50)): DataFrame = {
    val hostTier = hostTierTable(hostRanks, tierPctCuts)
    documents
      .select(col("doc_id"), coalesce(col("source"), lit("unknown")).as("host"))
      .join(hostTier, Seq("host"), "left_outer")
      .select(col("doc_id"), col("host"),
        coalesce(col("rank_e12"), lit(0L)).as("rank_e12"),
        coalesce(col("rnk"), lit(0L)).as("rnk"),
        coalesce(col("tier"), lit(0)).as("tier"))
  }

  /** the host-level (host, rank_e12, rnk, tier) table behind [[hostTiers]]
    * and [[hostDossier]] — ONE ranking + tier-boundary implementation, so
    * the per-document stamp and the per-host export cannot diverge.
    *
    * Cap rule: at or under `localCap` hosts (default
    * [[Checkpoints.localHostCap]]; the count rides the input's cut, and a
    * driver-local input such as [[hostRank]]'s under-cap result is read
    * with no job) the hosts are sorted and numbered on the driver and the
    * table is driver-local; above it the distributed sort runs.
    * `localCap <= 0` forces the distributed sort (the parity tests). */
  private[graft] def hostTierTable(hostRanks: DataFrame, tierPctCuts: Seq[Int],
      localCap: Long = Checkpoints.localHostCap): DataFrame = {
    require(tierPctCuts.nonEmpty && tierPctCuts == tierPctCuts.sorted &&
      tierPctCuts.forall(p => p > 0 && p < 100),
      s"tierPctCuts must be ascending percents in (0,100), got $tierPctCuts")
    val spark = hostRanks.sparkSession
    import spark.implicits._
    // equal-rank hosts tie-break in UTF-8 code-point order like the
    // oracle's ORDER BY (Java's UTF-16 compareTo diverges for
    // supplementary-plane vs [U+E000,U+FFFF] hosts) — the same explicit
    // ordering hostClusteredShards uses
    implicit val tieOrd: Ordering[(Long, String)] = new Ordering[(Long, String)] {
      def compare(a: (Long, String), b: (Long, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else compareCodePoints(a._2, b._2)
      }
    }
    // the input is cut (or read) FIRST: RDD.sortBy executes its parent
    // twice (the range-partitioner sample pass, then the sort)
    val (hr, n, local) = Checkpoints.gate(
      hostRanks.select(col("host").cast("string").as("host"),
        col("rank_e12").cast("long").as("rank_e12")),
      localCap)
    val ranked = local match {
      case Some(rows) =>
        val sorted = rows.map(r => (r.getString(0), r.getLong(1)))
          .sortBy { case (h, r) => (-r, h) }(tieOrd)
        spark.createDataset(sorted.toSeq.zipWithIndex.map {
          case ((h, r), i) => (h, r, i + 1L)
        }).toDF("host", "rank_e12", "rnk")
      case None =>
        // distributed sort once, persisted; the per-partition counts job
        // (the pass zipWithIndex would run anyway) gives the offsets
        val sorted = hr
          .as[(String, Long)].rdd
          .sortBy({ case (h, r) => (-r, h) })(tieOrd, implicitly)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val counts = sorted.mapPartitions(
          it => Iterator.single(it.size.toLong), preservesPartitioning = true).collect()
        val offsets = counts.scanLeft(0L)(_ + _)
        sorted.mapPartitionsWithIndex({ case (pi, it) =>
            var i = offsets(pi)
            it.map { case (h, r) => i += 1L; (h, r, i) }
          }, preservesPartitioning = true)
          .toDF("host", "rank_e12", "rnk")
    }
    val tier = tierPctCuts.zipWithIndex.foldRight(lit(tierPctCuts.size + 1): Column) {
      case ((pct, i), acc) =>
        when(col("rnk") * 100 <= lit(pct.toLong) * n, lit(i + 1)).otherwise(acc)
    }
    ranked.withColumn("tier", tier.cast("int"))
  }

  /** the seed-list EXPORT of the tier-extraction pipeline — what a
    * curation team actually hands the crawler and the mixture planner:
    * ONE row per host of (rank universe ∪ link-graph universe ∪ corpus
    * sources) carrying centrality (rank_e12 + ordinal rnk), the
    * integer-percentile tier, the structural link-spam signals
    * (degrees/weights/reciprocity from [[graft.ops.LinkOps.hostGraphStats]])
    * and the corpus footprint (n_docs). Hosts missing from a side carry
    * that side's explicit zero (tier 0 = unranked, 0 degrees = not in the
    * graph, 0 docs = linked-to but never crawled — each absence is itself
    * a curation signal).
    *
    * Scale shape: every input is host- or edge-cardinality (documents are
    * folded to per-host counts in one partial-combined aggregate before
    * any join; text never moves); two full-outer equi-joins on the host
    * key assemble the dossier, AQE free to broadcast the small sides. */
  def hostDossier(hostRanks: DataFrame, edges: DataFrame,
      documents: DataFrame, tierPctCuts: Seq[Int] = Seq(10, 50)): DataFrame = {
    val tiers = hostTierTable(hostRanks, tierPctCuts)
    val stats = graft.ops.LinkOps.hostGraphStats(edges)
    val docsPerHost = documents
      .select(coalesce(col("source"), lit("unknown")).as("host"))
      .groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
    tiers.join(stats, Seq("host"), "full_outer")
      .join(docsPerHost, Seq("host"), "full_outer")
      .select(col("host"),
        coalesce(col("rank_e12"), lit(0L)).as("rank_e12"),
        coalesce(col("rnk"), lit(0L)).as("rnk"),
        coalesce(col("tier"), lit(0)).as("tier"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_weight"), lit(0L)).as("out_weight"),
        coalesce(col("in_weight"), lit(0L)).as("in_weight"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        coalesce(col("reciprocity"), lit(0.0)).as("reciprocity"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Seeded PageRank — TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB
    * 2004): identical power iteration to [[hostRank]] except the teleport
    * vector is restricted to a curated SEED set — mass enters the graph
    * only at trusted hosts and flows outward along endorsement edges, so
    * a spam cluster unreachable from the seeds scores ~0 however densely
    * it interlinks itself. The standard web-curation complement to raw
    * centrality (rank says "important"; trust says "important AND
    * reachable from vetted ground").
    *
    * Same exact-integer semantics as [[hostRank]] with N replaced by S =
    * |seeds ∩ universe|: r0 = (M div S) on seeds / 0 elsewhere; each
    * round a seed gets `((100-d)*(M div S)) div 100 + (d*(inflow +
    * dang div S)) div 100` and a non-seed `(d*inflow) div 100`; dangling
    * mass returns to the seeds (the paper's teleport-to-seed rule).
    * With seeds = the whole universe this IS hostRank, bit for bit —
    * both run the same [[rankFixpoint]] core, so the two builders
    * cannot diverge.
    *
    * `seeds`: one string column `host`; rows not in the edge universe
    * are ignored (a seed list is curated against a larger web than any
    * one crawl); at least one seed must be present in the universe.
    * Seed lists are small (hundreds to low thousands) — the flag join
    * broadcasts.
    *
    * Output: (host, out_weight, is_seed, rank_e12 long, rank double). */
  def trustRank(edges: DataFrame, seeds: DataFrame, iterations: Int = 3,
      dampingPct: Int = 85): DataFrame =
    rankFixpoint(edges, Some(seeds), iterations, dampingPct)

  /** shared exact-integer power-iteration core of [[hostRank]] /
    * [[trustRank]]; `seeds` = None means teleport-everywhere (S = N).
    * Semantics + scale shape documented on hostRank above.
    *
    * Cap rule: the aggregated edge table's row count rides its cut as an
    * Observation; at or under `localCap` edges (default
    * [[Checkpoints.localEdgeCap]]) the edges (and seed hosts) are
    * collected and the rounds run on the driver in exact longs
    * ([[rankLocal]]), returning a driver-local frame; above it every round
    * is one distributed join + aggregate, lineage-cut per round.
    * `localCap <= 0` forces the distributed rounds (the parity tests). */
  private[graft] def rankFixpoint(edges: DataFrame, seeds: Option[DataFrame],
      iterations: Int, dampingPct: Int,
      localCap: Long = Checkpoints.localEdgeCap): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val (e, _, local) = Checkpoints.gate(
      edges.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"),
          col("weight").cast("long").as("weight"))
        .filter(col("src").isNotNull && col("dst").isNotNull && col("weight") > 0)
        .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight")),
      localCap)
    local match {
      case Some(rows) => rankLocal(e.sparkSession, rows, seeds, iterations, dampingPct)
      case None => rankDistributed(e, seeds, iterations, dampingPct)
    }
  }

  private val rankMass = 1000000000000L

  private def noSeedMsg =
    "no seed host appears in the edge universe; trust cannot enter the graph"

  private def outwBoundMsg(maxOutw: Long) =
    s"per-host out-weight $maxOutw exceeds the exact-arithmetic bound 3e9; " +
      "cap edge weights before ranking"

  /** dense driver-side ids for the string (src, dst) columns 0 and 1 of
    * collected edge rows: (hosts by id, src ids, dst ids) */
  private def hostIndex(rows: Array[org.apache.spark.sql.Row])
      : (scala.collection.IndexedSeq[String], Array[Int], Array[Int]) = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val hosts = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(h: String): Int = ids.getOrElseUpdate(h, { hosts += h; hosts.size - 1 })
    val src = rows.map(r => id(r.getString(0)))
    val dst = rows.map(r => id(r.getString(1)))
    (hosts, src, dst)
  }

  /** [[rankFixpoint]]'s rounds on the driver over the collected
    * (src, dst, weight) rows: the same long arithmetic, guards and
    * empty-graph result as [[rankDistributed]], row for row. */
  private def rankLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row], seeds: Option[DataFrame],
      iterations: Int, dampingPct: Int): DataFrame = {
    import spark.implicits._
    val (hosts, src, dst) = hostIndex(rows)
    val w = rows.map(_.getLong(2))
    val n = hosts.size
    val outw = new Array[Long](n)
    for (k <- src.indices) outw(src(k)) += w(k)
    val seed = seeds match {
      case Some(sd) if n > 0 =>
        // a projection + filter of a driver-local seed table folds into
        // it, so such a seed list collects without a job
        val keys = sd.select(col("host").cast("string").as("host"))
          .filter(col("host").isNotNull).collect().map(_.getString(0)).toSet
        hosts.map(keys).toArray
      case _ => Array.fill(n)(true) // no seed list, or no universe to seed
    }
    var r = new Array[Long](n)
    if (n > 0) {
      val nSeeds = seed.count(identity).toLong
      require(nSeeds > 0L, noSeedMsg)
      val maxOutw = outw.max
      require(maxOutw <= 3000000000L, outwBoundMsg(maxOutw))
      val r0 = rankMass / nSeeds
      val basePart = ((100L - dampingPct) * r0) / 100L
      r = seed.map(sd => if (sd) r0 else 0L)
      for (_ <- 1 to iterations) {
        var dang = 0L
        for (i <- 0 until n) if (outw(i) == 0L) dang += r(i)
        val infl = new Array[Long](n)
        for (k <- src.indices) {
          val rs = r(src(k)); val o = outw(src(k))
          infl(dst(k)) += w(k) * (rs / o) + ((rs % o) * w(k)) / o
        }
        r = Array.tabulate(n) { i =>
          (if (seed(i)) basePart else 0L) +
            (dampingPct * (infl(i) + (if (seed(i)) dang / nSeeds else 0L))) / 100L
        }
      }
    }
    val out = (0 until n).map(i => (hosts(i), outw(i), seed(i), r(i), r(i) / 1e12))
    spark.createDataset(out).toDF("host", "out_weight", "is_seed", "rank_e12", "rank")
  }

  /** [[rankFixpoint]]'s distributed rounds over the cut edge table `e`. */
  private def rankDistributed(e: DataFrame, seeds: Option[DataFrame],
      iterations: Int, dampingPct: Int): DataFrame = {
    val outBySrc = e.groupBy(col("src")).agg(sum(col("weight")).as("outw"))
    val universe = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val hosts = universe.join(outBySrc, universe("host") === outBySrc("src"), "left")
      .select(col("host"), coalesce(col("outw"), lit(0L)).as("outw"))
    val flagged = seeds match {
      case None => hosts.withColumn("seed", lit(true))
      case Some(sd) =>
        val keys = sd.select(col("host").cast("string").as("seed_host"))
          .filter(col("seed_host").isNotNull).distinct()
        hosts.join(broadcast(keys), col("host") === col("seed_host"), "left")
          .select(col("host"), col("outw"), col("seed_host").isNotNull.as("seed"))
    }
    // bounded scalars FUSED into the cut's materialization job via
    // Observation (the connectedComponents discipline; OpsSpec asserts
    // the metric fires below both cut shapes): N, S, the overflow guard,
    // and the count of dangling seeds — which closes round 1's dangling
    // mass in closed form (r0 * |{seed ∧ outw=0}|).
    val statsObs = org.apache.spark.sql.Observation("rank_stats")
    val base = Checkpoints.cut(flagged.observe(statsObs,
      count(lit(1)).as("n"),
      coalesce(sum(when(col("seed"), 1L).otherwise(0L)), lit(0L)).as("s"),
      max(col("outw")).as("mx"),
      coalesce(sum(when(col("seed") && col("outw") === 0, 1L).otherwise(0L)),
        lit(0L)).as("dseeds")))
    val stats = Checkpoints.observed(statsObs) {
      base.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("seed"), 1L).otherwise(0L)), lit(0L)).as("s"),
        max(col("outw")).as("mx"),
        coalesce(sum(when(col("seed") && col("outw") === 0, 1L).otherwise(0L)),
          lit(0L)).as("dseeds")).head()
    }
    val n = stats.getLong(0)
    if (n == 0L)
      return base.select(col("host"), col("outw").as("out_weight"),
        col("seed").as("is_seed"), lit(0L).as("rank_e12"), lit(0.0).as("rank"))
    val nSeeds = stats.getLong(1)
    require(nSeeds > 0L, noSeedMsg)
    val maxOutw = if (stats.isNullAt(2)) 0L else stats.getLong(2)
    require(maxOutw <= 3000000000L, outwBoundMsg(maxOutw))
    val r0 = rankMass / nSeeds
    val basePart = ((100L - dampingPct) * r0) / 100L
    var ranks = base.withColumn("r",
      when(col("seed"), lit(r0)).otherwise(lit(0L)))
    // dangling mass entering round 1: every dangling host holds r0 if
    // seed else 0 — exact closed form off the fused stats. Later rounds
    // read the PREVIOUS round's dangling sum as a 1-row broadcast over
    // that round's cut table.
    val dang1 = r0 * stats.getLong(3)
    for (it <- 1 to iterations) {
      val inflow = e.join(ranks, e("src") === ranks("host"))
        .select(col("dst"),
          (col("weight") * expr("r div outw") +
            expr("((r % outw) * weight) div outw")).as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("infl"))
      val hosts = ranks.select(col("host"), col("outw"), col("seed"))
      val (withDang, dangSql) =
        if (it == 1) (hosts, s"CAST($dang1 AS BIGINT)")
        else (hosts.crossJoin(broadcast(ranks.agg(
          coalesce(sum(when(col("outw") === 0, col("r")).otherwise(0L)), lit(0L))
            .as("dang")))), "dang")
      ranks = withDang
        .join(inflow, col("host") === inflow("dst"), "left")
        .select(col("host"), col("outw"), col("seed"),
          (when(col("seed"), lit(basePart)).otherwise(lit(0L)) +
            expr(s"($dampingPct * (coalesce(infl, CAST(0 AS BIGINT)) " +
              s"+ (CASE WHEN seed THEN $dangSql div CAST($nSeeds AS BIGINT) " +
              s"ELSE CAST(0 AS BIGINT) END))) div 100")).as("r"))
      // a cut per round: each round's table is read ~3x by the next, so
      // a lazy chain would grow the plan ~3^rounds (and the re-referenced
      // host-sized subtrees cost more than the cut at this scale)
      if (it < iterations) ranks = Checkpoints.cut(ranks)
    }
    ranks.select(col("host"), col("outw").as("out_weight"),
      col("seed").as("is_seed"), col("r").as("rank_e12"),
      (col("r") / lit(1e12)).as("rank"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over the host link
    * graph — the classic complement to [[hostRank]]: PageRank says
    * "endorsed", HITS separates ENDORSERS (hubs — directories, curated
    * link lists, "awesome" pages) from the ENDORSED (authorities). Seed
    * curation wants both: authorities anchor the corpus, hubs are where
    * new authorities get discovered.
    *
    * Semantics (K fixed rounds, mutual recursion in the classic order —
    * authorities from the PREVIOUS hubs, hubs from the NEW authorities):
    * edges are DEDUPED, unweighted (one endorsement per (src,dst) pair —
    * HITS's adjacency is boolean; a repeated link is the same
    * endorsement) with self-loops dropped; scores live in integer
    * micro-units of M = 1e12.
    *   h0 = M div N on every host; a0 = 0 (overwritten by round 1)
    *   a_k(v) = (Σ_{u→v} h_{k-1}(u)) div D,  D = 1 + (T div M),
    *            T = Σ_v Σ_{u→v} h_{k-1}(u)
    *   h_k(u) = (Σ_{u→v} a_k(v)) div D' (same divisor rule on its own T')
    * The divisor normalization replaces the float L1/L2 normalization:
    * it keeps every score table summing to <= M (so every raw sum fits a
    * long) using ONLY floor division on non-negative longs — every step
    * is order-independent, so any SQL engine recomputes bit-identical
    * scores (the q83 micro-unit discipline applied to the mutual
    * fixpoint, unrolled like q83's rounds in the oracle).
    *
    * Overflow bound: each score <= M, so a raw sum <= M * maxDegree and
    * the per-round totals T <= M * maxDegree; maxDegree (in OR out, on
    * the deduped graph) is enforced <= 1e6, keeping T under 1e18 <
    * Long.MaxValue. Real host graphs sit far under that; a caller with a
    * 10^6-degree megahub caps edges first (the q101 maxOutDeg role).
    *
    * Scale shape: the graph is host-pair-sized, never document-sized.
    * Per round: two equi-joins edge⋈scores + two partial-combined
    * groupBys — the rankFixpoint round shape doubled, each half-round's
    * total a 1-row broadcast aggregate, the scores lineage-cut per round.
    *
    * Cap rule (the [[rankFixpoint]] one): the deduped edge count rides
    * the edge cut; at or under [[Checkpoints.localEdgeCap]] edges the
    * rounds run on the driver in the same exact longs over one collect
    * and the result is a driver-local frame; above it the distributed
    * rounds run.
    *
    * Input: (src, dst) string edges (extra columns ignored; NULL
    * endpoints and self-loops drop — "" is an ordinary host, the
    * rankFixpoint edge-cleaning contract, so hits and hostRank see the
    * same universe on the same input). Output one row per host in the
    * edge universe: (host, hub_e12 long, auth_e12 long, hub double =
    * hub_e12/1e12, auth double). */
  def hits(edges: DataFrame, iterations: Int = 2): DataFrame =
    hits(edges, iterations, Checkpoints.localEdgeCap)

  /** [[hits]] with an explicit driver-local cap: `localCap <= 0` forces
    * the distributed rounds (the parity tests). */
  private[graft] def hits(edges: DataFrame, iterations: Int, localCap: Long): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val (e, _, local) = Checkpoints.gate(
      edges.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct(),
      localCap)
    local match {
      case Some(rows) => hitsLocal(e.sparkSession, rows, iterations)
      case None => hitsDistributed(e, iterations)
    }
  }

  private def maxDegMsg(maxDeg: Long) =
    s"max in/out degree $maxDeg exceeds the exact-arithmetic bound 1e6; " +
      "cap edges before scoring"

  /** [[hits]]' rounds on the driver over the collected deduped (src, dst)
    * rows: the same divisor normalization, guard and empty-graph result
    * as [[hitsDistributed]], row for row. */
  private def hitsLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row], iterations: Int): DataFrame = {
    import spark.implicits._
    val m = rankMass
    val (hosts, src, dst) = hostIndex(rows)
    val n = hosts.size
    var hub = Array.fill(n)(m / n)
    var auth = new Array[Long](n)
    if (n > 0) {
      val deg = new Array[Long](2 * n) // out-degrees, then in-degrees
      for (k <- src.indices) { deg(src(k)) += 1; deg(n + dst(k)) += 1 }
      val maxDeg = deg.max
      require(maxDeg <= 1000000L, maxDegMsg(maxDeg))
    }
    // one half-round: raw sums along the edges (from -> to), then the
    // `div (1 + (T div M))` normalization on their total T
    def half(from: Array[Int], to: Array[Int], score: Array[Long]): Array[Long] = {
      val raw = new Array[Long](n)
      for (k <- from.indices) raw(to(k)) += score(from(k))
      val d = 1L + raw.sum / m
      raw.map(_ / d)
    }
    for (_ <- 1 to iterations) {
      auth = half(src, dst, hub)
      hub = half(dst, src, auth)
    }
    val out = (0 until n).map(i =>
      (hosts(i), hub(i), auth(i), hub(i) / 1e12, auth(i) / 1e12))
    spark.createDataset(out).toDF("host", "hub_e12", "auth_e12", "hub", "auth")
  }

  /** [[hits]]' distributed rounds over the cut deduped edge table `e`. */
  private def hitsDistributed(e: DataFrame, iterations: Int): DataFrame = {
    val m = rankMass
    // universe + both degree bounds in ONE aggregate (no degree joins):
    // each endpoint occurrence contributes 1 to its host's out/in degree,
    // so the grouped sums ARE the degrees and the group count IS
    // |universe|; the bounded scalars ride the cut's materialization job
    // as an Observation (the rankFixpoint consolidation)
    val statsObs = org.apache.spark.sql.Observation("hits_stats")
    val universe = Checkpoints.cut(
      e.select(col("src").as("host"), lit(1L).as("od"), lit(0L).as("id"))
        .union(e.select(col("dst").as("host"), lit(0L).as("od"), lit(1L).as("id")))
        .groupBy(col("host"))
        .agg(sum(col("od")).as("od"), sum(col("id")).as("id"))
        .observe(statsObs, count(lit(1)).as("n"),
          max(greatest(col("od"), col("id"))).as("maxDeg")))
    val stats = Checkpoints.observed(statsObs) {
      universe.agg(count(lit(1)).as("n"),
        max(greatest(col("od"), col("id"))).as("maxDeg")).head()
    }
    val n = stats.getLong(0)
    if (n == 0L)
      return universe.select(col("host"), lit(0L).as("hub_e12"),
        lit(0L).as("auth_e12"), lit(0.0).as("hub"), lit(0.0).as("auth"))
    val maxDeg = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    require(maxDeg <= 1000000L, maxDegMsg(maxDeg))
    // `div (1 + (T div M))`: the divisor normalization — exact floor
    // division, keeps the score table's sum <= M for the next round.
    // Each round-total T is an in-plan 1-row broadcast aggregate; AQE
    // exchange reuse materializes each half-round's raw-score exchange
    // once (the total aggregate and the score join read the same
    // exchange).
    val norm = s"div (1 + (t div CAST($m AS BIGINT)))"
    var scores = universe.select(col("host"))
      .withColumn("hub", lit(m / n)).withColumn("auth", lit(0L))
    for (it <- 1 to iterations) {
      val aRaw = e.join(scores.select(col("host").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("a_raw"))
      val ta = aRaw.agg(coalesce(sum(col("a_raw")), lit(0L)).as("t"))
      val auth = scores.select(col("host"))
        .join(aRaw, col("host") === aRaw("dst"), "left")
        .crossJoin(broadcast(ta))
        .select(col("host"),
          expr(s"coalesce(a_raw, CAST(0 AS BIGINT)) $norm").as("auth"))
      val hRaw = e.join(auth.select(col("host").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("auth")).as("h_raw"))
      val th = hRaw.agg(coalesce(sum(col("h_raw")), lit(0L)).as("t"))
      scores = auth.select(col("host"), col("auth"))
        .join(hRaw, col("host") === hRaw("src"), "left")
        .crossJoin(broadcast(th))
        .select(col("host"),
          expr(s"coalesce(h_raw, CAST(0 AS BIGINT)) $norm").as("hub"),
          col("auth"))
      // a cut per round, as in rankFixpoint: a lazy hub+auth chain
      // multiplies the plan every round
      if (it < iterations) scores = Checkpoints.cut(scores)
    }
    scores.select(col("host"), col("hub").as("hub_e12"), col("auth").as("auth_e12"),
      (col("hub") / lit(1e12)).as("hub"), (col("auth") / lit(1e12)).as("auth"))
  }

  /** exact bounded-radius harmonic centrality over the host graph — the
    * metric Common Crawl actually publishes its host/domain rankings by
    * (harmonic centrality, Boldi/Vigna "Axioms for centrality" 2014):
    * `H(v) = Σ_{u≠v, d(u,v)≤maxDist} 1/d(u,v)` over INCOMING shortest
    * paths, truncated at `maxDist` (distant nodes contribute ≤ 1/d and
    * the truncation error vanishes as the radius grows).
    *
    * Exactness: per-pair contributions are summed in integer micro-units
    * (`scale div d` where scale = lcm(1..maxDist) — exactly divisible,
    * so the sum is an exact long and order-independent; the q77
    * discipline), with ONE IEEE division at the end.
    *
    * Scale shape + honest bound: round k is one equi-join of the
    * frontier with the edge table + distinct + anti-join against known
    * pairs — the pair-state is Σ|B_k(v)|, fine for bounded radii on
    * sparse graphs but quadratic on dense ones. This exact form is the
    * ORACLE BASELINE (the q14 role); the 100 TB path is
    * [[harmonicCentralityApprox]] (HyperBall — the q15 role), whose
    * per-node state is a constant-size HLL sketch regardless of ball
    * size. Same exact/approx split Common Crawl itself uses.
    *
    * Input: (src, dst) edges (weights ignored — distance is hop count).
    * Output: (host, n_reached long — |{u: d(u,host)<=maxDist}|,
    * harm_num long — Σ scale div d, harmonic double = harm_num/scale). */
  def harmonicCentrality(edges: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 1 && maxDist <= 12,
      s"maxDist must be in [1,12], got $maxDist")
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val scale = (1 to maxDist).foldLeft(1L)((l, k) => l / gcd(l, k) * k)
    // fixed tiny round count, no per-round action: build the WHOLE loop
    // as one lazy plan and let AQE stage reuse dedupe the repeated
    // subtrees (identical exchanges run once) — the caller's single
    // adaptive action replaces a cut job per round, and nothing is
    // registered in the CacheManager
    val e = edges.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct()
    var known = e.withColumn("d", lit(1))
    var frontier = known
    for (k <- 2 to maxDist) {
      val step = e.select(col("src").as("e_src"), col("dst").as("e_dst"))
      val next = frontier.join(step, frontier("dst") === col("e_src"))
        .select(col("src"), col("e_dst").as("dst")).distinct()
        .filter(col("src") =!= col("dst"))
        .join(known.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
        .withColumn("d", lit(k))
      frontier = next
      known = known.unionByName(frontier)
    }
    val universe = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    val harm = known.groupBy(col("dst").as("h"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr(s"CAST($scale AS BIGINT) div d")).as("harm_num"))
    universe.join(harm, universe("host") === col("h"), "left")
      .select(col("host"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("harm_num"), lit(0L)).as("harm_num"),
        (coalesce(col("harm_num"), lit(0L)) / lit(scale.toDouble)).as("harmonic"))
  }

  /** HyperBall (Boldi/Vigna WSDM 2013) — harmonic centrality by
    * HyperLogLog ball sketches, THE web-scale algorithm (Common Crawl's
    * published rankings are computed this way): each node carries one
    * constant-size HLL sketch of the set of nodes that reach it; round
    * k replaces every ball with the union of its in-neighbors' balls
    * and itself (register-wise max — associative, partial-aggregable),
    * and the harmonic sum accumulates `(|B_k| - |B_{k-1}|) / k`.
    *
    * Per-round cost: one equi-join edge⋈ball + ONE partial-combined
    * `hll_union_agg` groupBy — sketch-sized state per node regardless
    * of ball size (vs [[harmonicCentrality]]'s exact pair-state, which
    * is the small-graph oracle this is gated against). Spark-native
    * Datasketches HLL (`hll_sketch_agg`/`hll_union_agg`), fully
    * codegen-compatible, deterministic for a fixed lgK.
    *
    * Output: (host, est_reached double — |B_maxDist| estimate,
    * harmonic_approx double). Estimates are exact below the sketch's
    * sparse threshold (small balls), ~1/sqrt(2^lgK) relative error
    * beyond. */
  def harmonicCentralityApprox(edges: DataFrame, maxDist: Int = 3,
      lgK: Int = 12): DataFrame = {
    require(maxDist >= 1 && maxDist <= 12,
      s"maxDist must be in [1,12], got $maxDist")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4,21], got $lgK")
    // same lazy-plan + AQE-stage-reuse shape as [[harmonicCentrality]]
    val e = edges.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct()
    val universe = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct()
    // ball_0 = {self}: universe hosts are distinct, so the groupBy
    // builds one single-element sketch per node
    var ball = (
      universe.groupBy(col("host"))
        .agg(hll_sketch_agg(col("host"), lit(lgK)).as("sketch"))
        // hll_sketch_estimate returns a rounded LONG; carry it as double
        .withColumn("est", hll_sketch_estimate(col("sketch")).cast("double"))
        .withColumn("harm", lit(0.0)))
    for (k <- 1 to maxDist) {
      val pulled = e.join(ball, e("src") === ball("host"))
        .select(col("dst").as("host"), col("sketch"))
        .unionByName(ball.select(col("host"), col("sketch")))
        .groupBy(col("host"))
        .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))
      ball = (
        ball.select(col("host").as("h"), col("est"), col("harm"))
          .join(pulled, col("h") === pulled("host"))
          .select(col("host"), col("sketch"),
            hll_sketch_estimate(col("sketch")).cast("double").as("new_est"),
            col("est"), col("harm"))
          .select(col("host"), col("sketch"),
            col("new_est").as("est"),
            (col("harm") +
              greatest(lit(0.0), col("new_est") - col("est")) / lit(k.toDouble))
              .as("harm")))
    }
    ball.select(col("host"), col("est").as("est_reached"),
      col("harm").as("harmonic_approx"))
  }

  /** URL path-template mining — the crawl-trap / infinite-space detector
    * every frontier scheduler runs before spending fetch budget: collapse
    * each URL's path to a digit-folded template (`/2024/03/15/post` ->
    * `/N/N/N/post`) and count how many distinct paths each (host,
    * template) pair generates. Calendar archives, session-id paths and
    * faceted-navigation traps show up as a single template with an
    * enormous distinct-path count; legitimate sections stay small.
    * Query strings are deliberately ignored (tracking-param noise is
    * q39's job); the path is the trap signal.
    *
    * Host/path extraction is pure RE2-expressible column math (any SQL
    * engine recomputes it exactly) — the column-math sibling of
    * LinkOps.hostOf: `scheme://<authority up to /?#>` lowercased, path =
    * everything after the authority up to `?`/`#`, "" -> "/". URLs with
    * no parseable scheme+host group under host "" (honest accounting,
    * same contract as LinkOps.outlinks' hostless srcs).
    *
    * Output one row per (host, path_template): n_urls, n_paths (distinct
    * concrete paths), sample_url (lexicographic min — a stable exemplar
    * for triage), is_trap = n_paths >= trapMinPaths.
    *
    * Scale shape: one scan, per-row regex math, ONE partial-combined
    * groupBy on (host, template) carrying a distinct-count partial —
    * template-cardinality-sized output, documents never move again. */
  def urlPatternStats(urls: DataFrame, trapMinPaths: Long = 100): DataFrame = {
    val u = coalesce(col("url").cast("string"), lit(""))
    val host = urlHostCol(u)
    val path = urlPathCol(u, host)
    urls.select(u.as("url"), host.as("host"),
        regexp_replace(path, "[0-9]+", "N").as("path_template"), path.as("path"))
      .groupBy(col("host"), col("path_template"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("path")).as("n_paths"),
        min(col("url")).as("sample_url"))
      .withColumn("is_trap", col("n_paths") >= trapMinPaths)
  }

  /** batch gap-based sessionization over an event log (a bounded table,
    * not an unbounded stream): consecutive events of one user belong to the
    * same session while the inter-event gap stays <= `gapSeconds`; a larger
    * gap starts a new session. This is how crawl-log / clickstream tables
    * are folded into per-visit rows before any engagement or curation
    * signal is computed from them.
    *
    * Determinism: the per-user order is the TOTAL order (ts, event_id) —
    * equal timestamps cannot flip sessions between engines (the ducktest
    * window-total-order rule). NULL-ts events are DROPPED up front: a
    * timestamp-less event has no place on a timeline, and engines disagree
    * on NULL sort position (Spark NULLS FIRST, SQL engines NULLS LAST), so
    * keeping them would make session numbering engine-dependent. Gap math
    * is exact integer microseconds
    * (unix_micros), value totals are exact integer cents (the q77
    * discipline: long sums are summation-order-independent; the input's
    * values carry 2 decimals so cents are exact).
    *
    * Output one row per (user_id, session_id): session_id is the per-user
    * 1-based ordinal by time, with start/end, n_events and value_cents.
    *
    * Scale shape: ONE hash shuffle by user_id; the session-break lag
    * window, the running-sum window AND the per-(user, session) aggregate
    * all reuse that partitioning (session_seq is a refinement of the
    * user hash — Spark satisfies their ClusteredDistribution from the
    * subset key, so no second Exchange). Per-user data is never
    * materialized as one in-memory blob beyond the sort, and the sort is
    * the disk-backed shuffle sort — hot users spill, not OOM. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be > 0, got $gapSeconds")
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("tus").asc, col("event_id").asc)
    val w = Window.partitionBy(col("user_id")).orderBy(order: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("tus"), 1).over(w)
    events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        // NTZ-safe: cast to TIMESTAMP first (event tables are commonly
        // TIMESTAMP_NTZ); the cast interprets naive values in the session
        // timezone — a constant offset under a fixed-offset zone, which
        // CANCELS in the gap differences. Run sessions under UTC (Verify
        // does) if the log straddles a DST transition.
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .as("tus"),
        round(coalesce(col("value"), lit(0.0)) * 100, 0).cast("long").as("cents"))
      .withColumn("brk",
        when(prev.isNull || col("tus") - prev > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), sum(col("cents")).as("value_cents"))
  }

  /** two-snapshot crawl diff — the CDX-style revisit classification run
    * between consecutive crawls of the same URL space: which URLs appeared,
    * disappeared, changed content, or stayed byte-identical. The churn
    * table drives refetch scheduling (changed URLs get revisited sooner)
    * and incremental curation (only added/changed docs re-enter the
    * pipeline — the batch analog of Dedup's incremental snapshot ops).
    *
    * Content identity is md5 over the exact text (NULL folds to "" — both
    * engines agree on md5('')), so any SQL engine recomputes the verdict.
    * Each side is first collapsed to one row per URL (min hash — a crawl
    * snapshot SHOULD be URL-unique; duplicate fetches fold
    * deterministically rather than exploding the join).
    *
    * Output: (url, old_hash, new_hash, status) with status in
    * added | gone | changed | unchanged.
    *
    * Scale shape: two partial-combined per-URL aggregates, then ONE
    * full-outer sort-merge join keyed by url. Hashes (16 bytes) move, text
    * never does — the join payload is O(urls), not O(corpus bytes). At
    * recurring-diff scale, bucket both snapshots by url to make the join
    * co-located and exchange-free. */
  def crawlDelta(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def side(df: DataFrame, hashCol: String) = df
      .select(coalesce(col("url").cast("string"), lit("")).as("url"),
        md5(coalesce(col("text"), lit(""))).as("h"))
      .groupBy(col("url")).agg(min(col("h")).as(hashCol))
    side(oldSnap, "old_hash").join(side(newSnap, "new_hash"), Seq("url"), "full_outer")
      .select(col("url"), col("old_hash"), col("new_hash"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "gone")
          .when(col("old_hash") === col("new_hash"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** curation funnel audit — the per-stage survivor accounting every
    * published pipeline reports (C4/Gopher/CCNet/FineWeb all publish
    * "N% removed by stage X" tables): run an ORDERED list of named keep
    * predicates and attribute every document to the FIRST stage that
    * drops it, so stage counts sum to the corpus and the funnel is an
    * honest partition (evaluating stages independently would double-count
    * docs failing several filters and the percentages wouldn't reconcile).
    *
    * A predicate that evaluates to NULL (e.g. any length test on a NULL
    * text) DROPS the doc at that stage — curation treats unknown as fail,
    * and silently passing NULLs through would leak unfilterable rows into
    * the survivor count.
    *
    * Output: one row per stage, in order — (stage_idx int 1-based, stage
    * string, n_in long = docs entering the stage, n_dropped long, n_out
    * long, drop_pct double = round(n_dropped/n_in, 6), 0.0 when n_in=0).
    * The last row's n_out is the corpus the pipeline would keep.
    *
    * Scale shape: ONE corpus scan — the first-fail attribution is a
    * codegen'd CASE chain folded into a partial-combined groupBy whose
    * output is (nStages+1) rows, materialized once (lineage cut); the
    * corpus total is the SUM of that bounded table (first-fail is a
    * partition of the corpus, so no second scan), read driver-side as a
    * bounded scalar, and the cumulative window runs on the same bounded
    * table (single partition of <= nStages rows, not a corpus-sized
    * window). Document text never shuffles. */
  def curationFunnel(documents: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Checkpoints.cut(documents
      .select(firstFailStage(stages).as("first_fail"))
      .groupBy(col("first_fail")).agg(count(lit(1)).as("n")))
    // counts partitions the corpus (every doc has exactly one first_fail,
    // 0 included), so the total is a bounded-table sum — no second scan
    val nTotal = counts.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    val stagesDf = stages.zipWithIndex
      .map { case ((name, _), i) => (i + 1, name) }
      .toDF("stage_idx", "stage")
    val w = Window.orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    stagesDf
      .join(counts, col("stage_idx") === col("first_fail"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n"), lit(0L)).as("n_dropped"))
      .withColumn("n_in",
        lit(nTotal) - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .select(col("stage_idx"), col("stage"), col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_out"),
        when(col("n_in") === 0L, lit(0.0))
          .otherwise(round(col("n_dropped").cast("double") / col("n_in"), 6))
          .as("drop_pct"))
  }

  /** shared first-fail attribution of the funnel pair: the 1-based index
    * of the first stage whose keep-predicate is not TRUE (NULL == fail —
    * unknown never leaks into survivors), 0 = survived every stage. A
    * codegen'd CASE chain, evaluated once per doc. */
  private def firstFailStage(stages: Seq[(String, Column)]): Column = {
    require(stages.nonEmpty, "curationFunnel needs at least one stage")
    require(stages.map(_._1).distinct.size == stages.size,
      s"stage names must be unique, got ${stages.map(_._1)}")
    stages.zipWithIndex.foldRight(lit(0): Column) {
      case (((_, cond), i), acc) =>
        when(!coalesce(cond, lit(false)), lit(i + 1)).otherwise(acc)
    }
  }

  /** [[curationFunnel]] per group — the per-source/per-dump removal
    * table published pipelines actually report (FineWeb per CC dump,
    * CCNet per language/source shard): the same first-fail partition
    * accounting, one funnel per group, so a stage that guts ONE source
    * is visible instead of averaged away in the corpus-wide rate.
    *
    * `groupCol` is any string-castable column of `documents` (NULL folds
    * to "unknown", the corpus-wide surface convention). Output: one row
    * per (group, stage) — (grp, stage_idx, stage, n_in, n_dropped,
    * n_out, drop_pct), the q105 columns keyed by grp; every group
    * reports every stage (zero-drop stages included, so funnels align
    * across groups).
    *
    * Scale shape: still ONE corpus scan — the groupBy key gains the
    * group column, so the bounded table is (nGroups x (nStages+1)) rows
    * (group cardinality is the OUTPUT size; hosts/dumps, not documents),
    * materialized once; per-group totals are sums over it, the stage
    * grid comes from exploding a literal array (no join, no cross
    * product), and the cumulative window partitions BY GROUP — parallel
    * across groups, nStages rows within each. */
  def curationFunnelByGroup(documents: DataFrame, groupCol: Column,
      stages: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Checkpoints.cut(documents
      .select(coalesce(groupCol.cast("string"), lit("unknown")).as("grp"),
        firstFailStage(stages).as("first_fail"))
      .groupBy(col("grp"), col("first_fail")).agg(count(lit(1)).as("n")))
    val totals = counts.groupBy(col("grp")).agg(sum(col("n")).as("n_total"))
    val stageArr = array(stages.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i + 1).as("stage_idx"), lit(name).as("stage"))
    }: _*)
    val grid = totals.select(col("grp"), col("n_total"),
        explode(stageArr).as("st"))
      .select(col("grp"), col("n_total"),
        col("st.stage_idx").as("stage_idx"), col("st.stage").as("stage"))
    val w = Window.partitionBy(col("grp")).orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .join(counts.withColumnRenamed("grp", "c_grp"),
        col("grp") === col("c_grp") && col("stage_idx") === col("first_fail"),
        "left")
      .select(col("grp"), col("stage_idx"), col("stage"),
        coalesce(col("n"), lit(0L)).as("n_dropped"), col("n_total"))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_dropped")).over(w), lit(0L)))
      .select(col("grp"), col("stage_idx"), col("stage"), col("n_in"),
        col("n_dropped"), (col("n_in") - col("n_dropped")).as("n_out"),
        when(col("n_in") === 0L, lit(0.0))
          .otherwise(round(col("n_dropped").cast("double") / col("n_in"), 6))
          .as("drop_pct"))
  }

  /** the ONE scheme://host extraction every URL-shaped op shares
    * (urlPatternStats, urlFeatures, fetchSchedule, templatePages,
    * SitemapOps.sitemapCoverage — and each op's DuckDB oracle restates
    * it literally): lowercased authority of an absolute URL, '' when
    * hostless/unparseable. Fixing URL parsing means fixing it HERE, or
    * the ops silently diverge on which hosts they group by. */
  private[ops] def urlHostCol(u: Column): Column =
    lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))

  /** the shared path extraction: '' for hostless rows (no path
    * identity), '/' for a bare host, else the raw path (query/fragment
    * excluded). */
  private[ops] def urlPathCol(u: Column, host: Column): Column = {
    val rawPath = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    when(host === "", lit(""))
      .otherwise(when(rawPath === "", lit("/")).otherwise(rawPath))
  }

  /** URL shape features — the zero-fetch quality/scheduling prior every
    * crawl pipeline computes BEFORE spending a request (RefinedWeb-style
    * URL filtering, frontier prioritization, media-asset skipping): all
    * codegen'd column math over the URL string, no kernel, no shuffle.
    * Output per row: host ('' when hostless/unparseable — such rows keep
    * flowing, zeroed, so corpus accounting holds), path_depth (non-empty
    * segments), path_len, n_params, has_tracking (the q39 TRACKING_PARAM
    * contract), digit_frac_e6 of the path (floor micro-units — calendar
    * traps and session-id paths run digit-heavy), ext (trailing
    * 1-5-alnum extension of the last segment, lowercased, '' when none)
    * and is_media (fetch-skippable asset extensions). */
  def urlFeatures(urls: DataFrame): DataFrame = {
    val u = coalesce(col("url").cast("string"), lit(""))
    val host = urlHostCol(u)
    val path = urlPathCol(u, host)
    // fragment stripped BEFORE locating '?' (RFC 3986: a '?' inside the
    // fragment is not a query — the q39 canonicalizeUrls order)
    val query = when(host === "", lit(""))
      .otherwise(regexp_extract(regexp_extract(u, "^([^#]*)", 1),
        "[?](.*)$", 1))
    val lastSeg = regexp_extract(path, "([^/]*)$", 1)
    val ext = lower(regexp_extract(lastSeg, "[.]([A-Za-z0-9]{1,5})$", 1))
    val digits = length(regexp_replace(path, "[^0-9]", ""))
    val mediaExts = Seq("jpg", "jpeg", "png", "gif", "webp", "svg", "ico",
      "mp4", "webm", "mp3", "wav", "css", "js", "woff", "woff2", "ttf")
    urls.select(col("doc_id").cast("long").as("doc_id"), u.as("url"),
        host.as("host"),
        size(filter(split(path, "/"), s => s =!= "")).cast("long").as("path_depth"),
        length(path).cast("long").as("path_len"),
        when(query === "", lit(0L))
          .otherwise(size(split(query, "&")).cast("long")).as("n_params"),
        // param-boundary anchored twin of the q39 TRACKING_PARAM contract
        query.rlike("(^|&)(utm_[^=&]*|ref|fbclid|gclid)(=|&|$)").as("has_tracking"),
        digits.cast("long").as("path_digits"),
        ext.as("ext"),
        ext.isin(mediaExts: _*).as("is_media"))
      // exact integer division (div, not double /): the e6 fraction must
      // floor identically in any engine, and a double quotient can round
      // across the integer boundary before truncation
      .withColumn("digit_frac_e6", when(col("path_len") === 0L, lit(0L))
        .otherwise(expr("(path_digits * 1000000) div path_len")))
      .drop("path_digits")
  }

  /** politeness-aware fetch schedule — the crawl-side consumer of
    * [[RobotsOps.robotsDirectives]]: given a frontier (doc_id, url) and
    * a per-host delay table (host, crawl_delay_ms), assign every URL a
    * per-host fetch ordinal and earliest fetch time (ordinal x delay,
    * exact integer ms). This is the plan a fetch fleet executes: one
    * queue per host, spaced by that host's declared (or default) delay;
    * the max(fetch_at_ms) per host is the host's crawl makespan — the
    * quantity frontier balancing actually optimizes.
    *
    * Determinism: per-host order is the TOTAL order (url asc, doc_id
    * asc) — equal URLs (snapshot duplicates) cannot flip ordinals
    * between engines (the ducktest window rule). Hostless/unparseable
    * URLs DROP (nothing to fetch); a host absent from the delay table
    * (or carrying a NULL delay) takes `defaultDelayMs`.
    *
    * Scale shape: ONE hash shuffle of (doc_id, url, host) by host for
    * the ranking window — rows are two short strings, never documents;
    * the delay join is host-cardinality-sized (AQE broadcasts it). The
    * per-host sort is the shuffle sort (hot hosts spill, not OOM). */
  def fetchSchedule(urls: DataFrame, delays: DataFrame,
      defaultDelayMs: Long = 1000L): DataFrame = {
    require(defaultDelayMs >= 0, s"defaultDelayMs must be >= 0, got $defaultDelayMs")
    import org.apache.spark.sql.expressions.Window
    val u = coalesce(col("url").cast("string"), lit(""))
    val frontier = urls
      .select(col("doc_id").cast("long").as("doc_id"), u.as("url"),
        urlHostCol(u).as("host"))
      .filter(col("host") =!= "")
    val d = delays
      .select(lower(col("host").cast("string")).as("host"),
        col("crawl_delay_ms").cast("long").as("crawl_delay_ms"))
      .filter(col("host").isNotNull)
      // one delay per host even if the directive table carries several
      // rows (robotsDirectives repeats the delay per sitemap): max = the
      // most conservative, consistent with that op's own merge rule
      .groupBy(col("host")).agg(max(col("crawl_delay_ms")).as("crawl_delay_ms"))
    val w = Window.partitionBy(col("host"))
      .orderBy(col("url").asc, col("doc_id").asc)
    frontier.join(d, Seq("host"), "left_outer")
      .select(col("doc_id"), col("url"), col("host"),
        coalesce(col("crawl_delay_ms"), lit(defaultDelayMs)).as("delay_ms"))
      .withColumn("fetch_seq", row_number().over(w).cast("long") - 1L)
      .withColumn("fetch_at_ms", col("fetch_seq") * col("delay_ms"))
  }

  /** template-page / soft-404 detection: within one host, groups of
    * byte-identical bodies served under MANY distinct paths — the
    * signature of error pages returned with status 200, login walls,
    * "this listing has expired" fillers and other template responses a
    * crawler can't distinguish by status code. The complementary signal
    * to [[urlPatternStats]] (there: one URL TEMPLATE with many paths —
    * a trap shape regardless of content; here: one BODY under many
    * paths — template content regardless of URL shape). No reference
    * analog (pdf_extractor.h:6); north_rule surface (crawl-hygiene
    * audit before the corpus-wide dedup spends budget on these).
    *
    * Output one row per (host, text_hash) group: n_docs, n_paths
    * (distinct paths serving that body), text_len, sample_url (min —
    * deterministic), is_template = n_paths >= minPaths. Hostless /
    * unparseable URLs are DROPPED: without a host there is no "within
    * host" identity (the q86 singleton discipline), and cross-host
    * identical bodies are q05 exact dedup's job, not a template signal.
    *
    * Scale shape: one projection computing (host, path, md5) — all
    * codegen'd column math, the 16-byte hash replaces the document in
    * every later stage exactly like q05 — then ONE partial-combined
    * aggregate keyed by (host, text_hash). Document text never
    * shuffles; countDistinct(path) expands the group rows 2x before the
    * exchange, bounded by URL count, not text size. */
  def templatePages(pages: DataFrame, minPaths: Long = 5L): DataFrame = {
    require(minPaths >= 1, s"minPaths must be >= 1, got $minPaths")
    val u = coalesce(col("url").cast("string"), lit(""))
    val host = urlHostCol(u)
    val path = urlPathCol(u, host)
    val txt = coalesce(col("text").cast("string"), lit(""))
    pages
      .select(u.as("url"), host.as("host"), path.as("path"),
        md5(txt).as("text_hash"), length(txt).cast("long").as("text_len"))
      .filter(col("host") =!= "")
      .groupBy(col("host"), col("text_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("path")).as("n_paths"),
        min(col("text_len")).as("text_len"),
        min(col("url")).as("sample_url"))
      .withColumn("is_template", col("n_paths") >= minPaths)
  }

  def lengthHistogram(documents: DataFrame, bucketWidth: Int = 100): DataFrame = {
    val bucketed = documents.select(col("source"),
      floor(col("n_chars").cast("double") / bucketWidth).cast("long").as("len_bucket"))
    val counts = bucketed.groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = bucketed.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    counts.join(totals, "source")
      .select(col("source"), col("len_bucket"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("share"))
  }

  /** EXACT per-source document-length percentiles by nearest-rank
    * (sorted ascending, percentile q = the value at 1-based index
    * ceil(q*n/100)) — the distribution report a curation run publishes
    * next to [[lengthHistogram]]'s buckets.
    *
    * Scale shape: the corpus collapses to (source, len, count) FIRST —
    * lengths are bounded-cardinality (a few thousand distinct values per
    * source at any corpus size), so the window scan runs over the compact
    * histogram, never the documents; docs contribute one count each and
    * nothing else shuffles. This is the exact-percentile plan that
    * survives 100 TB wherever the value domain is bounded;
    * [[lengthQuantilesSketch]] is the unbounded-domain fallback. All
    * arithmetic is integer (target rank = (q*n + 99) div 100), so any
    * SQL engine restates it value-exactly. */
  /** the ONE (source, len) projection behind both quantile ops — NULL
    * source folds to '', NULL text to len 0 — so the exact op and its
    * sketch twin (which OpsSpec diffs against each other) cannot diverge
    * on the value being summarized */
  private def sourceLenFrame(documents: DataFrame): DataFrame =
    documents.select(coalesce(col("source"), lit("")).as("source"),
      length(coalesce(col("text"), lit(""))).cast("long").as("len"))

  def lengthQuantiles(documents: DataFrame, qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100), s"bad percentiles $qs")
    import org.apache.spark.sql.expressions.Window
    val hist = sourceLenFrame(documents)
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy("len")
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("source")))
    val pcols = qs.map(q =>
      min(when(col("cum") >= expr(s"($q * n + 99) div 100"), col("len")))
        .as(s"p$q"))
    val aggs = max(col("n")).as("n_docs") +: pcols
    cum.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
  }

  /** the sketch twin of [[lengthQuantiles]]: per-source approximate
    * percentiles via Spark's built-in `percentile_approx` (a mergeable
    * Greenwald-Khanna-family summary — partial-combined map-side, fixed
    * size per group regardless of corpus size). This is the 100 TB path
    * when the value domain is NOT bounded (floating scores, byte sizes):
    * state is O(accuracy) per group vs the exact plan's O(distinct
    * values). Published guarantee: the returned value's rank is within
    * n/accuracy of the target rank — OpsSpec gates exactly that against
    * [[lengthQuantiles]]. Output mirrors the exact twin (p50/p90/p99
    * columns as longs) so the two frames diff directly. */
  def lengthQuantilesSketch(
      documents: DataFrame,
      qs: Seq[Int] = Seq(50, 90, 99),
      accuracy: Int = 10000): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100), s"bad percentiles $qs")
    val probs = qs.map(q => q / 100.0).mkString(", ")
    val approx = sourceLenFrame(documents)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"percentile_approx(len, array($probs), $accuracy)").as("ps"))
    qs.zipWithIndex.foldLeft(approx) { case (df, (q, i)) =>
      df.withColumn(s"p$q", element_at(col("ps"), i + 1).cast("long"))
    }.drop("ps")
  }

  /** EXACT per-host URL cardinality — the crawl-coverage report (how many
    * fetches, how many distinct pages) every snapshot publishes per host.
    * Unparseable/hostless URLs group under host "" (they are a curation
    * signal, not a row to silently drop).
    *
    * Scale shape: one hash-shuffle on host with map-side partial
    * aggregation; `count(DISTINCT url)` expands to the standard two-phase
    * (host, url) pre-distinct, so duplicate URLs collapse before the host
    * aggregate and the shuffle carries distinct pairs, not fetch logs.
    * At 10^12 rows the (host, url) distinct IS the dominant shuffle —
    * [[hostCardinalitySketch]] is the fixed-state path when distinct
    * counts per host are all a report needs. */
  /** the ONE (host, url) projection behind both cardinality ops: NULL
    * urls fold to '' (the unparseable-accounting bucket) BEFORE host
    * extraction, so the exact op and its sketch twin cannot diverge on
    * which bucket a row lands in */
  private def hostUrlFrame(urls: DataFrame): DataFrame =
    urls
      .select(coalesce(col("url").cast("string"), lit("")).as("url"))
      .select(urlHostCol(col("url")).as("host"), col("url"))

  def hostCardinality(urls: DataFrame): DataFrame =
    hostUrlFrame(urls)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_distinct"))

  /** the sketch twin of [[hostCardinality]]: distinct URLs per host via
    * Spark's built-in HyperLogLog++ (`approx_count_distinct`) — fixed
    * O(1/rsd^2) state per host, partial-combined map-side, so the shuffle
    * carries one sketch per (partition, host) regardless of URL count.
    * This is the 100 TB cardinality plan; the published guarantee is
    * relative standard deviation `rsd`, and OpsSpec gates observed error
    * against it (3*rsd) next to an exact recompute. */
  def hostCardinalitySketch(urls: DataFrame, rsd: Double = 0.02): DataFrame = {
    require(rsd > 0 && rsd < 1, s"rsd must be in (0,1), got $rsd")
    hostUrlFrame(urls)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        approx_count_distinct(col("url"), rsd).as("n_distinct_approx"))
  }

  /** recrawl scheduling from fetch history — the Cho/Garcia-Molina-shape
    * change-rate estimate a crawler runs to decide WHEN to refetch each
    * URL. Input: one row per observed fetch (url, fetch_ms long,
    * content_hash string). Per URL, in exact integer math:
    *  - n_fetches, n_changes (consecutive-fetch pairs, ordered by
    *    (fetch_ms, content_hash) for a deterministic total order, whose
    *    hash differs), span_ms = last - first fetch;
    *  - est_change_interval_ms = span_ms div n_changes when changes were
    *    observed, else 0 ("no observed change" is a value, not a guess);
    *  - next_fetch_ms = last_ms + max(est_change_interval_ms, 1) when
    *    changes were observed, else last_ms + defaultIntervalMs (the
    *    no-signal revisit policy).
    *
    * Scale shape: ONE exchange on url feeds both the lag window and the
    * final per-url aggregate (same partitioning key, no second shuffle);
    * only (url, ms, hash) rows move, never page content. */
  def recrawlSchedule(fetches: DataFrame, defaultIntervalMs: Long = 86400000L): DataFrame = {
    require(defaultIntervalMs > 0, s"defaultIntervalMs must be > 0, got $defaultIntervalMs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url").orderBy(col("fetch_ms"), col("content_hash"))
    fetches
      // NULL url folds to '' — the family's unparseable-accounting bucket
      // (hostCardinality's convention), not a null-keyed schedule row
      .select(coalesce(col("url").cast("string"), lit("")).as("url"),
        col("fetch_ms").cast("long").as("fetch_ms"),
        coalesce(col("content_hash").cast("string"), lit("")).as("content_hash"))
      .withColumn("chg",
        when(lag(col("content_hash"), 1).over(w).isNotNull &&
          lag(col("content_hash"), 1).over(w) =!= col("content_hash"), 1L)
          .otherwise(0L))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_fetches"),
        sum(col("chg")).as("n_changes"),
        (max(col("fetch_ms")) - min(col("fetch_ms"))).as("span_ms"),
        max(col("fetch_ms")).as("last_ms"))
      .withColumn("est_change_interval_ms",
        when(col("n_changes") > 0, expr("span_ms div n_changes")).otherwise(lit(0L)))
      .withColumn("next_fetch_ms",
        when(col("n_changes") > 0,
          col("last_ms") + greatest(col("est_change_interval_ms"), lit(1L)))
          .otherwise(col("last_ms") + lit(defaultIntervalMs)))
  }

  /** tier × language mixture crosstab — the analysis table the
    * tier-extraction pipeline exists to produce: for every (tier, lang)
    * cell, document count, character and whitespace-token mass, and the
    * cell's exact-integer share of the corpus (micro-units, floor — the
    * q77 cross-engine discipline). This is what a mixture planner reads
    * before setting per-tier sampling weights.
    *
    * Input: `docTiers` = [[hostTiers]] output (doc_id, tier, ...);
    * `documents` for lang/chars/tokens. Unranked docs (tier 0) stay in
    * the table — they are a mixture decision, not noise.
    *
    * Scale shape: one doc_id equi-join (both sides doc-keyed), one
    * partial-combined groupBy to a tier×lang-sized grid, then the share
    * divides against a broadcast 1-row total — no corpus-sized window,
    * no second corpus pass. */
  def tierMixture(docTiers: DataFrame, documents: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val d = documents.select(col("doc_id"),
      coalesce(col("lang"), lit("")).as("lang"),
      coalesce(col("n_chars"), lit(0L)).cast("long").as("n_chars"),
      TextOps.tokenCount(txt).cast("long").as("n_tokens"))
    val grid = Checkpoints.cut(docTiers.select(col("doc_id"), col("tier"))
      .join(d, Seq("doc_id"))
      .groupBy(col("tier"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens")))
    // total as a driver literal (grid is crosstab-sized and cut, so the
    // extra action is one bounded scan — and the share column stays a
    // codegen'd projection instead of a 1-row BNLJ crossJoin)
    val totalRow = grid.agg(sum(col("n_docs"))).collect()(0)
    val totalDocs = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    // totalDocs == 0 only when the grid is empty (no rows to project)
    val share = if (totalDocs == 0L) lit(0L)
      else expr(s"(n_docs * 1000000) div ${totalDocs}L")
    grid.withColumn("share_e6", share)
  }

  /** size-balanced output sharding — the writer-side packing that keeps
    * every training shard near-equal in bytes even under heavy document
    * skew (naive `hash(doc) % K` leaves whale shards; round-robin over an
    * UNsorted corpus does too). Items are totally ordered by (weight
    * desc, doc_id asc) and dealt serpentine ("snake draft"): block b =
    * rank0 div K takes shards left-to-right when b is even, right-to-left
    * when odd — each double-block gives every shard one heavy + one light
    * item, so shard totals stay within ~one max item of each other.
    * Deterministic, no RNG.
    *
    * Scale shape: the rank is a distributed sort + zipWithIndex over
    * (doc_id, weight) pairs — the [[hostTierTable]] discipline, never a
    * single-partition window; document text never moves. Output:
    * (doc_id, weight, rnk 1-based, shard 0-based). */
  /** the ONE serpentine ("snake draft") dealing rule behind
    * [[balancedShards]] and [[hostClusteredShards]] — both ops' oracles
    * restate exactly this: 0-based rank i, block i div K alternates
    * direction */
  private def serpentineShard(i: Long, nShards: Int): Long = {
    val pos = (i % nShards).toInt
    (if ((i / nShards) % 2 == 0) pos else nShards - 1 - pos).toLong
  }

  /** code-point string comparison — DuckDB/UTF-8 binary collation, NOT
    * Java's UTF-16-unit compareTo (the two diverge between supplementary-
    * plane chars and [U+E000, U+FFFF]): string tie-breaks in value-exact-
    * oracled rankings must compare like the oracle's ORDER BY */
  private[ops] def compareCodePoints(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  def balancedShards(items: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val spark = items.sparkSession
    import spark.implicits._
    // cut before the RDD sort: the range-partitioner sample pass would
    // otherwise execute the caller's weight derivation a second time
    // (the hostTierTable discipline)
    Checkpoints.cut(items
        .select(col("doc_id").cast("long"), col("weight").cast("long")))
      .as[(Long, Long)].rdd
      .sortBy({ case (id, wt) => (-wt, id) })
      .zipWithIndex()
      .map { case ((id, wt), i) =>
        (id, wt, i + 1L, serpentineShard(i, nShards))
      }
      .toDF("doc_id", "weight", "rnk", "shard")
  }

  /** corpus-wide quality deciles — the "top-N% by quality" stamp a
    * mixture planner cuts on: documents exact-ranked by the q13 heuristic
    * quality in integer micro-units (ties by doc_id), decile 1 = best
    * 10%. NULL text scores as empty text (quality 0.3 — an accounting
    * choice: the row keeps flowing with a rank instead of vanishing into
    * a NULL ordering).
    *
    * Scale shape: quality is per-row column math; the rank is the
    * [[hostTierTable]] discipline (distributed sort + zipWithIndex, no
    * single-partition window); the decile is a codegen'd projection with
    * the corpus count taken once from the cut ranked table. */
  /** per-SOURCE quality decile stamp (round-5 scoped surface): q154's
    * corpus-wide decile cut applied within each source — the view a
    * mixture planner uses to thin each source to its best N% without
    * letting a high-quality source crowd out the rest. Exact integer
    * micro-units (1e-6-rounded quality), rank by (quality desc, doc_id)
    * within source, decile 1 = the source's best 10%.
    *
    * Scale shape: ONE shuffle partitioned by source; the windows sort
    * within source partitions (external sort for giant sources — never a
    * corpus-wide single-partition window). A pathologically skewed
    * source degrades to one big external sort, the exact regime the
    * corpus-wide q154 avoids with sort+zipWithIndex; per-source ranks
    * have no cross-source order to exploit, so the window IS the plan. */
  def sourceQualityDeciles(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = documents.select(
      col("doc_id").cast("long").as("doc_id"),
      coalesce(col("source"), lit("unknown")).as("source"),
      round(TextOps.qualityScore(coalesce(col("text"), lit(""))) * 1000000)
        .cast("long").as("quality_e6"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_e6").desc, col("doc_id").asc)
    val n = Window.partitionBy(col("source"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("n_src", count(lit(1)).over(n))
      .select(col("doc_id"), col("source"), col("quality_e6"), col("rnk"),
        expr("((rnk - 1) * 10) div n_src + 1").as("decile"))
  }

  /** frontier fetch plan (round-5 composite q141 ∘ q121-shape ∘ q102):
    * per-URL recrawl schedule joined with its host's rank tier plus a
    * politeness sequence within host — the table a crawl scheduler
    * shards a round from. `schedule` = [[recrawlSchedule]] output
    * (url, next_fetch_ms); `hostTiers` = (host, tier) one row per host;
    * `hostOf` maps a url's authority to the tier table's host label.
    *
    * Scale shape: one equi-join on host (tier side is host-cardinality —
    * AQE broadcasts it) and one window partitioned by host ordered by
    * (next_fetch_ms, url) — the politeness order; planned_ms spaces
    * fetches `delayMs` apart from the URL's own earliest allowed time. */
  def fetchPlan(schedule: DataFrame, hostTiers: DataFrame,
      hostOf: Column => Column, delayMs: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sched = schedule.select(col("url"),
      col("next_fetch_ms").cast("long").as("next_fetch_ms"))
      .withColumn("host", hostOf(col("url")))
    val t = hostTiers.select(col("host").cast("string").as("host"),
      col("tier").cast("int").as("tier"))
    val w = Window.partitionBy(col("host"))
      .orderBy(col("next_fetch_ms").asc, col("url").asc)
    sched.join(t, Seq("host"), "left_outer")
      .select(col("url"), col("host"),
        coalesce(col("tier"), lit(0)).as("tier"), col("next_fetch_ms"))
      .withColumn("fetch_seq", row_number().over(w).cast("long") - 1L)
      .withColumn("planned_ms",
        col("next_fetch_ms") + col("fetch_seq") * lit(delayMs))
  }

  def qualityDeciles(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // the quality-scored projection is lineage-cut FIRST (RDD.sortBy's
    // range-partitioner sample pass would otherwise re-run the scoring
    // scan a second time — the hostTierTable discipline), and the total
    // rides that cut as an Observation, folding the former separate
    // count() job. sortBy/zipWithIndex pin their shuffle at build time,
    // so the ranked frame needs no second cut.
    val obs = org.apache.spark.sql.Observation("qdec_n")
    val scored = Checkpoints.cut(documents
      .select(col("doc_id").cast("long").as("doc_id"),
        round(TextOps.qualityScore(coalesce(col("text"), lit(""))) * 1000000)
          .cast("long").as("quality_e6"))
      .observe(obs, count(lit(1)).as("n")))
    val n = Checkpoints.observed(obs) {
      scored.agg(count(lit(1)).as("n")).head()
    }.getLong(0)
    val ranked = scored
      .as[(Long, Long)].rdd
      .sortBy({ case (id, qe) => (-qe, id) })
      .zipWithIndex()
      .map { case ((id, qe), i) => (id, qe, i + 1L) }
      .toDF("doc_id", "quality_e6", "rnk")
    if (n == 0L) ranked.withColumn("decile", lit(0L))
    else ranked.withColumn("decile", expr(s"((rnk - 1) * 10) div ${n}L + 1"))
  }

  /** tier-stratified corpus extraction — the LAST action of the tier
    * pipeline: keep every document of the top tier, thin the lower tiers
    * by deterministic rate (the [[stratifiedSample]] md5-bucket rule —
    * engine-portable, retry-stable, no RNG), producing the curated
    * corpus a mixture planner actually trains on. Tier 0 (unranked
    * hosts) gets its own explicit rate — unranked is a curation decision,
    * not an accident.
    *
    * Input: `docTiers` = [[hostTiers]] output. `pct256ByTier` maps tier
    * -> keep-rate in 256ths (256 = keep all, 0 = drop all); missing
    * tiers use `defaultPct256`.
    *
    * Scale shape: one codegen'd predicate over the stamped frame — no
    * shuffle, no join beyond what the tier stamp already did. */
  def tierSample(
      docTiers: DataFrame,
      pct256ByTier: Map[Int, Int] = Map(1 -> 256, 2 -> 128, 3 -> 26, 0 -> 0),
      defaultPct256: Int = 0,
      salt: String = "tier"): DataFrame = {
    require((defaultPct256 +: pct256ByTier.values.toSeq).forall(p => p >= 0 && p <= 256),
      s"rates must be in [0, 256]: $pct256ByTier / $defaultPct256")
    val hexByte = substring(md5(concat(col("doc_id").cast("string"), lit(":" + salt))), 1, 2)
    def keepFor(p: Int) =
      if (p >= 256) lit(true) else if (p <= 0) lit(false) else hexByte < lit(f"$p%02x")
    val pred = pct256ByTier.toSeq.sortBy(_._1).foldLeft(keepFor(defaultPct256)) {
      case (acc, (tier, p)) => when(col("tier") === tier, keepFor(p)).otherwise(acc)
    }
    docTiers.filter(pred).select(col("doc_id"), col("host"), col("tier"))
  }

  /** per-shard integrity manifest — the record a sharded writer commits
    * next to its output so a resume/verify pass can prove each shard is
    * complete without re-reading documents: doc count, weight mass, and
    * an ORDER-INDEPENDENT membership checksum (sum of per-id md5-derived
    * 60-bit values modulo 10^12 — the q36/q129 engine-portable hash
    * discipline, so any SQL engine recomputes it; order-independence
    * means the checksum is a plain partial-combined aggregate — no
    * per-shard id collection, no sort). At extreme shard cardinalities
    * the inner sum can exceed Long before the outer mod — keep shards
    * under ~9M docs per partial or add a second mod level; documented,
    * not hit at any test scale.
    *
    * Input: a shard assignment frame (doc_id, weight, shard) —
    * [[balancedShards]] / [[hostClusteredShards]] output shapes. */
  def shardManifest(assignments: DataFrame): DataFrame = {
    val m = 1000000000000L // 10^12: 60-bit hash folded to 40 bits of slack
    val idHash = pmod(
      conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(m))
    // two-level mod-sum: mod distributes over addition, so folding an
    // inner pmod over ~2^22 hash-keyed chunks leaves the checksum VALUE
    // identical to pmod(sum(idh), m) while moving the Long-overflow cliff
    // from ~9.2M docs/shard to ~10^12 (each chunk partial stays < 2^63
    // for < 9.2M rows per chunk; the outer sum is <= 2^22 * m ~ 4.2e18).
    // Order-independence is preserved — both levels are plain sums.
    val chunks = 4194304L // 2^22
    assignments
      .select(col("shard").cast("long").as("shard"),
        col("doc_id").cast("long").as("doc_id"),
        coalesce(col("weight"), lit(0L)).cast("long").as("weight"))
      .withColumn("idh", idHash)
      .groupBy(col("shard"), pmod(col("idh"), lit(chunks)).as("_chk"))
      .agg(count(lit(1)).as("_n"),
        sum(col("weight")).as("_w"),
        pmod(sum(col("idh")), lit(m)).as("_cs"))
      .groupBy(col("shard"))
      .agg(sum(col("_n")).as("n_docs"),
        sum(col("_w")).as("sum_weight"),
        pmod(sum(col("_cs")), lit(m)).as("ids_checksum"))
  }

  /** host-clustered size-balanced shards — [[balancedShards]]'s locality
    * variant: every document of a host lands in ONE shard (the locality
    * that makes per-host dedup, per-site boilerplate stats and politeness
    * batching shard-local), hosts dealt serpentine by total character
    * mass so shard byte totals stay near-equal despite host skew. The
    * corpus collapses to host weights first (host-cardinality, the
    * hostTierTable regime), hosts are exact-ranked (sort + zipWithIndex),
    * and documents take their host's shard by one equi-join — docs never
    * sort, text never moves. NULL source folds to 'unknown' (the
    * hostRank surface convention).
    *
    * Output: (doc_id, host, host_weight, shard). */
  def hostClusteredShards(documents: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val spark = documents.sparkSession
    import spark.implicits._
    val d = documents.select(col("doc_id").cast("long").as("doc_id"),
      coalesce(col("source"), lit("unknown")).as("host"),
      coalesce(col("n_chars"), lit(0L)).cast("long").as("n_chars"))
    // tie-break on the host STRING must compare like the oracle's ORDER
    // BY (UTF-8 code points), not Java's UTF-16 compareTo — hence the
    // explicit ordering
    implicit val hostOrd: Ordering[(Long, String)] = new Ordering[(Long, String)] {
      def compare(a: (Long, String), b: (Long, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c else compareCodePoints(a._2, b._2)
      }
    }
    // the host-weight aggregate is cut before the RDD sort: the
    // range-partitioner sample pass would otherwise run the corpus
    // aggregation a second time (the hostTierTable discipline)
    val hostShard = Checkpoints.cut(d.groupBy(col("host"))
        .agg(sum(col("n_chars")).as("host_weight")))
      .as[(String, Long)].rdd
      .sortBy({ case (h, wt) => (-wt, h) })(hostOrd, implicitly)
      .zipWithIndex()
      .map { case ((h, wt), i) =>
        (h, wt, serpentineShard(i, nShards))
      }
      .toDF("host", "host_weight", "shard")
    d.select(col("doc_id"), col("host"))
      .join(hostShard, Seq("host"))
      .select(col("doc_id"), col("host"), col("host_weight"), col("shard"))
  }
}
