package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Every serving path answers one query batch — the `nQueries` lowest
  * vec_ids — in at most three Spark jobs: one pull of the query vectors,
  * ONE typed pass over the corpus (or its codes table) in which each task
  * keeps, per query, a bounded heap of its best candidates (`TopK`), and,
  * on the approximate PQ paths, one bounded pull of the shortlisted
  * vectors for the exact rerank. The driver merges the per-task heaps and
  * returns the (query_id, neighbor_id, rank, cosine) rows as a local
  * frame.
  *
  *  - `bruteForceTopK` is the exactness baseline: every row is scored
  *    against every query.
  *  - `ivfTopKWithIndex` scores only rows whose coarse list a query
  *    probes; `lshTopK` only rows sharing a random-hyperplane bucket with
  *    a query in some table.
  *  - `pqTopKFromCodes`/`ivfPqTopKFromCodes` rank the codes by asymmetric
  *    distance (ADC) into a `k * rerank` shortlist, then rerank it exactly.
  */
object SimSearch {

  /** index-ordered double dot product (deterministic; matches the DuckDB
    * oracle's list_inner_product on ::DOUBLE[] exactly). Custom codegen'd
    * Catalyst expression — see graft.functions.DotProduct. */
  def dotCol(x: Column, y: Column): Column = graft.functions.DotProduct(x, y)

  /** cosine with precomputed self-dots: dot(a,b) / sqrt(dotAA * dotBB) */
  def cosineWithNorms(a: Column, b: Column, dotAA: Column, dotBB: Column): Column =
    dotCol(a, b) / sqrt(dotAA * dotBB)

  /** exact top-k neighbors for the `nQueries` lowest vec_ids (excluding self).
    * Output: (query_id, neighbor_id, rank, cosine); the two ids keep the
    * input's integral vec_id type. A NULL vec_id query matches no row; a
    * null embedding scores a NULL cosine, ranked last. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val live = queryRows(e, nQueries).as[(Option[Long], Array[Float])].collect()
      .collect { case (Some(id), v) => (id, v) }
    val top = exactTopK(e, live, k)(_ => (), (_: Unit, _: Int) => true)
    servedFrame(spark, live.map(_._1), top, e.schema("vec_id"))
  }

  // ---- serving: one partition-local top-k pass, merged on the driver --------

  /** a serving candidate; `known = false` is a NULL score */
  private[ops] final case class Cand(id: Long, score: Double, known: Boolean)

  /** Per-query bounded heaps of the best `cap` candidates in the serving
    * order (score DESC NULLS LAST, vec_id ASC): the order Spark's window
    * sort gives, with SQL double semantics — NaN sorts above every number
    * and -0.0 equals 0.0. Each heap's head is its WORST entry, so a
    * candidate that misses the cut costs one comparison. */
  private[ops] final class TopK(val nQueries: Int, val cap: Int) extends Serializable {
    private val heaps =
      Array.fill(nQueries)(scala.collection.mutable.PriorityQueue.empty[Cand](TopK.order))

    def offer(q: Int, id: Long, score: Double, known: Boolean): Unit = {
      val h = heaps(q)
      if (h.size < cap) h.enqueue(Cand(id, score, known))
      else if (cap > 0 && TopK.cmp(id, score, known, h.head) < 0) {
        h.dequeue()
        h.enqueue(Cand(id, score, known))
      }
    }

    /** folds `o`'s candidates into this one's heaps (returns this) */
    def merge(o: TopK): TopK = {
      for (q <- 0 until nQueries; c <- o.heaps(q)) offer(q, c.id, c.score, c.known)
      this
    }

    /** query `q`'s candidates in serving order */
    def ranked(q: Int): Array[Cand] = heaps(q).toArray.sorted(TopK.order)
  }

  private[ops] object TopK {
    /** < 0 iff candidate (id, score, known) ranks before `c` */
    def cmp(id: Long, score: Double, known: Boolean, c: Cand): Int = {
      val byScore =
        if (known != c.known) { if (known) -1 else 1 }
        else if (!known || score == c.score) 0
        else -java.lang.Double.compare(score, c.score)
      if (byScore != 0) byScore else java.lang.Long.compare(id, c.id)
    }

    val order: Ordering[Cand] = (a, b) => cmp(a.id, a.score, a.known, b)
  }

  /** the serving primitive: ONE job in which each task runs `scan` over its
    * rows into a fresh `TopK(nQueries, cap)`; the driver folds the task
    * heaps together as they arrive, so no stage holds more than
    * nQueries x cap candidates per heap */
  private def topKPass[T](rows: Dataset[T], nQueries: Int, cap: Int)(
      scan: (Iterator[T], TopK) => Unit): TopK =
    rows.rdd.mapPartitions { it =>
      val top = new TopK(nQueries, cap)
      scan(it, top)
      Iterator.single(top)
    }.fold(new TopK(nQueries, cap))(_ merge _)

  /** the query batch: the `nQueries` lowest vec_ids (NULLs first, as
    * `orderBy` sorts them), vec_id as long — decode and collect it (one
    * job) */
  private def queryRows(e: DataFrame, nQueries: Int): DataFrame =
    e.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

  /** index-ordered double dot product over the shorter length — the
    * `DotProduct` expression's arithmetic, so values are bit-identical */
  private[graft] def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[ops] def ansiEnabled(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.ansi.enabled").toBoolean

  /** cosine as `cosineWithNorms` evaluates it in SQL, given the self-dots:
    * null (SQL NULL) for a null vector; a zero norm product is a division
    * by zero, which fails the query under ANSI mode and is NULL otherwise */
  private[ops] def cosineOrNull(
      a: Array[Float], aa: Double, b: Array[Float], bb: Double, ansi: Boolean): java.lang.Double =
    if (a == null || b == null) null
    else {
      val den = math.sqrt(aa * bb)
      if (den != 0.0) dotF(a, b) / den
      else if (ansi) throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] Division by zero: cosine of a zero-norm embedding")
      else null
    }

  private[ops] def selfDot(v: Array[Float]): Double = if (v == null) 0.0 else dotF(v, v)

  /** exact serving: one typed pass over the corpus scores each vector that
    * `candidate(key(vector), query)` admits against that query (self
    * excluded), keeping the best `k` per query. A NULL vec_id row is never
    * a candidate. */
  private def exactTopK[K](
      e: DataFrame,
      queries: Array[(Long, Array[Float])],
      k: Int)(key: Array[Float] => K, candidate: (K, Int) => Boolean): TopK = {
    val spark = e.sparkSession
    import spark.implicits._
    val ansi = ansiEnabled(spark)
    val bcQ = spark.sparkContext.broadcast(queries.map { case (id, v) => (id, v, selfDot(v)) })
    val rows = e.filter(col("vec_id").isNotNull)
      .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
    try topKPass(rows, queries.length, k) { (it, top) =>
      val qs = bcQ.value
      it.foreach { case (id, x) =>
        val kx = key(x)
        val xx = selfDot(x)
        var q = 0
        while (q < qs.length) {
          val (qid, qv, qq) = qs(q)
          if (qid != id && candidate(kx, q)) {
            val c = cosineOrNull(qv, qq, x, xx, ansi)
            if (c == null) top.offer(q, id, 0.0, false) else top.offer(q, id, c, true)
          }
          q += 1
        }
      }
    } finally bcQ.destroy()
  }

  /** one bounded pull: the rows of `e` whose vec_id is in `ids`, grouped
    * by id (a duplicated vec_id keeps every row, as a join on it would) */
  private[ops] def pullVectors(e: DataFrame, ids: Iterable[Long]): Map[Long, Array[Array[Float]]] =
    if (ids.isEmpty) Map.empty
    else {
      import e.sparkSession.implicits._
      e.filter(col("vec_id").isin(ids.toSeq.distinct: _*))
        .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
        .collect().groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2) }
    }

  /** exact rerank of a merged approximate shortlist: one bounded pull of
    * the shortlisted vectors (at most nQueries x cap), exact cosines and
    * the final top `k` per query on the driver */
  private def rerankExact(
      e: DataFrame, queries: Array[(Long, Array[Float])], shortlist: TopK, k: Int): DataFrame = {
    val spark = e.sparkSession
    val ansi = ansiEnabled(spark)
    val lists = queries.indices.map(shortlist.ranked)
    val vecs = pullVectors(e, lists.flatMap(_.map(_.id)))
    val top = new TopK(queries.length, k)
    queries.indices.foreach { q =>
      val qv = queries(q)._2
      val qq = selfDot(qv)
      lists(q).foreach { cand =>
        vecs.getOrElse(cand.id, Array.empty[Array[Float]]).foreach { x =>
          val c = cosineOrNull(qv, qq, x, selfDot(x), ansi)
          if (c == null) top.offer(q, cand.id, 0.0, false) else top.offer(q, cand.id, c, true)
        }
      }
    }
    servedFrame(spark, queries.map(_._1), top, StructField("vec_id", LongType, nullable = false))
  }

  /** the served (query_id, neighbor_id, rank, cosine) rows as a local
    * frame (reading it runs no job); ids take `idField`'s integral type
    * and nullability, cosine is rounded to 6 places by Spark's `round` */
  private def servedFrame(
      spark: SparkSession, queryIds: Array[Long], top: TopK, idField: StructField): DataFrame = {
    val asId: Long => Any = idField.dataType match {
      case LongType => identity
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case t => throw new IllegalArgumentException(s"vec_id must be integral, got $t")
    }
    val rows = for {
      q <- queryIds.indices
      (c, r) <- top.ranked(q).zipWithIndex
    } yield Row(asId(queryIds(q)), asId(c.id), r + 1L, if (c.known) c.score else null)
    val schema = StructType(Seq(
      StructField("query_id", idField.dataType, idField.nullable),
      StructField("neighbor_id", idField.dataType, idField.nullable),
      StructField("rank", LongType, nullable = false),
      StructField("cosine", DoubleType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cosine"), 6).as("cosine"))
  }

  /** deterministic pseudo-gaussian hyperplanes: planes(j)(i) in [-1,1] */
  private[ops] def planes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (j, i) =>
      var z = seed + (j.toLong << 32) + i * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      z.toDouble / Long.MaxValue.toDouble
    }

  /** sign-pattern signature of one vector under one plane table: bit j
    * set iff emb·plane_j >= bias(j) — equivalent to sign((emb -
    * center)·plane_j) with bias = center·plane_j (all-zero bias: origin
    * hyperplanes). Array[Float] on purpose: the multi-table bucket pass
    * evaluates nTables x nBits x dim accesses per row, and Spark decodes a
    * Seq[Float] column as a linked List, so `emb(i)` walks i cells
    * (measured 5.1 s -> 0.6 s for the sf0.1 32-table bucket job). */
  private[ops] def signature(
      emb: Array[Float], table: Array[Array[Double]], bias: Array[Double]): Long = {
    var sig = 0L
    var j = 0
    while (j < table.length) {
      val plane = table(j)
      var dot = 0.0
      var i = 0
      val n = math.min(plane.length, emb.length)
      while (i < n) { dot += emb(i) * plane(i); i += 1 }
      if (dot >= bias(j)) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** (vec_id, table, bucket) rows — one narrow pass, nTables rows per vector */
  def lshBuckets(
      embeddings: DataFrame,
      nBits: Int = 12,
      nTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame =
    lshBuckets(embeddings, nBits, nTables, dim, seed, None)

  /** `center` variant: hyperplanes pass through the given point instead of
    * the origin — sign(x·p - center·p). Raw count/hash embeddings are
    * heavily correlated (every vector shares the vocabulary's sign mass),
    * so origin hyperplanes concentrate the corpus into a few sign
    * patterns and bucket occupancy goes quadratic; centering on the data
    * mean splits every bit ~50/50 (measured at sf0.1: max bucket 1830 ->
    * 283, candidate pairs 15.6M -> 0.52M at 12 bits x 16 tables).
    * Candidate GENERATION only — verification always scores the original
    * vectors, so reported cosines are unaffected. */
  def lshBuckets(
      embeddings: DataFrame,
      nBits: Int,
      nTables: Int,
      dim: Int,
      seed: Long,
      center: Option[Array[Double]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val tables = Array.tabulate(nTables)(t => planes(nBits, dim, seed + t))
    // bias(t)(j) = center·plane_j: sign(x·p - bias) == sign((x-c)·p), so
    // the per-row kernel stays one dot product per bit
    val biases: Array[Array[Double]] = center match {
      case None => Array.fill(nTables)(new Array[Double](nBits))
      case Some(c) => tables.map(_.map { plane =>
        var s = 0.0
        var i = 0
        val n = math.min(plane.length, c.length)
        while (i < n) { s += c(i) * plane(i); i += 1 }
        s
      })
    }
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        tables.iterator.zipWithIndex.map { case (tab, t) =>
          (id, t, signature(emb, tab, biases(t)))
        }
      }
      .toDF("vec_id", "table", "bucket")
  }

  /** per-dimension mean of the embedding column (dim-bounded result; one
    * partial-aggregated pass — the vectors never move) */
  def embeddingMean(embeddings: DataFrame, dim: Int): Array[Double] = {
    val rows = embeddings
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(avg(col("x")).as("m"))
      .collect()
    val out = new Array[Double](dim)
    rows.foreach(r => { val i = r.getInt(0); if (i < dim) out(i) = r.getDouble(1) })
    out
  }

  // ---- IVF (inverted-file) index ---------------------------------------------

  /** deterministic Lloyd k-means over the embedding column, trained
    * driver-locally after one collect (see `collectTraining`). Init = the
    * k lowest-vec_id vectors (no RNG); empty clusters keep their previous
    * centroid. The canonical vec_id order of the collected frame makes
    * the centroids partition-invariant bit for bit. */
  private[graft] def kmeansCentroids(
      embeddings: DataFrame,
      k: Int,
      iters: Int,
      dim: Int): Array[Array[Float]] =
    localLloydMulti(collectTraining(embeddings), k, iters, 1, dim).head

  private[graft] def nearestCentroid(emb: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      val n = math.min(cent.length, emb.length)
      while (i < n) { val x = emb(i) - cent(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private[graft] def nearestCentroids(emb: Array[Float], cents: Array[Array[Float]], n: Int): Array[Int] = {
    val ds = cents.indices.map { c =>
      val cent = cents(c)
      var d = 0.0
      var i = 0
      val m = math.min(cent.length, emb.length)
      while (i < m) { val x = emb(i) - cent(i); d += x * x; i += 1 }
      (d, c)
    }
    ds.sorted.take(n).map(_._2).toArray
  }

  /** a built IVF index — the tiny, broadcastable quantizer snapshot. A real
    * deployment builds this ONCE per corpus (an index build job), persists
    * the centroids, and serves every query batch from the snapshot instead
    * of re-training k-means per query (the shape `ivfTopK` convenience
    * wrapper still does in one call). */
  final case class IvfIndex(centroids: Array[Array[Float]])

  /** train the coarse quantizer. `nCentroids = 0` auto-tunes nlist to
    * ~sqrt(n) (the standard IVF sizing: balances list count vs list length).
    * Training runs on a deterministic hash-sample of at most `trainSample`
    * vectors — k-means needs a representative sample, not the corpus; at
    * 10^12 rows training on everything would be iters full scans. */
  def buildIvfIndex(
      embeddings: DataFrame,
      nCentroids: Int = 0,
      iters: Int = 3,
      dim: Int = 64,
      trainSample: Long = 200000L): IvfIndex = {
    val (xs, n) = trainingRows(embeddings, trainSample)
    IvfIndex(localLloydMulti(xs, autoNlist(n, nCentroids), iters, 1, dim).head)
  }

  /** nlist sizing shared by `buildIvfIndex` and `buildIvfPqIndex` (ONE
    * definition so the two builders cannot silently diverge): explicit
    * `nCentroids > 0` wins; 0 auto-tunes to ~sqrt(n) clamped to [4, 4096]
    * — the standard IVF balance of list count vs list length. */
  private[ops] def autoNlist(n: Long, nCentroids: Int): Int =
    if (nCentroids > 0) nCentroids
    else math.max(4, math.min(4096, math.round(math.sqrt(n.toDouble)).toInt))

  /** probe sizing paired with autoNlist: explicit `nProbe > 0` wins; 0
    * auto-scales to ~nlist/4 (the coverage the old fixed 4-of-16 defaults
    * gave) — a FIXED probe count against an auto-sized nlist silently
    * collapses recall as the corpus grows (probing 4 of sqrt(n) lists). */
  private[ops] def autoNProbe(nProbe: Int, nlist: Int): Int =
    if (nProbe > 0) math.min(nProbe, nlist)
    else math.max(4, math.min(nlist, (nlist + 3) / 4))

  // ---- driver-local training over the bounded sample ----------------------------

  /** the training rows of an index build in canonical vec_id order, with
    * the corpus size n, from one count and one pull. When n <= trainSample
    * the whole frame is collected: the count is the cap check, since
    * trainSample may not exceed `MaxLocalTrainRows`. Above it, training
    * runs on a deterministic modulus sample of at most ~trainSample rows
    * (no RNG: stable across retries; ceil division so the expected sample
    * is <= trainSample — floor would keep 100% of the corpus for n in
    * (trainSample, 2*trainSample)), falling back to the full frame if a
    * pathological hash draw leaves it empty (k-means cannot init from zero
    * vectors); that pull keeps `collectTraining`'s count check. Every
    * index builder trains here, so a `trainSample` above the cap fails
    * before any job runs. */
  private def trainingRows(embeddings: DataFrame, trainSample: Long): (Array[Array[Float]], Long) = {
    require(trainSample <= MaxLocalTrainRows,
      s"trainSample $trainSample exceeds the $MaxLocalTrainRows-row driver training cap")
    val n = embeddings.count()
    if (n <= trainSample) (inVecIdOrder(vectors(embeddings).collect()), n)
    else {
      val keepOneIn = (n + trainSample - 1L) / trainSample
      val sampled = embeddings.filter(pmod(xxhash64(col("vec_id")), lit(keepOneIn)) === 0)
      (collectTraining(if (sampled.isEmpty) embeddings else sampled), n)
    }
  }

  /** hard cap on rows `collectTraining` will pull to the driver (~300 MB
    * of 64-dim vectors). `trainingRows` refuses a `trainSample` above it,
    * so only malformed input reaches it: duplicated or null vec_ids make
    * the modulus sample keep all rows of an id or none, and an empty draw
    * falls back to the full frame. */
  private val MaxLocalTrainRows = 1000000

  private def vectors(embeddings: DataFrame): Dataset[(Long, Array[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
  }

  private def inVecIdOrder(rows: Array[(Long, Array[Float])]): Array[Array[Float]] =
    rows.sortBy(_._1).map(_._2)

  /** collect a bounded training frame to the driver in canonical vec_id
    * order; throws above `MaxLocalTrainRows`. Index training is
    * sample-bounded BY DESIGN, so ONE collect replaces the (iters+1)
    * cluster round-trips per Lloyd loop — the faiss lifecycle (train on
    * one node, serve distributed); at 1000 executors the training latency
    * is driver arithmetic instead of iters sequential job launches.
    * Canonical ordering also makes the trained centroids
    * partition-invariant by construction. */
  private def collectTraining(embeddings: DataFrame): Array[Array[Float]] = {
    // cap check = a count over a transient cache, NOT a limit(cap+1)
    // collect: an over-cap frame costs no cap-sized driver pull discarded
    // on the spot, and a count cannot silently truncate past the
    // Int.MaxValue collect limit
    val e = vectors(embeddings).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = e.count()
      require(rows <= MaxLocalTrainRows,
        s"training frame has $rows rows, above the $MaxLocalTrainRows-row driver cap; " +
          "a trainSample-bounded sample only grows past it on duplicated or null vec_ids")
      inVecIdOrder(e.collect())
    } finally e.unpersist()
  }

  /** evaluate `body` over [0, n) split into a FIXED number of chunks run
    * concurrently on the driver, returning per-chunk results in chunk
    * order. The chunk count deliberately does NOT follow the core count:
    * trained centroids feed partition-invariance gates and the scaling
    * campaigns run at different local[N], so training output may not
    * depend on the parallelism level — fixed chunking + in-order merge
    * keeps the float math deterministic under any thread scheduling. */
  private val LocalTrainChunks = 32
  private def parChunks[A](n: Int)(body: (Int, Int) => A): IndexedSeq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val nChunks = math.max(1, math.min(LocalTrainChunks, n))
    val bounds = Array.tabulate(nChunks + 1)(i => ((n.toLong * i) / nChunks).toInt)
    val futs = IndexedSeq.tabulate(nChunks)(c => Future(body(bounds(c), bounds(c + 1))))
    futs.map(Await.result(_, Duration.Inf))
  }

  /** driver-local Lloyd over the collected sample: lowest-vec_id init
    * (truncated or zero-padded to subDim), per-cell mean update, empty
    * clusters keep their previous centroid; chunk partials merged in
    * chunk order. m subquantizers over subDim-wide slices; m=1 with
    * subDim=dim is plain k-means. */
  private[graft] def localLloydMulti(
      xs: Array[Array[Float]],
      k: Int, iters: Int, m: Int, subDim: Int): Array[Array[Array[Float]]] = {
    var cents: Array[Array[Array[Float]]] = Array.tabulate(m) { j =>
      xs.take(k).map { emb =>
        Array.tabulate(subDim)(i => if (j * subDim + i < emb.length) emb(j * subDim + i) else 0f)
      }
    }
    val kk = if (xs.isEmpty) 0 else cents(0).length
    var it = 0
    while (it < iters && kk > 0) {
      val cs = cents
      val partials = parChunks(xs.length) { (lo, hi) =>
        val sums = Array.ofDim[Double](m, kk, subDim)
        val counts = Array.ofDim[Long](m, kk)
        var idx = lo
        while (idx < hi) {
          val arr = xs(idx)
          var j = 0
          while (j < m) {
            val c = nearestSub(arr, j * subDim, cs(j))
            counts(j)(c) += 1
            val off = j * subDim
            var i = 0
            while (i < subDim && off + i < arr.length) { sums(j)(c)(i) += arr(off + i); i += 1 }
            j += 1
          }
          idx += 1
        }
        (sums, counts)
      }
      val totSums = Array.ofDim[Double](m, kk, subDim)
      val totCounts = Array.ofDim[Long](m, kk)
      partials.foreach { case (s, cn) =>
        var j = 0
        while (j < m) {
          var c = 0
          while (c < kk) {
            totCounts(j)(c) += cn(j)(c)
            var i = 0
            while (i < subDim) { totSums(j)(c)(i) += s(j)(c)(i); i += 1 }
            c += 1
          }
          j += 1
        }
      }
      val next = cents.map(_.map(_.clone()))
      var j = 0
      while (j < m) {
        var c = 0
        while (c < kk) {
          if (totCounts(j)(c) > 0) {
            var i = 0
            while (i < subDim) { next(j)(c)(i) = (totSums(j)(c)(i) / totCounts(j)(c)).toFloat; i += 1 }
          }
          c += 1
        }
        j += 1
      }
      cents = next
      it += 1
    }
    cents
  }

  /** driver-local counterpart of `rotateEmbeddings` for the collected
    * sample (same fail-fast dimension check) */
  private def rotateLocal(xs: Array[Array[Float]], rot: Array[Array[Float]]): Array[Array[Float]] = {
    val dim = rot.length
    val out = new Array[Array[Float]](xs.length)
    parChunks(xs.length) { (lo, hi) =>
      var idx = lo
      while (idx < hi) {
        val emb = xs(idx)
        require(emb.length == dim,
          s"rotation built for dim $dim applied to ${emb.length}-dim vector")
        val o = new Array[Float](dim)
        var i = 0
        while (i < dim) {
          val row = rot(i)
          var acc = 0.0
          var k = 0
          while (k < dim) { acc += row(k) * emb(k); k += 1 }
          o(i) = acc.toFloat
          i += 1
        }
        out(idx) = o
        idx += 1
      }
      ()
    }
    out
  }

  /** ANN search against a pre-built IVF index: each vector's nearest
    * centroid is its posting list (computed in the serving pass against
    * the broadcast quantizer); a query scores exactly only the vectors in
    * its `nProbe` nearest lists. Per-query work is ~nProbe/nlist of a scan.
    * Complements lshTopK — IVF partitions by geometry (good for clustered
    * embeddings), LSH by random projection (good for uniform). */
  def ivfTopKWithIndex(
      embeddings: DataFrame,
      index: IvfIndex,
      nQueries: Int = 5,
      k: Int = 10,
      nProbe: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = index.centroids
    val probeN = autoNProbe(nProbe, cents.length)
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val qs = queryRows(e, nQueries).as[(Long, Array[Float])].collect()
    // probe lists derive driver-side (the quantizer is local anyway)
    val probed = qs.map { case (_, v) => nearestCentroids(v, cents, probeN).toSet }
    val bc = spark.sparkContext.broadcast(cents)
    val top =
      try exactTopK(e, qs, k)(nearestCentroid(_, bc.value), (c: Int, q: Int) => probed(q).contains(c))
      finally bc.destroy()
    servedFrame(spark, qs.map(_._1), top, StructField("vec_id", LongType, nullable = false))
  }

  /** one-call convenience: build (nCentroids, iters) + search. Production
    * reuses `buildIvfIndex` output across query batches instead. */
  def ivfTopK(
      embeddings: DataFrame,
      nQueries: Int = 5,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      dim: Int = 64): DataFrame =
    ivfTopKWithIndex(embeddings,
      buildIvfIndex(embeddings, nCentroids, iters, dim), nQueries, k, nProbe)

  /** ANN via LSH buckets: a query scores exactly only the vectors that
    * share its bucket in at least one table. The queries' signatures are
    * computed driver-side with the same plane tables; each vector's are
    * computed once, in the serving pass. */
  def lshTopK(
      embeddings: DataFrame,
      nQueries: Int = 5,
      k: Int = 10,
      nBits: Int = 12,
      nTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val qs = queryRows(e, nQueries).as[(Long, Array[Float])].collect()
    val tables = Array.tabulate(nTables)(t => planes(nBits, dim, seed + t))
    val origin = new Array[Double](nBits)
    def signatures(v: Array[Float]): Array[Long] = tables.map(signature(v, _, origin))
    val qSigs = qs.map { case (_, v) => signatures(v) }
    val top = exactTopK(e, qs, k)(signatures, (sigs: Array[Long], q: Int) => {
      val qsig = qSigs(q)
      var t = 0
      while (t < sigs.length && sigs(t) != qsig(t)) t += 1
      t < sigs.length
    })
    servedFrame(spark, qs.map(_._1), top, StructField("vec_id", LongType, nullable = false))
  }

  // ---- embedding storage: int8 scalar quantization -----------------------------

  /** per-vector int8 scalar quantization — the standard storage/serving
    * compression for embedding corpora (4x over float32; at 100 TB of
    * vectors the scan-bytes win IS the latency win). Per vector:
    * offset = min(x), scale = (max - min)/255, code = least(floor((x -
    * offset)/scale), 255); constant vectors (scale 0) code to all-zeros.
    * Also emits the max elementwise reconstruction error (bounded by
    * `scale`, i.e. the bin width) so downstream recall analysis is
    * data-driven, not assumed.
    *
    * Pure codegen'd column math (transform/array_max on doubles) — no UDF,
    * no shuffle: runs inside the scan stage. Codes are emitted as a CSV
    * string column (`q_csv`) for engine-portable byte comparison; a
    * production sink would write the packed binary column instead. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val withParams = e
      .withColumn("offset", array_min(col("emb")))
      .withColumn("scale", (array_max(col("emb")) - col("offset")) / 255.0)
    val code: Column => Column = x =>
      least(floor((x - col("offset")) / col("scale")), lit(255.0)).cast("int")
    withParams
      .withColumn("q_csv",
        when(col("scale") === 0.0,
          concat_ws(",", transform(col("emb"), _ => lit(0))))
          .otherwise(concat_ws(",", transform(col("emb"), code))))
      .withColumn("max_err",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(array_max(transform(col("emb"),
            x => abs(x - (col("offset") + code(x) * col("scale")))))))
      .select(col("vec_id"), col("q_csv"),
        round(col("offset"), 6).as("offset"), round(col("scale"), 6).as("scale"),
        round(col("max_err"), 6).as("max_err"))
  }

  // ---- product quantization (PQ) -----------------------------------------------

  /** a trained PQ codebook: `m` subvectors, each with its own `k`-centroid
    * quantizer over `subDim` dims — centroids(j)(c) is centroid c of
    * subvector j. Tiny (m*k*subDim floats) and broadcastable; like
    * IvfIndex, a real deployment trains ONCE per corpus and serves every
    * encode/search from the snapshot. */
  final case class PqCodebook(subDim: Int, centroids: Array[Array[Array[Float]]]) {
    def m: Int = centroids.length
    def k: Int = if (centroids.isEmpty) 0 else centroids(0).length
  }

  /** train a PQ codebook: the embedding is split into `m` contiguous
    * subvectors and each gets an independent deterministic k-means
    * quantizer (trained on the same bounded hash-sample as IVF). All m
    * quantizers train in one driver-local Lloyd pass over the collected
    * sample — identical math to m `kmeansCentroids` runs over the slices
    * (same lowest-k init, same mean updates). Memory per encoded vector
    * is m*ceil(log2 k)/8 bytes — m=8,k=16 compresses a 64-dim float32
    * vector 64x (256 -> 4 bytes packed; codes are emitted unpacked as
    * array<int> here, the sink packs). */
  def buildPqCodebook(
      embeddings: DataFrame,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      dim: Int = 64,
      trainSample: Long = 200000L): PqCodebook = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val subDim = dim / m
    PqCodebook(subDim, localLloydMulti(trainingRows(embeddings, trainSample)._1, k, iters, m, subDim))
  }

  /** squared L2 of one subvector slice against a centroid */
  private def subDist2(emb: Array[Float], off: Int, cent: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    val n = math.min(cent.length, math.max(emb.length - off, 0))
    while (i < n) { val x = emb(off + i) - cent(i); d += x * x; i += 1 }
    d
  }

  private def nearestSub(emb: Array[Float], off: Int, cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = subDist2(emb, off, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** encode every vector to its m PQ codes — one executor-local pass
    * against the broadcast codebook, no shuffle */
  def pqEncode(embeddings: DataFrame, cb: PqCodebook): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, emb) =>
          val codes = new Array[Int](c.m)
          var j = 0
          while (j < c.m) { codes(j) = nearestSub(emb, j * c.subDim, c.centroids(j)); j += 1 }
          (id, codes)
        }
      }
      .toDF("vec_id", "codes")
  }

  /** PQ ANN: asymmetric-distance (ADC) scan over the CODES (m table
    * lookups per vector instead of dim multiplies over float32 — the scan
    * reads ~m bytes/vector, the 100 TB win), shortlist the top
    * `rerank * k` per query, then EXACT cosine re-rank of the shortlist
    * only (the standard PQ serving shape). Queries stay float; per-query
    * dot tables (m x k) and the query-independent centroid norms are
    * driver-computed and broadcast with the codebook. Output schema
    * matches bruteForceTopK (exact cosines on the returned rows). */
  def pqTopK(
      embeddings: DataFrame,
      cb: PqCodebook,
      nQueries: Int = 5,
      k: Int = 10,
      rerank: Int = 4): DataFrame =
    pqTopKFromCodes(pqEncode(embeddings, cb), embeddings, cb, nQueries, k, rerank)

  /** serve from a PRE-ENCODED codes frame (vec_id, codes) — the deployment
    * shape: encode once per corpus (a build job, persisted next to the
    * codebook snapshot), serve every query batch from the codes table;
    * the convenience pqTopK wrapper re-encodes per call. */
  def pqTopKFromCodes(
      codesDf: DataFrame,
      embeddings: DataFrame,
      cb: PqCodebook,
      nQueries: Int = 5,
      k: Int = 10,
      rerank: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val qs = queryRows(e, nQueries).as[(Long, Array[Float])].collect()
    // per-query [m][k] dot tables + query norms; centroid norm^2 per (j,c)
    val centNorm2 = cb.centroids.map(_.map(c => c.map(x => x.toDouble * x).sum))
    val tables = qs.map { case (qid, qemb) =>
      val t = Array.tabulate(cb.m, cb.k) { (j, c) =>
        val cent = cb.centroids(j)(c)
        var d = 0.0
        var i = 0
        val off = j * cb.subDim
        while (i < cent.length && off + i < qemb.length) { d += qemb(off + i) * cent(i); i += 1 }
        d
      }
      val qn = math.sqrt(qemb.map(x => x.toDouble * x).sum)
      (qid, t, qn)
    }
    val bcTables = spark.sparkContext.broadcast(tables)
    val bcNorm2 = spark.sparkContext.broadcast(centNorm2)
    val codes = codesDf.select(col("vec_id").cast("long"), col("codes")).as[(Long, Array[Int])]
    val shortlist =
      try topKPass(codes, qs.length, k * rerank) { (it, top) =>
        val ts = bcTables.value
        val n2 = bcNorm2.value
        it.foreach { case (vid, codes) =>
          // approx |x| from the reconstruction: sqrt(sum_j |c_j|^2)
          var xn2 = 0.0
          var j = 0
          while (j < codes.length) { xn2 += n2(j)(codes(j)); j += 1 }
          val xn = math.max(math.sqrt(xn2), 1e-12)
          var q = 0
          while (q < ts.length) {
            val (qid, t, qn) = ts(q)
            if (qid != vid) {
              var dot = 0.0
              var jj = 0
              while (jj < codes.length) { dot += t(jj)(codes(jj)); jj += 1 }
              top.offer(q, vid, dot / (math.max(qn, 1e-12) * xn), true)
            }
            q += 1
          }
        }
      } finally { bcTables.destroy(); bcNorm2.destroy() }
    rerankExact(e, qs, shortlist, k)
  }

  // ---- IVF-PQ: the composed big-index serving shape ----------------------------

  /** coarse IVF quantizer + PQ codebook trained on RESIDUALS (vector minus
    * its assigned coarse centroid — residuals are what PQ sees at query
    * time, so training on them is the accuracy-preserving choice; raw-
    * vector PQ wastes codebook capacity re-describing the coarse
    * structure). Both snapshots are tiny and broadcastable. */
  final case class IvfPqIndex(ivf: IvfIndex, pq: PqCodebook)

  /** vector minus its coarse centroid (zero-padded) — the ONE definition
    * the index build trains on and `ivfPqEncode` encodes, so the PQ
    * codebook matches the residuals it serves */
  private def residual(emb: Array[Float], cent: Array[Float]): Array[Float] =
    Array.tabulate(emb.length)(i => emb(i) - (if (i < cent.length) cent(i) else 0f))

  def buildIvfPqIndex(
      embeddings: DataFrame,
      nCentroids: Int = 0,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      dim: Int = 64,
      trainSample: Long = 200000L): IvfPqIndex = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    // count ONCE, sample ONCE: the coarse training, the residual pass and
    // the PQ training all read the same sample (re-sampling the sample
    // would also be wrong — modulus samples of the same hash do not
    // compose: a second keepOneIn either keeps ~100% or a correlated
    // biased half). nlist auto-sizing sees the TRUE corpus size.
    val (xs, n) = trainingRows(embeddings, trainSample)
    trainIvfPqLocal(xs, autoNlist(n, nCentroids), m, k, iters, dim)
  }

  /** the post-collect half of the IVF-PQ build: coarse train, residual
    * pass and PQ train are all driver arithmetic over the collected
    * sample `xs` (canonical vec_id order; the faiss build shape) */
  private def trainIvfPqLocal(
      xs: Array[Array[Float]], nlist: Int, m: Int, k: Int, iters: Int, dim: Int): IvfPqIndex = {
    val ivfCents = localLloydMulti(xs, nlist, iters, 1, dim).head
    val residuals = new Array[Array[Float]](xs.length)
    parChunks(xs.length) { (lo, hi) =>
      var idx = lo
      while (idx < hi) {
        val x = xs(idx)
        residuals(idx) = residual(x, ivfCents(nearestCentroid(x, ivfCents)))
        idx += 1
      }
      ()
    }
    IvfPqIndex(IvfIndex(ivfCents),
      PqCodebook(dim / m, localLloydMulti(residuals, k, iters, m, dim / m)))
  }

  /** deterministic random ROTATION for PQ (the random-rotation baseline of
    * OPQ: correlated/unbalanced dimensions concentrate error in a few
    * subvectors; a random orthogonal basis spreads variance uniformly,
    * capturing most of trained-OPQ's gain with no training). Built by
    * Gram-Schmidt over seeded pseudo-gaussian vectors; cosine is invariant
    * under rotation, so exact search on rotated vectors returns IDENTICAL
    * results (test-gated) while PQ on rotated vectors quantizes better. */
  def randomRotation(dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val raw = planes(dim, dim, seed) // reuse the deterministic generator
    val q = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var k = 0
      while (k < dim) { q(i)(k) = raw(i)(k); k += 1 }
      // subtract projections on previous rows
      var j = 0
      while (j < i) {
        var dot = 0.0
        k = 0
        while (k < dim) { dot += q(i)(k) * q(j)(k); k += 1 }
        k = 0
        while (k < dim) { q(i)(k) -= dot * q(j)(k); k += 1 }
        j += 1
      }
      var n2 = 0.0
      k = 0
      while (k < dim) { n2 += q(i)(k) * q(i)(k); k += 1 }
      val inv = 1.0 / math.sqrt(n2)
      k = 0
      while (k < dim) { q(i)(k) *= inv; k += 1 }
      i += 1
    }
    q.map(_.map(_.toFloat))
  }

  /** apply a rotation to the embedding column — one executor-local pass
    * against the broadcast matrix, no shuffle. Rotate once at ingest,
    * store rotated vectors, and every PQ build/encode/search downstream
    * operates in the rotated basis transparently. */
  def rotateEmbeddings(embeddings: DataFrame, rot: Array[Array[Float]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(rot)
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (id, emb) =>
          // fail fast: a truncated matmul is NOT a rotation — cosine
          // invariance breaks and every downstream search is silently wrong
          require(emb.length == r.length,
            s"rotation built for dim ${r.length} applied to ${emb.length}-dim vector $id")
          val out = new Array[Float](r.length)
          var i = 0
          while (i < r.length) {
            val row = r(i)
            var acc = 0.0
            var k = 0
            while (k < row.length) { acc += row(k) * emb(k); k += 1 }
            out(i) = acc.toFloat
            i += 1
          }
          (id, out)
        }
      }
      .toDF("vec_id", "embedding")
  }

  /** trained OPQ: rotation + codebook jointly optimized (the
    * non-parametric OPQ of Ge et al., CVPR 2013 — the algorithm behind
    * faiss's OPQMatrix). Alternates (a) PQ codebook training in the
    * current rotated basis with (b) an orthogonal-Procrustes update of
    * the rotation toward the quantized reconstructions:
    * R = argmin_R sum ||R x - y^|| = V U^T where U S V^T = svd(sum x y^T)
    * (solved with the LAPACK SVD that ships in Spark's breeze jars —
    * a dim x dim matrix, driver-side, microseconds at embedding dims).
    *
    * Scale shape: the whole alternation is driver arithmetic over the
    * SAME bounded hash-sample the other index builders train on,
    * collected once; each pass keeps only the dim^2 correlation matrix
    * (32 KB at dim=64) and the codebook beside the sample. Deployment
    * trains ONCE per corpus and stores (rotation, codebook) as a
    * snapshot; rotate at ingest like the random-rotation baseline.
    *
    * `mseHistory` records per-iteration reconstruction MSE; its head is
    * the RANDOM-ROTATION baseline (iteration 0 = seeded random R with a
    * codebook trained in that basis), so `last < head` is exactly
    * "training beat the baseline" — test-gated on anisotropic data. */
  final case class OpqResult(
      rotation: Array[Array[Float]],
      codebook: PqCodebook,
      mseHistory: Seq[Double])

  def trainOpq(
      embeddings: DataFrame,
      m: Int = 8,
      k: Int = 16,
      dim: Int = 64,
      opqIters: Int = 4,
      kmeansIters: Int = 3,
      trainSample: Long = 200000L,
      seed: Long = 42L): OpqResult = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    // zero cluster round-trips after the one collect
    trainOpqLocal(trainingRows(embeddings, trainSample)._1, m, k, dim, opqIters, kmeansIters, seed)
  }

  /** the post-collect half of `trainOpq`: the whole alternation over the
    * collected sample `xs` (canonical vec_id order) */
  private def trainOpqLocal(
      xs: Array[Array[Float]],
      m: Int, k: Int, dim: Int, opqIters: Int, kmeansIters: Int, seed: Long): OpqResult = {
    val subDim = dim / m
    var rot = randomRotation(dim, seed)
    def retrain(r: Array[Array[Float]]): PqCodebook =
      PqCodebook(subDim, localLloydMulti(rotateLocal(xs, r), k, kmeansIters, m, subDim))
    var cb = retrain(rot)
    val mses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var it = 0
    while (it < opqIters) {
      val (mMat, se, n) = opqPassLocal(xs, rot, cb, dim, needM = true)
      mses += se / math.max(n, 1L)
      rot = procrustesRotation(mMat, dim)
      cb = retrain(rot)
      it += 1
    }
    val (_, seF, nF) = opqPassLocal(xs, rot, cb, dim, needM = false)
    mses += seF / math.max(nF, 1L)
    OpqResult(rot, cb, mses.toSeq)
  }

  /** driver-local counterpart of `opqPass` over the collected sample —
    * identical accumulation math, chunk partials merged in chunk order */
  private[graft] def opqPassLocal(
      xs: Array[Array[Float]],
      rot: Array[Array[Float]],
      cb: PqCodebook,
      dim: Int,
      needM: Boolean): (Array[Double], Double, Long) = {
    val partials = parChunks(xs.length) { (lo, hi) =>
      val mAcc = new Array[Double](if (needM) dim * dim else 0)
      var se = 0.0
      var cnt = 0L
      val rx = new Array[Float](dim)
      var idx = lo
      while (idx < hi) {
        val emb = xs(idx)
        require(emb.length == dim,
          s"OPQ trained for dim $dim applied to ${emb.length}-dim vector")
        var i = 0
        while (i < dim) {
          val row = rot(i)
          var acc = 0.0
          var kk = 0
          while (kk < dim) { acc += row(kk) * emb(kk); kk += 1 }
          rx(i) = acc.toFloat
          i += 1
        }
        var j = 0
        while (j < cb.m) {
          val cent = cb.centroids(j)(nearestSub(rx, j * cb.subDim, cb.centroids(j)))
          val off = j * cb.subDim
          var s = 0
          while (s < cb.subDim) {
            val y = cent(s)
            val d = rx(off + s) - y
            se += d * d
            if (needM) {
              var a = 0
              while (a < dim) { mAcc(a * dim + (off + s)) += emb(a) * y; a += 1 }
            }
            s += 1
          }
          j += 1
        }
        cnt += 1L
        idx += 1
      }
      (mAcc, se, cnt)
    }
    val mTot = new Array[Double](if (needM) dim * dim else 0)
    var se = 0.0
    var n = 0L
    partials.foreach { case (p, s, c) =>
      var i = 0
      while (i < mTot.length) { mTot(i) += p(i); i += 1 }
      se += s
      n += c
    }
    (mTot, se, n)
  }

  /** mean squared reconstruction error of (rotation, codebook) over a
    * frame — the quantization-quality metric OPQ minimizes; public so
    * callers (and the gates) can compare bases on held-out data. */
  def pqReconstructionMse(
      embeddings: DataFrame,
      rot: Array[Array[Float]],
      cb: PqCodebook): Double = {
    val e = embeddings.select(col("vec_id").cast("long"), col("embedding"))
    val (se, n) = opqPass(e, rot, cb, rot.length)
    se / math.max(n, 1L)
  }

  /** one distributed pass over an arbitrary (unsampled) frame, the
    * instrument behind `pqReconstructionMse`: per vector x, rotate
    * (rx = R x), PQ-encode rx, reconstruct y^ and accumulate the squared
    * error ||rx - y^||^2, with the same math as `opqPassLocal`. Returns
    * (squared error, rows); the per-partition partials are summed on the
    * driver in partition order (deterministic for a fixed layout). */
  private[graft] def opqPass(
      sample: DataFrame,
      rot: Array[Array[Float]],
      cb: PqCodebook,
      dim: Int): (Double, Long) = {
    val spark = sample.sparkSession
    import spark.implicits._
    val bcR = spark.sparkContext.broadcast(rot)
    val bcC = spark.sparkContext.broadcast(cb)
    val partials = sample.as[(Long, Array[Float])].mapPartitions { rows =>
      val r = bcR.value
      val c = bcC.value
      var se = 0.0
      var cnt = 0L
      val rx = new Array[Float](dim)
      rows.foreach { case (id, emb) =>
        require(emb.length == dim,
          s"OPQ trained for dim $dim applied to ${emb.length}-dim vector $id")
        var i = 0
        while (i < dim) {
          val row = r(i)
          var acc = 0.0
          var kk = 0
          while (kk < dim) { acc += row(kk) * emb(kk); kk += 1 }
          rx(i) = acc.toFloat
          i += 1
        }
        var j = 0
        while (j < c.m) {
          val cent = c.centroids(j)(nearestSub(rx, j * c.subDim, c.centroids(j)))
          val off = j * c.subDim
          var s = 0
          while (s < c.subDim) {
            val d = rx(off + s) - cent(s)
            se += d * d
            s += 1
          }
          j += 1
        }
        cnt += 1L
      }
      Iterator.single((se, cnt))
    }.collect()
    bcR.destroy()
    bcC.destroy()
    var se = 0.0
    var n = 0L
    partials.foreach { case (s, c) =>
      se += s
      n += c
    }
    (se, n)
  }

  /** orthogonal-Procrustes solve: R maximizing tr(R M) over orthogonal
    * matrices is V U^T for M = U S V^T (M arrives flattened row-major) */
  private def procrustesRotation(mFlat: Array[Double], dim: Int): Array[Array[Float]] = {
    // breeze DenseMatrix is column-major: (i,j) = data(j*rows + i)
    val mMat = new breeze.linalg.DenseMatrix[Double](dim, dim)
    var a = 0
    while (a < dim) {
      var b = 0
      while (b < dim) { mMat(a, b) = mFlat(a * dim + b); b += 1 }
      a += 1
    }
    val svdR = breeze.linalg.svd(mMat)
    val r = svdR.Vt.t * svdR.U.t
    Array.tabulate(dim, dim)((i, j) => r(i, j).toFloat)
  }

  /** shared snapshot codec for the (matrix components + PQ codebook)
    * index families — one encode/decode so a fix to any family cannot
    * silently miss the others. Rows: (component, a, b, vec) with
    * component = a matrix label (a = row/list index) or "pq"
    * (a = subvector, b = code). */
  private def saveComponentSnapshot(
      mats: Seq[(String, Array[Array[Float]])],
      pq: PqCodebook,
      path: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val matRows = mats.flatMap { case (label, m) =>
      m.zipWithIndex.map { case (c, i) => (label, i, 0, c.toSeq) }
    }
    val pqRows = for {
      (sub, j) <- pq.centroids.zipWithIndex.toSeq
      (c, code) <- sub.zipWithIndex
    } yield ("pq", j, code, c.toSeq)
    (matRows ++ pqRows).toDF("component", "a", "b", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def loadComponentSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      labels: Seq[String]): (Map[String, Array[Array[Float]]], PqCodebook) = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("component"), col("a"), col("b"), col("vec"))
      .as[(String, Int, Int, Array[Float])].collect()
    val mats = labels.map { label =>
      label -> rows.filter(_._1 == label).sortBy(_._2).map(_._4)
    }.toMap
    val pqRows = rows.filter(_._1 == "pq")
    require(labels.forall(l => mats(l).nonEmpty) && pqRows.nonEmpty,
      s"corrupt index snapshot at $path: missing ${labels.mkString("/")} or 'pq' component rows")
    // WRONG-FAMILY loads must fail fast, not silently drop components: a
    // three-component OPQ-IVF-PQ snapshot read through loadOpq would
    // discard the coarse centroids and serve silently-wrong neighbors
    val extra = rows.iterator.map(_._1).toSet -- labels.toSet - "pq"
    require(extra.isEmpty,
      s"index snapshot at $path carries component(s) ${extra.mkString(",")} this loader " +
        s"would ignore — use the loader for its index family (expected: ${labels.mkString("/")}+pq)")
    val m = pqRows.map(_._2).max + 1
    val k = pqRows.map(_._3).max + 1
    val pq = Array.ofDim[Array[Float]](m, k)
    pqRows.foreach { case (_, j, c, v) => pq(j)(c) = v }
    (mats, PqCodebook(pqRows.head._4.length, pq))
  }

  /** persist a trained-OPQ snapshot (rotation + codebook) in the shared
    * component layout: component "rot"
    * (a = row index) or "pq" (a = subvector, b = code). A build job
    * trains once; serving jobs load and rotate-at-ingest. */
  def saveOpq(opq: OpqResult, path: String, spark: org.apache.spark.sql.SparkSession): Unit =
    saveComponentSnapshot(Seq("rot" -> opq.rotation), opq.codebook, path, spark)

  /** load a trained-OPQ snapshot (mseHistory is training-time evidence,
    * not part of the snapshot: loaded results carry it empty) */
  def loadOpq(spark: org.apache.spark.sql.SparkSession, path: String): OpqResult = {
    val (mats, pq) = loadComponentSnapshot(spark, path, Seq("rot"))
    OpqResult(mats("rot"), pq, Seq.empty)
  }

  // ---- OPQ-composed IVF-PQ: the faiss "OPQ,IVF,PQ" index shape -----------------

  /** trained rotation in front of the residual-PQ coarse index: OPQ
    * learns the basis (variance balanced across subvectors), IVF-PQ
    * trains coarse centroids + residual codebooks IN that basis — the
    * standard pretransform composition (faiss index_factory
    * "OPQm,IVFn,PQm"). trainOpq's own flat codebook is training
    * scaffolding only; the served codebooks are the residual ones. */
  final case class OpqIvfPqIndex(rotation: Array[Array[Float]], index: IvfPqIndex)

  def buildOpqIvfPqIndex(
      embeddings: DataFrame,
      nCentroids: Int = 16,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      dim: Int = 64,
      opqIters: Int = 3,
      trainSample: Long = 200000L): OpqIvfPqIndex = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    // count + sample ONCE against the raw corpus and pull the sample ONCE:
    // OPQ trains on it, and the IVF-PQ trainer takes the same rows rotated
    // on the driver (`rotateLocal` is `rotateEmbeddings`' arithmetic, and
    // the rows stay in vec_id order). nlist auto-sizing sees the TRUE
    // corpus size, not the sample's.
    val (xs, n) = trainingRows(embeddings, trainSample)
    val opq = trainOpqLocal(xs, m, k, dim, opqIters, iters, seed = 42L)
    OpqIvfPqIndex(opq.rotation, trainIvfPqLocal(rotateLocal(xs, opq.rotation),
      autoNlist(n, nCentroids), m, k, iters, dim))
  }

  /** serve: rotate at ingest (cosine-invariant), then the standard
    * probe-limited residual-PQ ADC + exact rerank */
  def opqIvfPqTopK(
      embeddings: DataFrame,
      idx: OpqIvfPqIndex,
      nQueries: Int = 5,
      k: Int = 10,
      nProbe: Int = 0,
      rerank: Int = 4): DataFrame =
    ivfPqTopK(rotateEmbeddings(embeddings, idx.rotation), idx.index, nQueries, k, nProbe, rerank)

  def saveOpqIvfPqIndex(idx: OpqIvfPqIndex, path: String, spark: org.apache.spark.sql.SparkSession): Unit =
    saveComponentSnapshot(
      Seq("rot" -> idx.rotation, "ivf" -> idx.index.ivf.centroids),
      idx.index.pq, path, spark)

  def loadOpqIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): OpqIvfPqIndex = {
    val (mats, pq) = loadComponentSnapshot(spark, path, Seq("rot", "ivf"))
    OpqIvfPqIndex(mats("rot"), IvfPqIndex(IvfIndex(mats("ivf")), pq))
  }

  /** encode: assign each vector to its coarse list, PQ-encode its RESIDUAL
    * — one executor-local pass, no shuffle. Output (vec_id, list, codes). */
  def ivfPqEncode(embeddings: DataFrame, index: IvfPqIndex): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index)
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val idx = bc.value
        it.map { case (id, emb) =>
          val li = nearestCentroid(emb, idx.ivf.centroids)
          val res = residual(emb, idx.ivf.centroids(li))
          val codes = new Array[Int](idx.pq.m)
          var j = 0
          while (j < idx.pq.m) {
            codes(j) = nearestSub(res, j * idx.pq.subDim, idx.pq.centroids(j)); j += 1
          }
          (id, li, codes)
        }
      }
      .toDF("vec_id", "list", "codes")
  }

  /** IVF-PQ ANN (the FAISS-IVFPQ serving shape): probe the `nProbe`
    * nearest coarse lists per query, ADC-score the CODES inside probed
    * lists only (per-(query,list) residual dot tables — the query residual
    * differs per probed centroid), shortlist, exact-rerank. Per-query work
    * is ~nProbe/nlist of a PQ scan, which itself reads ~m bytes/vector:
    * the two compressions multiply, which is how 10^11-vector indexes
    * serve. */
  def ivfPqTopK(
      embeddings: DataFrame,
      index: IvfPqIndex,
      nQueries: Int = 5,
      k: Int = 10,
      nProbe: Int = 0,
      rerank: Int = 4): DataFrame =
    ivfPqTopKFromCodes(ivfPqEncode(embeddings, index), embeddings, index,
      nQueries, k, nProbe, rerank)

  /** serve from a PRE-ENCODED (vec_id, list, codes) frame — encode once
    * per corpus, serve every query batch from the codes table */
  def ivfPqTopKFromCodes(
      codesDf: DataFrame,
      embeddings: DataFrame,
      index: IvfPqIndex,
      nQueries: Int = 5,
      k: Int = 10,
      nProbe: Int = 0,
      rerank: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val qs = queryRows(e, nQueries).as[(Long, Array[Float])].collect()
    val cents = index.ivf.centroids
    // FULL-SPACE ADC over the reconstruction x^ = c_li + r^ (subvectors
    // are disjoint, so every term is exactly table-decomposable):
    //   dot(q, x^)  = dot(q, c_li) + sum_j qtab[j][code_j]
    //   |x^|^2      = |c_li|^2 + 2*sum_j cdot[li][j][code_j]
    //                          +   sum_j pqNorm2[j][code_j]
    //   approx_cos  = dot(q, x^) / (|q| * |x^|)
    // A residual-space cosine would rank fine WITHIN one list but is not
    // comparable ACROSS probed lists (measured: recall@10 0.6 vs 0.9+).
    val pqNorm2 = index.pq.centroids.map(_.map(c => c.map(x => x.toDouble * x).sum))
    val centNorm2 = cents.map(c => c.map(x => x.toDouble * x).sum)
    // cdot[li][j][c] = dot(c_li restricted to subvector j, pq centroid c)
    val cdot = Array.tabulate(cents.length, index.pq.m, index.pq.k) { (li, j, c) =>
      val cent = cents(li)
      val sub = index.pq.centroids(j)(c)
      var d = 0.0
      var i = 0
      val off = j * index.pq.subDim
      while (i < sub.length && off + i < cent.length) { d += cent(off + i) * sub(i); i += 1 }
      d
    }
    val probes = qs.map { case (qid, qemb) =>
      val lists = nearestCentroids(qemb, cents, autoNProbe(nProbe, cents.length))
      val qtab = Array.tabulate(index.pq.m, index.pq.k) { (j, c) =>
        val sub = index.pq.centroids(j)(c)
        var d = 0.0
        var i = 0
        val off = j * index.pq.subDim
        while (i < sub.length && off + i < qemb.length) { d += qemb(off + i) * sub(i); i += 1 }
        d
      }
      val qDotCent = lists.map { li =>
        val cent = cents(li)
        var d = 0.0
        var i = 0
        while (i < cent.length && i < qemb.length) { d += qemb(i) * cent(i); i += 1 }
        li -> d
      }.toMap
      val qn = math.sqrt(qemb.map(x => x.toDouble * x).sum)
      (qid, lists.toSet, qtab, qDotCent, qn)
    }
    // union of every query's probed lists: vectors outside it (most of
    // the corpus at realistic nlist/nProbe ratios) are skipped before any
    // per-vector work — including the reconstruction-norm loop
    val unionProbed: Set[Int] = probes.iterator.flatMap(_._2).toSet
    val bcProbes = spark.sparkContext.broadcast(probes)
    val bcUnion = spark.sparkContext.broadcast(unionProbed)
    val bcPqNorm2 = spark.sparkContext.broadcast(pqNorm2)
    val bcCentNorm2 = spark.sparkContext.broadcast(centNorm2)
    val bcCdot = spark.sparkContext.broadcast(cdot)
    val codes = codesDf
      .select(col("vec_id").cast("long"), col("list").cast("int"), col("codes"))
      .as[(Long, Int, Array[Int])]
    val shortlist =
      try topKPass(codes, qs.length, k * rerank) { (it, top) =>
        val ps = bcProbes.value
        val union = bcUnion.value
        val n2 = bcPqNorm2.value
        val cn2 = bcCentNorm2.value
        val cd = bcCdot.value
        it.foreach { case (vid, li, codes) =>
          if (union.contains(li)) {
            // |x^|^2 from the list + codes (query-independent)
            var xn2 = cn2(li)
            var j = 0
            while (j < codes.length) {
              xn2 += 2.0 * cd(li)(j)(codes(j)) + n2(j)(codes(j)); j += 1
            }
            val xn = math.max(math.sqrt(math.max(xn2, 0.0)), 1e-12)
            var q = 0
            while (q < ps.length) {
              val (qid, probedSet, qtab, qDotCent, qn) = ps(q)
              if (qid != vid && probedSet.contains(li)) {
                var dot = qDotCent(li)
                var jj = 0
                while (jj < codes.length) { dot += qtab(jj)(codes(jj)); jj += 1 }
                top.offer(q, vid, dot / (math.max(qn, 1e-12) * xn), true)
              }
              q += 1
            }
          }
        }
      } finally Seq(bcProbes, bcUnion, bcPqNorm2, bcCentNorm2, bcCdot).foreach(_.destroy())
    rerankExact(e, qs, shortlist, k)
  }
}
