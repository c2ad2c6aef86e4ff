package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The window/join serving paths that `SimSearch`'s partition-local top-k
  * pass and `Audit.annRecallAudit`'s bounded pull replaced, kept verbatim
  * as test oracles (Seq-typed helpers now take the decoded arrays): each
  * replacement must return the same rows and schema, or fail, on every
  * input. */
object AnnOracles {
  import SimSearch._

  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("self_dot", dotCol(col("embedding"), col("embedding")))
    val queries = e.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"),
        col("self_dot").as("q_dot"))
    val scored = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("query_emb"), col("embedding"), col("q_dot"), col("self_dot")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  def ivfTopKWithIndex(
      embeddings: DataFrame,
      index: IvfIndex,
      nQueries: Int = 5,
      k: Int = 10,
      nProbe: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = index.centroids
    val probeN = autoNProbe(nProbe, cents.length)
    val bc = spark.sparkContext.broadcast(cents)
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val assigned = e.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, emb) => (id, nearestCentroid(emb.toArray, bc.value)) }
      .toDF("vec_id", "cid")
    val qLocal = e.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val queries = qLocal.toSeq.toDF("query_id", "query_emb")
    val qProbes = qLocal.toSeq
      .flatMap { case (qid, emb) =>
        nearestCentroids(emb.toArray, cents, probeN).toSeq.map(c => (qid, c)) }
      .toDF("query_id", "cid")
    val candidates = assigned.join(broadcast(qProbes), Seq("cid"))
      .select(col("query_id"), col("vec_id"))
    val scored = candidates
      .join(e, "vec_id")
      .join(broadcast(queries), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("query_emb"), col("embedding"),
          dotCol(col("query_emb"), col("query_emb")),
          dotCol(col("embedding"), col("embedding"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

  def lshTopK(
      embeddings: DataFrame,
      nQueries: Int = 5,
      k: Int = 10,
      nBits: Int = 12,
      nTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val buckets = lshBuckets(embeddings, nBits, nTables, dim, seed)
    val qLocal = e.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val queries = qLocal.toSeq.toDF("query_id", "query_emb")
    val tables = Array.tabulate(nTables)(t => planes(nBits, dim, seed + t))
    val zeros = new Array[Double](nBits)
    val qBuckets = qLocal.toSeq
      .flatMap { case (qid, emb) =>
        tables.iterator.zipWithIndex.map { case (tab, t) =>
          (qid, t, signature(emb.toArray, tab, zeros)) }
      }
      .toDF("query_id", "table", "bucket")
    val candidates = buckets.join(broadcast(qBuckets), Seq("table", "bucket"))
      .select(col("query_id"), col("vec_id")).distinct()
    val scored = candidates
      .join(e, "vec_id")
      .join(broadcast(queries), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        cosineWithNorms(col("query_emb"), col("embedding"),
          dotCol(col("query_emb"), col("query_emb")),
          dotCol(col("embedding"), col("embedding"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank").cast("long").as("rank"),
        round(col("cosine"), 6).as("cosine"))
  }

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
    val qLocal = e.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val centNorm2 = cb.centroids.map(_.map(c => c.map(x => x.toDouble * x).sum))
    val tables = qLocal.map { case (qid, qemb) =>
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
    val scored = codesDf.select(col("vec_id").cast("long"), col("codes")).as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val ts = bcTables.value
        val n2 = bcNorm2.value
        it.flatMap { case (vid, codes) =>
          var xn2 = 0.0
          var j = 0
          while (j < codes.length) { xn2 += n2(j)(codes(j)); j += 1 }
          val xn = math.max(math.sqrt(xn2), 1e-12)
          ts.iterator.flatMap { case (qid, t, qn) =>
            if (qid == vid) None
            else {
              var dot = 0.0
              var jj = 0
              while (jj < codes.length) { dot += t(jj)(codes(jj)); jj += 1 }
              Some((qid, vid, dot / (math.max(qn, 1e-12) * xn)))
            }
          }
        }
      }
      .toDF("query_id", "vec_id", "approx_cos")
    rerankShortlist(scored, e, qLocal, k, rerank)
  }

  private def rerankShortlist(
      scored: DataFrame,
      e: DataFrame,
      qLocal: Array[(Long, Seq[Float])],
      k: Int,
      rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    val wA = Window.partitionBy("query_id").orderBy(col("approx_cos").desc, col("vec_id").asc)
    val shortlist = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * rerank)
      .select(col("query_id"), col("vec_id"))
    val queries = qLocal.toSeq.toDF("query_id", "query_emb")
    val exact = shortlist
      .join(e, "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cosine", dotCol(col("query_emb"), col("embedding")) /
        sqrt(dotCol(col("query_emb"), col("query_emb")) * dotCol(col("embedding"), col("embedding"))))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("cosine"), 6).as("cosine"))
  }

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
    val qLocal = e.orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val cents = index.ivf.centroids
    val pqNorm2 = index.pq.centroids.map(_.map(c => c.map(x => x.toDouble * x).sum))
    val centNorm2 = cents.map(c => c.map(x => x.toDouble * x).sum)
    val cdot = Array.tabulate(cents.length, index.pq.m, index.pq.k) { (li, j, c) =>
      val cent = cents(li)
      val sub = index.pq.centroids(j)(c)
      var d = 0.0
      var i = 0
      val off = j * index.pq.subDim
      while (i < sub.length && off + i < cent.length) { d += cent(off + i) * sub(i); i += 1 }
      d
    }
    val probes = qLocal.map { case (qid, qemb) =>
      val lists = nearestCentroids(qemb.toArray, cents, autoNProbe(nProbe, cents.length))
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
    val unionProbed: Set[Int] = probes.iterator.flatMap(_._2).toSet
    val bcProbes = spark.sparkContext.broadcast(probes)
    val bcUnion = spark.sparkContext.broadcast(unionProbed)
    val bcPqNorm2 = spark.sparkContext.broadcast(pqNorm2)
    val bcCentNorm2 = spark.sparkContext.broadcast(centNorm2)
    val bcCdot = spark.sparkContext.broadcast(cdot)
    val scored = codesDf
      .select(col("vec_id").cast("long"), col("list").cast("int"), col("codes"))
      .as[(Long, Int, Seq[Int])]
      .mapPartitions { it =>
        val ps = bcProbes.value
        val union = bcUnion.value
        val n2 = bcPqNorm2.value
        val cn2 = bcCentNorm2.value
        val cd = bcCdot.value
        it.flatMap { case (vid, li, codes) =>
          if (!union.contains(li)) Iterator.empty
          else {
            var xn2 = cn2(li)
            var j = 0
            while (j < codes.length) {
              xn2 += 2.0 * cd(li)(j)(codes(j)) + n2(j)(codes(j)); j += 1
            }
            val xn = math.max(math.sqrt(math.max(xn2, 0.0)), 1e-12)
            ps.iterator.flatMap { case (qid, probedSet, qtab, qDotCent, qn) =>
              if (qid == vid || !probedSet.contains(li)) None
              else {
                var dot = qDotCent(li)
                var jj = 0
                while (jj < codes.length) { dot += qtab(jj)(codes(jj)); jj += 1 }
                Some((qid, vid, dot / (math.max(qn, 1e-12) * xn)))
              }
            }
          }
        }
      }
      .toDF("query_id", "vec_id", "approx_cos")
    rerankShortlist(scored, e, qLocal, k, rerank)
  }

  def annRecallAudit(
      approx: DataFrame,
      exact: DataFrame,
      embeddings: DataFrame,
      k: Int,
      recallBarPct: Int): DataFrame = {
    val a = approx.select(col("query_id").cast("long").as("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"),
      col("cosine").as("a_cos"))
    val e = exact.select(col("query_id").cast("long").as("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    val emb = embeddings.select(col("vec_id"), col("embedding"))
      .withColumn("sd", dotCol(col("embedding"), col("embedding")))
    val qe = emb.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("sd").as("qd"))
    val ne = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("sd").as("nd"))
    val parity = a.join(qe, "query_id").join(ne, "neighbor_id")
      .withColumn("ec",
        round(cosineWithNorms(col("qe"), col("ne"), col("qd"), col("nd")), 6))
      .groupBy(col("query_id")).agg(
        count(lit(1)).as("n_results"),
        expr("bool_and(abs(a_cos - ec) < 2e-6)").as("rerank_ok"))
    parity.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        (col("n_results") === k).as("n_ok"),
        (coalesce(col("n_hits"), lit(0L)) * 100 >= lit(recallBarPct.toLong * k))
          .as("recall_ok"),
        col("rerank_ok"))
  }

  /** the modulus sample the index builders drew as a frame before
    * `SimSearch.trainingRows` pulled it: at most ~trainSample rows, the
    * whole frame when n <= trainSample or when the draw is empty, with the
    * corpus size n */
  def hashSample(embeddings: DataFrame, trainSample: Long): (DataFrame, Long) = {
    val n = embeddings.count()
    if (n <= trainSample) (embeddings, n)
    else {
      val keepOneIn = (n + trainSample - 1L) / trainSample
      val sampled = embeddings.filter(pmod(xxhash64(col("vec_id")), lit(keepOneIn)) === 0)
      (if (sampled.isEmpty) embeddings else sampled, n)
    }
  }

  /** the OPQ-IVF-PQ build that pulled its sample twice: `trainOpq` and
    * `buildIvfPqIndex` over the executor-rotated sample */
  def buildOpqIvfPqIndex(
      embeddings: DataFrame,
      nCentroids: Int = 16,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      dim: Int = 64,
      opqIters: Int = 3,
      trainSample: Long = 200000L): OpqIvfPqIndex = {
    val (sample, n) = hashSample(embeddings, trainSample)
    val nlist = autoNlist(n, nCentroids)
    val opq = trainOpq(sample, m, k, dim, opqIters, iters, trainSample)
    val idx = buildIvfPqIndex(rotateEmbeddings(sample, opq.rotation),
      nlist, m, k, iters, dim, trainSample)
    OpqIvfPqIndex(opq.rotation, idx)
  }
}
