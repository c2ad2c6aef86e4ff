package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** In-surface audit builders: fold an operator's output together with an
  * independent in-Spark baseline into DuckDB-assertable verdict rows —
  * the round-5 pattern that turned the rows-only surfaces into real
  * CORRECTNESS verdicts. The baseline side of each audit is itself
  * driver-oracled elsewhere (e.g. the brute-force top-k behind
  * [[annRecallAudit]] is q14's oracled surface), so the chain of trust
  * is: oracle proves the baseline, the audit proves the operator against
  * the baseline. */
object Audit {

  /** Per-query ANN serving audit vs the exact brute-force baseline.
    *
    * Emits one row per query: (query_id, k, n_ok, recall_ok, rerank_ok):
    *  - n_ok: the index returned exactly k results;
    *  - recall_ok: |approx ∩ exact top-k| * 100 >= recallBarPct * k —
    *    the bar is the measured per-query floor for the op on the verify
    *    corpora (deterministic data + seeds, so this is a regression
    *    pin, not a flake gate);
    *  - rerank_ok: every reported cosine equals the exact recompute
    *    (round 6) — proves the serving path reranks with true scores,
    *    not ADC/bucket approximations.
    *
    * Scale shape: one bounded pull — the approx and exact frames are
    * query-side (nQueries x k rows; local frames when they come from
    * `SimSearch`), and the only corpus read is ONE filtered collect of the
    * query and neighbour vectors the approx rows name. The verdicts are
    * computed on the driver with the SQL semantics of the join/aggregate
    * formulation they replace: rows with a NULL or unknown id drop out,
    * a duplicated vec_id multiplies rows, and `rerank_ok` is
    * bool_and(|a_cos - round(cosine, 6)| < 2e-6) — NULL comparisons are
    * skipped, and all-NULL is NULL. */
  def annRecallAudit(
      approx: DataFrame,
      exact: DataFrame,
      embeddings: DataFrame,
      k: Int,
      recallBarPct: Int): DataFrame = {
    val spark = approx.sparkSession
    // rows whose query_id or neighbor_id is NULL join nothing
    def idRows(df: DataFrame, extra: Column*): Array[(Long, Long, Row)] =
      df.select(Seq(col("query_id").cast("long"), col("neighbor_id").cast("long")) ++ extra: _*)
        .collect()
        .collect { case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1), r) }
    val a = idRows(approx, col("cosine"))
      .map { case (q, n, r) => (q, n, if (r.isNullAt(2)) None else Some(r.getDouble(2))) }
    val exactPairs = idRows(exact).map { case (q, n, _) => (q, n) }.toSet
    val hits = a.groupBy(_._1).map { case (q, rs) => q -> rs.count(r => exactPairs((r._1, r._2))) }
    val vecs = SimSearch.pullVectors(embeddings.select(col("vec_id"), col("embedding")),
      a.flatMap { case (q, n, _) => Seq(q, n) })
    val ansi = SimSearch.ansiEnabled(spark)
    // per query: (n_results, rerank_ok) — a None rerank_ok is SQL NULL
    val parity = scala.collection.mutable.LinkedHashMap[Long, (Long, Option[Boolean])]()
    for ((q, n, aCos) <- a;
         qe <- vecs.getOrElse(q, Array.empty[Array[Float]]);
         ne <- vecs.getOrElse(n, Array.empty[Array[Float]])) {
      val ec = Option(SimSearch.cosineOrNull(qe, SimSearch.selfDot(qe), ne, SimSearch.selfDot(ne), ansi))
        .map(c => roundHalfUp6(c.doubleValue))
      // 2e-6 admits ONE 6th-decimal rounding-step divergence: q49/q54
      // score in a Float-rotated basis (~1e-7 cosine error vs the
      // original basis this recompute uses), which can flip a value
      // sitting on a 5e-7 rounding boundary; ADC/bucket approximations
      // the gate exists to catch are 1e-2-class
      val ok = for (x <- aCos; y <- ec) yield math.abs(x - y) < 2e-6
      val (nr, all) = parity.getOrElse(q, (0L, None))
      parity(q) = (nr + 1, (all ++ ok).reduceOption(_ && _))
    }
    val rows = parity.toSeq.map { case (q, (nr, ok)) =>
      Row(q, k.toLong, nr == k, hits.getOrElse(q, 0) * 100L >= recallBarPct.toLong * k,
        ok.map(Boolean.box).orNull)
    }
    val schema = StructType(Seq(
      StructField("query_id", LongType, approx.schema("query_id").nullable),
      StructField("k", LongType, nullable = false),
      StructField("n_ok", BooleanType, nullable = false),
      StructField("recall_ok", BooleanType, nullable = false),
      StructField("rerank_ok", BooleanType, nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Spark's `round(x, 6)` on a double (HALF_UP on the shortest decimal) */
  private def roundHalfUp6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
}
