package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorFunctions._
import graft.operators.ScalarQuantizer
import Q._

/** SQ8 scalar-quantization query surface. Unlike PQ (seeded k-means
  * codebooks → ScalaTest-gated), SQ training is a deterministic min/max
  * aggregate, so the ENTIRE pipeline — train → encode → reconstruct →
  * ADC top-k — is DuckDB-oracle-checked end to end. The quantization rule
  * is pinned with identical IEEE-754 op order on both sides (see
  * [[graft.operators.SQModel]]), so codes and distances hash-match
  * bit-for-bit.
  */
object SQQueries {

  private val D = 64
  private val K = 5

  /** Shared oracle CTEs: per-dimension min/max training, the encode rule,
    * and per-vector reconstruction — the SQL mirror of
    * `ScalarQuantizer.train` + `SQModel.encodeVec/decodeCode`.
    */
  private[queries] val sqCtes = s"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    js AS (SELECT unnest(generate_series(1, $D)) AS j),
    stats AS (SELECT j, min(ev[j]) AS lo, max(ev[j]) AS hi
              FROM e CROSS JOIN js GROUP BY j),
    st AS (SELECT list(lo ORDER BY j) AS lo, list(hi ORDER BY j) AS hi
           FROM stats),
    enc AS (
      SELECT e.vec_id,
             list_transform(generate_series(1, $D), j ->
               CASE WHEN st.hi[j] <= st.lo[j] THEN 0.0
                    ELSE least(255.0, greatest(0.0,
                      floor((e.ev[j] - st.lo[j]) / (st.hi[j] - st.lo[j])
                            * 255 + 0.5)))
               END) AS code
      FROM e CROSS JOIN st),
    dec AS (
      SELECT enc.vec_id,
             list_transform(generate_series(1, $D), j ->
               st.lo[j] + enc.code[j] / 255.0 * (st.hi[j] - st.lo[j])) AS dv
      FROM enc CROSS JOIN st)
  """

  val all: Seq[GQuery] = Seq(
    // SQ encode under min/max training, long-form (vec_id, j, code) — the
    // deterministic-codec counterpart of pq_encode, training included in
    // the oracle.
    GQuery(
      "sq_encode",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val model = ScalarQuantizer.train(emb, "vec")
        ScalarQuantizer.encodePartitioned(emb, "vec_id", "vec", model)
          .select(col("vec_id"), posexplode(col("code")).as(Seq("j", "code")))
          .select(
            col("vec_id"),
            col("j").cast("long").as("j"),
            col("code").cast("long").as("code")
          )
      },
      Some(s"""
        WITH $sqCtes
        SELECT vec_id, (j - 1)::BIGINT AS j, code[j]::BIGINT AS code
        FROM enc CROSS JOIN js
      """)
    ),
    // Asymmetric-distance top-5 per query over the SQ-reconstructed base:
    // decode is declarative (builtin transform over plan-embedded lo/hi),
    // the distance is the codegen L2² kernel, the merge is the bounded
    // heap below the exchange — same plan shape as pq_adc_topk, with the
    // training inside the oracle too.
    GQuery(
      "sq_adc_topk",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val model = ScalarQuantizer.train(emb, "vec")
        val recon = ScalarQuantizer
          .encodePartitioned(emb, "vec_id", "vec", model)
          .select(
            col("vec_id").as("neighbor_id"),
            ScalarQuantizer.decodeCol(model, col("code")).as("dv")
          )
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val fast = graft.functions.VectorExpressions
        val pairs = recon
          .join(broadcast(q))
          .withColumn("dist", fast.l2SqFast(col("qv"), col("dv")))
        bestPer(pairs, Seq("query_id"), col("dist"), "neighbor_id", K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $sqCtes,
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pairs AS (
          SELECT q.query_id, dec.vec_id AS neighbor_id,
                 ${sqlL2Sq("q.qv", "dec.dv")} AS dist
          FROM q CROSS JOIN dec),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM pairs)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    )
  )
}
