package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorFunctions._
import graft.operators.BinaryQuantizer
import Q._

/** Binary-quantization query surface. Like SQ8 (and unlike PQ's seeded
  * k-means), training is a deterministic min/max aggregate, so the whole
  * pipeline — train → pack → Hamming top-k — is DuckDB-oracle-checked end
  * to end. The mid-range threshold rule and LSB-first 16-bit packing are
  * pinned with identical op order on both sides (see
  * [[graft.operators.BQModel]]), so words and distances hash-match
  * exactly (integer Hamming ties break on neighbor_id, mirrored in the
  * oracle's ORDER BY).
  */
object BQQueries {

  private val D = 64
  private val K = 5

  /** Shared oracle CTEs: min/max training, the strict mid-range bit rule,
    * and the 16-bit word packing — the SQL mirror of
    * `BinaryQuantizer.train` + `BQModel.encodeVec`.
    */
  private val bqCtes = s"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    js AS (SELECT unnest(generate_series(1, $D)) AS j),
    stats AS (SELECT j, min(ev[j]) AS lo, max(ev[j]) AS hi
              FROM e CROSS JOIN js GROUP BY j),
    st AS (SELECT list(lo ORDER BY j) AS lo, list(hi ORDER BY j) AS hi
           FROM stats),
    bits AS (
      SELECT e.vec_id, js.j,
             CASE WHEN e.ev[js.j] >
                    st.lo[js.j] + (st.hi[js.j] - st.lo[js.j]) / 2.0
                  THEN 1 ELSE 0 END AS b
      FROM e CROSS JOIN js CROSS JOIN st),
    words AS (
      SELECT vec_id, ((j - 1) // 16)::BIGINT AS w,
             sum(b * (1 << ((j - 1) % 16)))::BIGINT AS word
      FROM bits GROUP BY vec_id, w)
  """

  // ---- Shared RaBitQ pieces (bq_rabitq_rerank + ivf_rabitq_knn): ONE
  // definition of the rotation, sign packing, per-vector measures,
  // estimator, and exact-rerank tail on BOTH the Spark and oracle sides,
  // so the flat and cell-routed serving paths cannot drift apart (the
  // same lesson as the parametric maxsim oracles).
  private val RKS = 40 // estimator shortlist depth

  private def rabitRot(c: org.apache.spark.sql.Column) =
    transform(sequence(lit(0), lit(D - 1)), p =>
      when(p % 5 === 0, lit(-1.0)).otherwise(lit(1.0)) *
        element_at(c, p * 37 % D + 1))

  /** Doc-side artifact: `extra` ++ (nid, packed sign words, n2x, sx, nx,
    * corr) — D/8 bytes + two floats per vector.
    */
  private def rabitDocs(
      emb: org.apache.spark.sql.DataFrame,
      extra: Seq[org.apache.spark.sql.Column] = Nil
  ): org.apache.spark.sql.DataFrame = {
    val fast = graft.functions.VectorExpressions
    emb
      .withColumn("r", rabitRot(col("vec")))
      .select(extra ++ Seq(
        col("vec_id").as("nid"),
        expr(
          "transform(sequence(0, 3), w -> aggregate(sequence(0, 15)," +
            " 0, (acc, b) -> acc + IF(r[w*16+b] > 0D, shiftleft(1, b), 0)))"
        ).as("words"),
        fast.dotFast(col("vec"), col("vec")).as("n2x"),
        expr("aggregate(r, 0D, (acc, x) -> acc + abs(x))").as("sx")): _*)
      .withColumn("nx", sqrt(col("n2x")))
      .withColumn("corr", col("sx") / (col("nx") * lit(8.0)))
  }

  /** Query-side artifact: (qq, rq, n2q) for every 10th vector. */
  private def rabitQueries(
      emb: org.apache.spark.sql.DataFrame
  ): org.apache.spark.sql.DataFrame = {
    val fast = graft.functions.VectorExpressions
    emb
      .filter(col("vec_id") % 10 === 0)
      .withColumn("rq", rabitRot(col("vec")))
      .select(
        col("vec_id").as("qq"), col("rq"),
        fast.dotFast(col("vec"), col("vec")).as("n2q"))
  }

  /** Estimator + per-query top-RKS shortlist over joined doc×query rows
    * (native codegen sign-dot kernel on the pair hot path — bit-identical
    * to the HOF fold, VectorFunctionsSpec-pinned).
    */
  private def rabitShortlist(
      joined: org.apache.spark.sql.DataFrame,
      qidCol: String
  ): org.apache.spark.sql.DataFrame = {
    val fast = graft.functions.VectorExpressions
    val est = joined
      .withColumn("s", fast.bitSignDotFast(col("words"), col("rq")))
      .withColumn("est", col("nx") * (col("s") / lit(8.0)) / col("corr"))
      .withColumn("d2est", col("n2q") + col("n2x") - lit(2.0) * col("est"))
    bestPer(est, Seq(qidCol), col("d2est"), "nid", RKS)
      .select(col(qidCol).as("query_id"), col("nid"))
  }

  /** Exact L2² rerank of the broadcast shortlist, top-K per query. */
  private def rabitRerank(
      emb: org.apache.spark.sql.DataFrame,
      shortlist: org.apache.spark.sql.DataFrame
  ): org.apache.spark.sql.DataFrame = {
    val fast = graft.functions.VectorExpressions
    val q = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qq2"), col("vec").as("qv"))
    val pairs = emb
      .select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
      .join(broadcast(shortlist), col("neighbor_id") === col("nid"))
      .join(broadcast(q), col("qq2") === col("query_id"))
    bestPer(pairs, Seq("query_id"), fast.l2SqFast(col("qv"), col("bv")),
      "neighbor_id", K)
      .select(
        col("query_id"),
        col("neighbor_id"),
        round(col("dist"), 4).as("dist"),
        col("rnk").cast("long").as("rnk")
      )
  }

  /** Oracle fragments mirroring the helpers above, 1:1. */
  private val sqlRabitRr0 = s"""rr0 AS (SELECT vec_id, ev,
                       list_transform(generate_series(0, ${D - 1}), p ->
                         (CASE WHEN p % 5 = 0 THEN -1.0 ELSE 1.0 END)
                           * ev[(p*37) % $D + 1]) AS r
                FROM e)"""

  /** The d2 doc-measure CTE; `extraCols`/`joinClause` admit the cell
    * assignment in the routed variant.
    */
  private def sqlRabitD2(extraCols: String, joinClause: String) =
    s"""d2 AS (SELECT d.vec_id AS nid,$extraCols d.r,
                      ${sqlDot("d.ev", "d.ev")} AS n2x,
                      sqrt(${sqlDot("d.ev", "d.ev")}) AS nx,
                      (list_sum(list_transform(generate_series(1, $D),
                         i -> abs(d.r[i]))))
                        / (sqrt(${sqlDot("d.ev", "d.ev")}) * 8.0) AS corr
               FROM rr0 d$joinClause)"""

  private val sqlRabitQs = s"""qs AS (SELECT vec_id AS query_id, ev AS qv, r AS rq,
                      ${sqlDot("ev", "ev")} AS n2q
               FROM rr0 WHERE vec_id % 10 = 0)"""

  private def sqlRabitEst(d: String, q: String) =
    s"""$q.n2q + $d.n2x - 2.0 *
                         ($d.nx * ((list_sum(list_transform(
                            generate_series(1, $D), j ->
                            CASE WHEN $d.r[j] > 0 THEN $q.rq[j]
                                 ELSE -$q.rq[j] END))) / 8.0) / $d.corr)"""

  private val sqlRabitTail = s"""sl AS (SELECT query_id, nid FROM (
                 SELECT query_id, nid,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY d2est, nid) AS rn
                 FROM est) WHERE rn <= $RKS),
        rrk AS (SELECT s.query_id, s.nid AS neighbor_id,
                       ${sqlL2Sq("qe.ev", "ne.ev")} AS dist
                FROM sl s
                JOIN e qe ON qe.vec_id = s.query_id
                JOIN e ne ON ne.vec_id = s.nid),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM rrk)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K"""

  val all: Seq[GQuery] = Seq(
    // Packed sign-bit codes, long-form (vec_id, w, word) — round-trips
    // the kernel's packing against the oracle's arithmetic packing, with
    // training inside the oracle too.
    GQuery(
      "bq_encode",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val model = BinaryQuantizer.train(emb, "vec")
        BinaryQuantizer.encodePartitioned(emb, "vec_id", "vec", model)
          .select(col("vec_id"), posexplode(col("words")).as(Seq("w", "word")))
          .select(
            col("vec_id"),
            col("w").cast("long").as("w"),
            col("word").cast("long").as("word")
          )
      },
      Some(s"""
        WITH $bqCtes
        SELECT vec_id, w, word FROM words
      """)
    ),
    // Hamming top-5 per query over the packed codes: both sides encode
    // through the same kernel, the distance is Σ popcount(xor) over four
    // 16-bit words, the merge is the bounded heap below the exchange —
    // the 1-bit analog of sq_adc_topk.
    GQuery(
      "bq_hamming_topk",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val model = BinaryQuantizer.train(emb, "vec")
        val codes = BinaryQuantizer.encodePartitioned(emb, "vec_id", "vec", model)
        val q = codes
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("words").as("qw"))
        val pairs = codes
          .select(col("vec_id").as("neighbor_id"), col("words").as("cw"))
          .join(broadcast(q))
          .withColumn(
            "dist",
            expr("aggregate(zip_with(qw, cw, (x, y) -> bit_count(x ^ y)), 0, (acc, h) -> acc + h)")
              .cast("double")
          )
        bestPer(pairs, Seq("query_id"), col("dist"), "neighbor_id", K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            col("dist").cast("long").as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $bqCtes,
        pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(bit_count(xor(q.word, c.word)))::BIGINT AS dist
          FROM words q JOIN words c ON q.w = c.w
          WHERE q.vec_id % 10 = 0
          GROUP BY 1, 2),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM pairs)
        SELECT query_id, neighbor_id, dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // Two-stage bit-vector retrieval: Hamming over 1-bit codes bounds the
    // candidates to kShort=30/query (stage 1 reads 64 BITS per vector —
    // the 64× byte cut is the scan win at 100 TB), exact L2² reranks only
    // the broadcast |Q|·30 shortlist. Deterministic training + integer
    // Hamming + id tie-breaks -> the WHOLE pipeline (train, pack, filter,
    // rerank) sits under one DuckDB oracle — no rows-only weakening.
    GQuery(
      "knn_bq_rerank",
      (spark, dir) => {
        val fast = graft.functions.VectorExpressions
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val model = BinaryQuantizer.train(emb, "vec")
        val codes = BinaryQuantizer.encodePartitioned(emb, "vec_id", "vec", model)
        val qc = codes
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("words").as("qw"))
        val hamming = codes
          .select(col("vec_id").as("nid"), col("words").as("cw"))
          .join(broadcast(qc))
          .withColumn(
            "hdist",
            expr("aggregate(zip_with(qw, cw, (x, y) -> bit_count(x ^ y)), 0, (acc, h) -> acc + h)")
              .cast("double")
          )
        val shortlist = bestPer(hamming, Seq("query_id"), col("hdist"), "nid", 30)
          .select(col("query_id"), col("nid"))
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("qq"), col("vec").as("qv"))
        val pairs = emb
          .select(col("vec_id").as("neighbor_id"), col("vec").as("bv"))
          .join(broadcast(shortlist), col("neighbor_id") === col("nid"))
          .join(broadcast(q), col("qq") === col("query_id"))
        bestPer(pairs, Seq("query_id"), fast.l2SqFast(col("qv"), col("bv")),
          "neighbor_id", K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 4).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $bqCtes,
        pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(bit_count(xor(q.word, c.word)))::BIGINT AS hdist
          FROM words q JOIN words c ON q.w = c.w
          WHERE q.vec_id % 10 = 0
          GROUP BY 1, 2),
        sl AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY hdist, neighbor_id) AS rn
                 FROM pairs) WHERE rn <= 30),
        rr AS (SELECT s.query_id, s.neighbor_id,
                      ${sqlL2Sq("qe.ev", "ne.ev")} AS dist
               FROM sl s
               JOIN e qe ON qe.vec_id = s.query_id
               JOIN e ne ON ne.vec_id = s.neighbor_id),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM rr)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // RaBitQ-style 1-bit serving (Gao & Long 2024): rotate with the fixed
    // signed permutation (orthonormal — the same arithmetic rotation as
    // pq_rotated), keep one SIGN BIT per rotated dimension (packed 16 to
    // a word — D/8 bytes/vector on the wire) plus two per-vector floats
    // (norm ‖x‖ and the correction ⟨x̄, ū⟩), and estimate the true dot as
    //   ⟨q, x⟩ ≈ ‖x‖ · (⟨sign(Px), Pq⟩ / √D) / corr
    // — the paper's geometric estimator, which unlike raw Hamming is in
    // DISTANCE UNITS, so the estimated L2² feeds a shortlist directly.
    // Exact rerank on the shortlist only. Everything is deterministic
    // arithmetic, so rotation, packing, estimator, shortlist, and rerank
    // are hash-checked end to end; the estimator quality gates live in
    // BQSpec.
    GQuery(
      "bq_rabitq_rerank",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val joined = rabitDocs(emb)
          .join(broadcast(rabitQueries(emb)
            .withColumnRenamed("qq", "query_id")))
        rabitRerank(emb, rabitShortlist(joined, "query_id"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        $sqlRabitRr0,
        ${sqlRabitD2("", "")},
        $sqlRabitQs,
        est AS (SELECT q.query_id, d.nid,
                       ${sqlRabitEst("d", "q")}
                         AS d2est
                FROM d2 d CROSS JOIN qs q),
        $sqlRabitTail
      """)
    ),
    // Codec x routing composition: the 1-bit RaBitQ estimator INSIDE
    // coarse IVF cells — a query's sign-dot estimates run only over its
    // nprobe=2 nearest cells (the ivf_knn scan cut), the estimator
    // shortlist bounds the exact rerank (the bq_rabitq_rerank byte cut).
    // Completes the codec x routing matrix alongside ivf_sq_knn (SQ),
    // ivfadc_knn (PQ residuals), and knn_maxsim_ivf (token PQ). All
    // deterministic: assignment, probes, estimator, shortlist, and
    // rerank hash-check end to end.
    GQuery(
      "ivf_rabitq_knn",
      (spark, dir) => {
        import graft.operators.{IvfIndex, KMeans}
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
          .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
        val docs = rabitDocs(
          emb,
          extra = Seq(
            KMeans.assignCol(spark, cents, col("vec")).cast("int").as("cell")))
        val probes = IvfIndex
          .probeCells(
            spark,
            emb.filter(col("vec_id") % 10 === 0)
              .select(col("vec_id").as("query_id"), col("vec").as("qv")),
            "query_id", "qv", cents, 2)
          .select(col("query_id"), col("cell"))
        val joined = docs
          .join(broadcast(probes), Seq("cell"))
          .join(broadcast(rabitQueries(emb)), col("qq") === col("query_id"))
        rabitRerank(emb, rabitShortlist(joined, "query_id"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        c8 AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < 8),
        ad AS (SELECT e.vec_id, c8.ck, ${sqlL2Sq("e.ev", "c8.cv")} AS dist
               FROM e CROSS JOIN c8),
        a AS (SELECT vec_id, ck AS cell FROM (
                SELECT vec_id, ck,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, ck) AS rn
                FROM ad) WHERE rn = 1),
        $sqlRabitRr0,
        ${sqlRabitD2(" a.cell,", " JOIN a ON a.vec_id = d.vec_id")},
        $sqlRabitQs,
        pr AS (SELECT query_id, cell FROM (
                 SELECT q.query_id, c8.ck AS cell,
                        row_number() OVER (PARTITION BY q.query_id
                                           ORDER BY ${sqlL2Sq("q.qv", "c8.cv")},
                                                    c8.ck) AS rn
                 FROM qs q CROSS JOIN c8) WHERE rn <= 2),
        est AS (SELECT q.query_id, d.nid,
                       ${sqlRabitEst("d", "q")}
                         AS d2est
                FROM d2 d
                JOIN pr ON pr.cell = d.cell
                JOIN qs q ON q.query_id = pr.query_id),
        $sqlRabitTail
      """)
    )
  )
}
