package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorFunctions._
import graft.operators.{KMeans, PQModel, ProductQuantizer}
import Q._

/** Deterministic PQ / k-means query surface (SURVEY.md §2 F3-F7, C4, D4,
  * D8). Seeded k-means training is stochastic and gated by ScalaTest
  * accuracy bounds instead; these queries run the *same executor-side
  * operators* (encode/decode/ADC/assign/M-step) under a FIXED model —
  * centroids taken from the first rows of the embeddings table — so DuckDB
  * can hash-check them exactly.
  *
  * Fixed-model parameters: D=64, M=8 subspaces of D'=8, K=4 codebook
  * centroids (embeddings vec_id<4); k-means E/M-step uses 8 full-dim
  * centroids (vec_id<8).
  */
object PQQueries {

  private val M = 8
  private val DP = 8
  private val KCB = 4 // PQ codebook size
  private val KKM = 8 // k-means fixed centroid count
  // MaxSim token-model shape, shared between the Spark side and the DuckDB
  // oracles of knn_maxsim_pq / knn_maxsim_ivf — the SQL is generated from
  // these so changing the model can't silently desynchronize the oracle
  private val MST = 4 // tokens per vector (64 dims = MST tokens of MSD)
  private val MSD = 16 // dims per token
  private val MSM = 2 // PQ subspaces per token
  private val MSDS = MSD / MSM // dims per subspace
  private def sqlUnnest(n: Int): String =
    s"unnest([${(0 until n).mkString(",")}])"

  private val KDET = 4 // deterministic k-means++ / fixed-round fit k

  /** Unrolled replay of [[graft.operators.KMeans.ppInitDet]]: `e`
    * (embeddings as (id, v)), picks p0..p{k−1}, running min-D² tables
    * md0..md{k−2}. Coin/key spellings mirror the Spark side exactly
    * (md5-uniform in (0,1], A-ES key ln(u)/D², ties by id).
    */
  private def kmppCtes(k: Int): String = s"""
        e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
               FROM embeddings),
        ${kmppPickCtes(k)}"""

  /** The pick chain of [[kmppCtes]] alone — assumes a CTE `e(id, v)` is
    * already defined (the spherical fit runs it over the NORMALIZED
    * table; the flat fit over raw embeddings).
    */
  private def kmppPickCtes(k: Int): String = {
    def coin(j: Int) =
      s"((('0x' || substr(md5(id::VARCHAR || ':kmpp:$j'), 1, 14))::BIGINT" +
        s" % 1000000 + 1))::DOUBLE / 1000001.0"
    val sb = new StringBuilder
    sb ++= s"""
        p0 AS MATERIALIZED (SELECT id, v FROM (
               SELECT id, v, row_number() OVER (ORDER BY ${coin(0)}, id) AS rn
               FROM e) WHERE rn = 1),
        md0 AS MATERIALIZED (SELECT e.id, e.v,
               ${sqlL2Sq("e.v", "p0.v")} AS md FROM e CROSS JOIN p0)"""
    for (j <- 1 until k) {
      sb ++= s""",
        p$j AS MATERIALIZED (SELECT id, v FROM (
               SELECT id, v, row_number() OVER (
                 ORDER BY ln(${coin(j)}) / md DESC, id) AS rn
               FROM md${j - 1} WHERE md > 0) WHERE rn = 1)"""
      if (j < k - 1) sb ++= s""",
        md$j AS MATERIALIZED (SELECT m.id, m.v,
               least(m.md, ${sqlL2Sq("m.v", s"p$j.v")}) AS md
               FROM md${j - 1} m CROSS JOIN p$j)"""
    }
    sb.toString
  }

  /** The full deterministic-fit replay: [[kmppCtes]] init → cent0 → two
    * Lloyd rounds (argmin assignment a1/a2, decimal-exact means m1/m2,
    * empty clusters keep their centroid) → cent2. Shared by
    * kmeans_fit_det and the clustering-eval queries that score the same
    * fit.
    */
  private def kmFitCtes(k: Int): String = s"""
        ${kmppCtes(k)},
        cent0 AS MATERIALIZED (
          ${(0 until k)
            .map(j => s"SELECT $j AS ck, v FROM p$j")
            .mkString(" UNION ALL ")}),
        ${(1 to 2).map(r => s"""
        d$r AS (SELECT e.id, c.ck, ${sqlL2Sq("e.v", "c.v")} AS dist
                FROM e CROSS JOIN cent${r - 1} c),
        a$r AS MATERIALIZED (SELECT id, ck FROM (
                 SELECT id, ck, row_number() OVER (PARTITION BY id
                                                   ORDER BY dist, ck) AS rn
                 FROM d$r) WHERE rn = 1),
        m$r AS (SELECT a.ck, gs.i AS pos,
                       sum((e.v[gs.i])::DECIMAL(38,30))::DOUBLE
                         / count(*) AS m
                FROM a$r a JOIN e ON e.id = a.id
                CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
                GROUP BY a.ck, gs.i),
        cent$r AS MATERIALIZED (
          SELECT c.ck, coalesce(ml.vv, c.v) AS v
          FROM cent${r - 1} c
          LEFT JOIN (SELECT ck, list(m ORDER BY pos) AS vv
                     FROM m$r GROUP BY ck) ml ON ml.ck = c.ck)""")
          .mkString(",")}"""

  /** Final assignment under cent2 (the serving E-step the eval queries
    * score) + the (cluster, label) join: a3 = argmin (dist, ck), j3 =
    * per-point (u = cluster, v = ground-truth label).
    */
  private def kmAssign3Ctes: String = s"""
        d3 AS (SELECT e.id, c.ck, ${sqlL2Sq("e.v", "c.v")} AS dist
               FROM e CROSS JOIN cent2 c),
        a3 AS MATERIALIZED (SELECT id, ck FROM (
                 SELECT id, ck, row_number() OVER (PARTITION BY id
                                                   ORDER BY dist, ck) AS rn
                 FROM d3) WHERE rn = 1),
        j3 AS MATERIALIZED (SELECT a.id, a.ck::BIGINT AS u,
                      em.label::BIGINT AS v
              FROM a3 a JOIN embeddings em ON em.vec_id = a.id)"""

  /** The spherical-fit replay ([[graft.operators.SphericalKMeans]]):
    * e = the l2-NORMALIZED table, the same md5-coin k-means++ picks over
    * it, then two rounds of argmin-L2²-on-the-sphere assignment (= argmax
    * cosine, identical tie semantics to the flat kernel), decimal-exact
    * means, and a RENORMALIZE back onto the sphere (list_sum fold in
    * dimension order — the driver's spelling); empty clusters and
    * zero-norm means keep their centroid.
    */
  private def skmFitCtes(k: Int): String = s"""
        e0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
               FROM embeddings),
        e AS MATERIALIZED (
          SELECT id, list_transform(v, x -> x / nrm) AS v
          FROM (SELECT id, v, sqrt(${sqlDot("v", "v")}) AS nrm FROM e0)
          WHERE nrm > 0),
        ${kmppPickCtes(k)},
        cent0 AS MATERIALIZED (
          ${(0 until k)
            .map(j => s"SELECT $j AS ck, v FROM p$j")
            .mkString(" UNION ALL ")}),
        ${(1 to 2).map(r => s"""
        d$r AS (SELECT e.id, c.ck, ${sqlL2Sq("e.v", "c.v")} AS dist
                FROM e CROSS JOIN cent${r - 1} c),
        a$r AS MATERIALIZED (SELECT id, ck FROM (
                 SELECT id, ck, row_number() OVER (PARTITION BY id
                                                   ORDER BY dist, ck) AS rn
                 FROM d$r) WHERE rn = 1),
        m$r AS (SELECT a.ck, gs.i AS pos,
                       sum((e.v[gs.i])::DECIMAL(38,30))::DOUBLE
                         / count(*) AS m
                FROM a$r a JOIN e ON e.id = a.id
                CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
                GROUP BY a.ck, gs.i),
        mm$r AS (SELECT ck, vv,
                        sqrt(list_sum(list_transform(vv, x -> x * x)))
                          AS nrm
                 FROM (SELECT ck, list(m ORDER BY pos) AS vv
                       FROM m$r GROUP BY ck)),
        cent$r AS MATERIALIZED (
          SELECT c.ck,
                 CASE WHEN ml.nrm > 0
                      THEN list_transform(ml.vv, x -> x / ml.nrm)
                      ELSE c.v END AS v
          FROM cent${r - 1} c
          LEFT JOIN mm$r ml ON ml.ck = c.ck)""").mkString(",")}"""

  /** The deterministic fit's final centroids, collected once per sf dir
    * and shared by the eval queries (the fit itself is the distributed
    * [[graft.operators.KMeans.fitDeterministic]] pass).
    */
  private def sharedKmFit(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): Array[Array[Double]] =
    Artifacts.get("km_fit", dir) {
      val emb = Q.t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val rows = graft.operators.KMeans
        .fitDeterministic(emb, "vec_id", "v", k = KDET, rounds = 2)
        .collect()
      val cents = Array.ofDim[Double](KDET, 64)
      rows.foreach { r =>
        cents(r.getLong(0).toInt)(r.getLong(1).toInt - 1) = r.getDouble(2)
      }
      cents
    }

  /** The spherical fit's final unit centroids, collected once per sf dir
    * and shared with the assignment query.
    */
  private def sharedSkmFit(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): Array[Array[Double]] =
    Artifacts.get("skm_fit", dir) {
      val emb = Q.t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val rows = graft.operators.SphericalKMeans
        .fitDeterministic(emb, "vec_id", "v", k = KDET, rounds = 2)
        .collect()
      val cents = Array.ofDim[Double](KDET, 64)
      rows.foreach { r =>
        cents(r.getLong(0).toInt)(r.getLong(1).toInt - 1) = r.getDouble(2)
      }
      cents
    }

  /** SQL replay of KMeans.parallelInitDet(k, rounds, l): Bahmani
    * sampling rounds with md5 coins + decimal-exact φ, positional-argmin
    * assignment, attraction weights, and the Efraimidis–Spirakis
    * weighted k-means++ reduction to k picks (pk0..pk{k-1}). Leaves `e`
    * and the pick CTEs in scope for the Lloyd rounds that follow.
    */
  private def kmllCtes(k: Int, rounds: Int, l: Int): String = {
    def coinD(r: Int) =
      s"((('0x' || substr(md5(e.id::VARCHAR || ':kmllD:$r'), 1, 14))::BIGINT" +
        s" % 1000000 + 1))::DOUBLE / 1000001.0"
    def coinW(j: Int) =
      s"((('0x' || substr(md5(s.id::VARCHAR || ':kmllw:$j'), 1, 14))::BIGINT" +
        s" % 1000000 + 1))::DOUBLE / 1000001.0"
    val sb = new StringBuilder
    sb ++= s"""
        e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
               FROM embeddings),
        cd0 AS MATERIALIZED (SELECT 0::BIGINT AS rnd, id, v FROM e
               ORDER BY id LIMIT 1)"""
    for (r <- 0 until rounds) {
      sb ++= s""",
        ct$r AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY rnd, id) - 1 AS pos, id, v
          FROM cd$r),
        asg$r AS MATERIALIZED (
          SELECT eid, d2 FROM (
            SELECT eid, pos, d2,
                   row_number() OVER (PARTITION BY eid
                                      ORDER BY d2, pos) AS rn
            FROM (SELECT e.id AS eid, c.pos,
                         ${sqlL2Sq("e.v", "c.v")} AS d2
                  FROM e CROSS JOIN ct$r c)) WHERE rn = 1),
        phi$r AS (SELECT sum(d2::DECIMAL(38,30))::DOUBLE AS phi
                  FROM asg$r),
        sm$r AS MATERIALIZED (
          SELECT ${r + 1}::BIGINT AS rnd, e.id, e.v
          FROM asg$r a JOIN e ON e.id = a.eid
          WHERE (SELECT phi FROM phi$r) > 0
            AND ${coinD(r)} < $l.0 * a.d2 / (SELECT phi FROM phi$r)),
        cd${r + 1} AS MATERIALIZED (
          SELECT * FROM cd$r UNION ALL SELECT * FROM sm$r)"""
    }
    sb ++= s""",
        ctF AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY rnd, id) - 1 AS pos, id, v
          FROM cd$rounds),
        aw AS MATERIALIZED (
          SELECT eid, pos FROM (
            SELECT eid, pos,
                   row_number() OVER (PARTITION BY eid
                                      ORDER BY d2, pos) AS rn
            FROM (SELECT e.id AS eid, c.pos,
                         ${sqlL2Sq("e.v", "c.v")} AS d2
                  FROM e CROSS JOIN ctF c)) WHERE rn = 1),
        st0 AS MATERIALIZED (
          SELECT c.pos, c.id, c.v, (coalesce(n.n, 0) + 1)::BIGINT AS w,
                 'infinity'::DOUBLE AS md
          FROM ctF c LEFT JOIN (SELECT pos, count(*) AS n
                                FROM aw GROUP BY pos) n
            ON n.pos = c.pos)"""
    for (j <- 0 until k) {
      val weff = if (j == 0) "s.w::DOUBLE" else "s.md * s.w"
      val notPicked =
        if (j == 0) ""
        else s"""WHERE s.pos NOT IN (${(0 until j)
          .map(x => s"SELECT pos FROM pk$x")
          .mkString(" UNION ALL ")})"""
      sb ++= s""",
        pk$j AS MATERIALIZED (
          SELECT pos, id, v FROM (
            SELECT s.pos, s.id, s.v,
                   CASE WHEN $weff > 0 THEN 1 ELSE 0 END AS elig,
                   CASE WHEN $weff > 0
                        THEN ln(${coinW(j)}) / ($weff) END AS key
            FROM st$j s
            $notPicked)
          ORDER BY elig DESC, key DESC NULLS LAST, id, pos LIMIT 1)"""
      if (j < k - 1) sb ++= s""",
        st${j + 1} AS MATERIALIZED (
          SELECT s.pos, s.id, s.v, s.w,
                 least(s.md, ${sqlL2Sq("s.v", "p.v")}) AS md
          FROM st$j s CROSS JOIN pk$j p)"""
    }
    sb.toString
  }

  /** First-k embedding vectors as doubles, ordered by vec_id. */
  private def headVecs(
      spark: SparkSession,
      dir: String,
      k: Int
  ): Array[Array[Double]] =
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < k)
      .orderBy(col("vec_id"))
      .select(toDouble(col("embedding")))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  private def fixedModel(spark: SparkSession, dir: String): PQModel = {
    val rows = headVecs(spark, dir, KCB)
    val d = rows(0).length
    PQModel(
      M, KCB, d,
      Array.tabulate(M)(mi =>
        rows.map(v =>
          java.util.Arrays.copyOfRange(v, mi * DP, (mi + 1) * DP)))
    )
  }

  private val RQK = 32 // RVQ fixed codebook size per stage

  /** Fixed 2-stage RVQ model: stage 0 = first RQK embeddings, stage 1 =
    * the same vectors scaled by 0.25 (exact power-of-two scaling, so both
    * engines derive bit-identical stage-1 codewords).
    */
  private def fixedRqModel(
      spark: SparkSession,
      dir: String
  ): graft.operators.ResidualQuantizer.RQModel = {
    val rows = headVecs(spark, dir, RQK)
    graft.operators.ResidualQuantizer.RQModel(
      2, RQK, rows(0).length,
      Array(rows, rows.map(_.map(_ * 0.25))))
  }

  /** DuckDB CTEs shared by the RVQ oracles: stage-0 argmin, residual
    * carry, stage-1 argmin over the 0.25-scaled book. Same left-to-right
    * accumulation and (dist, index) tie-break as the native argmin.
    */
  private val rqCtes = s"""
    cb AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id < $RQK),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    d0 AS (SELECT e.vec_id, cb.ck,
                  list_sum(list_transform(generate_series(1, 64),
                    j -> (e.ev[j]-cb.cv[j])*(e.ev[j]-cb.cv[j]))) AS dist
           FROM e CROSS JOIN cb),
    c0 AS (SELECT vec_id, ck AS code0 FROM (
             SELECT vec_id, ck,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, ck) AS rn
             FROM d0)
           WHERE rn = 1),
    r1 AS (SELECT e.vec_id,
                  list_transform(generate_series(1, 64),
                    j -> e.ev[j] - cb.cv[j]) AS rv
           FROM e JOIN c0 USING (vec_id) JOIN cb ON cb.ck = c0.code0),
    d1 AS (SELECT r1.vec_id, cb.ck,
                  list_sum(list_transform(generate_series(1, 64),
                    j -> (r1.rv[j]-0.25*cb.cv[j])*(r1.rv[j]-0.25*cb.cv[j]))) AS dist
           FROM r1 CROSS JOIN cb),
    c1 AS (SELECT vec_id, ck AS code1 FROM (
             SELECT vec_id, ck,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, ck) AS rn
             FROM d1)
           WHERE rn = 1)
  """

  /** DuckDB CTEs shared by the PQ oracles: fixed codebook + encode +
    * decode. Distances accumulate left-to-right exactly like the Scala
    * kernels, so argmins and ranks agree bit-for-bit.
    */
  private val pqCtes = s"""
    cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < $KCB),
    ms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    dists AS (
      SELECT e.vec_id, ms.m, cent.ck,
             list_sum(list_transform(generate_series(1, $DP),
               j -> (e.ev[ms.m*$DP+j] - cent.cv[ms.m*$DP+j])
                    * (e.ev[ms.m*$DP+j] - cent.cv[ms.m*$DP+j]))) AS dist
      FROM e CROSS JOIN ms CROSS JOIN cent),
    enc AS (
      SELECT vec_id, m, ck AS code FROM (
        SELECT vec_id, m, ck,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY dist, ck) AS rn
        FROM dists) WHERE rn = 1),
    subcent AS (SELECT ck, m, cv[m*$DP+1 : m*$DP+$DP] AS sl
                FROM cent CROSS JOIN ms),
    dec AS (
      SELECT enc.vec_id, flatten(list(sc.sl ORDER BY enc.m)) AS dv
      FROM enc JOIN subcent sc ON sc.m = enc.m AND sc.ck = enc.code
      GROUP BY enc.vec_id)
  """

  val all: Seq[GQuery] = Seq(
    // F3: PQ encode under the fixed codebook -> (vec_id, m, code).
    GQuery(
      "pq_encode",
      (spark, dir) => {
        val model = fixedModel(spark, dir)
        t(spark, dir, "embeddings")
          .select(
            col("vec_id"),
            posexplode(
              ProductQuantizer.encodeCol(model, toDouble(col("embedding")))
            ).as(Seq("m", "code"))
          )
          .select(
            col("vec_id"),
            col("m").cast("long").as("m"),
            col("code").cast("long").as("code")
          )
      },
      Some(s"""
        WITH $pqCtes
        SELECT vec_id, m::BIGINT AS m, code::BIGINT AS code FROM enc
      """)
    ),
    // F4: reconstruction error of decode(encode(v)) per vector.
    GQuery(
      "pq_reconstruction",
      (spark, dir) => {
        val model = fixedModel(spark, dir)
        val v = toDouble(col("embedding"))
        t(spark, dir, "embeddings")
          .withColumn(
            "recon",
            ProductQuantizer.decodeCol(
              model,
              ProductQuantizer.encodeCol(model, v)
            )
          )
          .select(
            col("vec_id"),
            round(l2Sq(v, col("recon")), 6).as("err")
          )
      },
      Some(s"""
        WITH $pqCtes
        SELECT e.vec_id, round(${sqlL2Sq("e.ev", "dec.dv")}, 6) AS err
        FROM e JOIN dec ON e.vec_id = dec.vec_id
      """)
    ),
    // F5 + D1: asymmetric-distance top-5 per query over encoded base,
    // via the reference's batch-ADC tactic (py/PRODUCT_QUANTIZATION.md:
    // 157-169): one M*K lookup table per query (pq_adc_lut), then each
    // candidate distance is M array lookups (pq_adc_from_lut) inside
    // whole-stage codegen — bit-identical to direct ADC because both
    // accumulate per-subspace partials in subspace order. The oracle
    // mirrors that order exactly: per-subspace sums in j order, then an
    // m-ordered list_sum.
    GQuery(
      "pq_adc_topk",
      (spark, dir) => {
        val model = fixedModel(spark, dir)
        val emb = t(spark, dir, "embeddings")
        val enc = emb.select(
          col("vec_id").as("neighbor_id"),
          ProductQuantizer.encodeCol(model, toDouble(col("embedding"))).as("code")
        )
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(
            col("vec_id").as("query_id"),
            ProductQuantizer.lutCol(model, toDouble(col("embedding"))).as("lut")
          )
        // bounded-heap top-k (partial agg before the shuffle) instead of a
        // rank window — a window would sort ALL |Q|·|B| pairs through one
        // exchange; the heap reduces each partition to k rows per query
        // first (same plan shape as knn_bruteforce; heap == window proven
        // in VectorFunctionsSpec)
        val pairs = enc
          .join(broadcast(q))
          .withColumn(
            "dist",
            ProductQuantizer.adcFromLutCol(model, col("lut"), col("code")))
        bestPer(pairs, Seq("query_id"), col("dist"), "neighbor_id", 5)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $pqCtes,
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        qd AS (
          SELECT q.query_id, ms.m, cent.ck,
                 list_sum(list_transform(generate_series(1, $DP),
                   j -> (q.qv[ms.m*$DP+j] - cent.cv[ms.m*$DP+j])
                        * (q.qv[ms.m*$DP+j] - cent.cv[ms.m*$DP+j]))) AS sdist
          FROM q CROSS JOIN ms CROSS JOIN cent),
        adc AS (
          SELECT qd.query_id, enc.vec_id AS neighbor_id,
                 list_sum(list(qd.sdist ORDER BY qd.m)) AS dist
          FROM enc JOIN qd ON qd.m = enc.m AND qd.ck = enc.code
          GROUP BY 1, 2),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM adc)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= 5
      """)
    ),
    // D8: Recall@5 of the ADC ranking vs the exact ranking per query.
    GQuery(
      "pq_recall_adc",
      (spark, dir) => {
        val model = fixedModel(spark, dir)
        val emb = t(spark, dir, "embeddings")
        val enc = emb.select(
          col("vec_id").as("neighbor_id"),
          ProductQuantizer
            .decodeCol(
              model,
              ProductQuantizer.encodeCol(model, toDouble(col("embedding")))
            ).as("dv"),
          toDouble(col("embedding")).as("bv")
        )
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qv"))
        val fast = graft.functions.VectorExpressions
        // ONE aggregation pass carries both bounded heaps (approx + exact
        // rankings) — no rank windows, no |Q|·|B| sort exchanges; the
        // heap's (dist, id) ordering matches the windows' tie-break
        val tops = enc.join(broadcast(q))
          .withColumn("adist", fast.l2SqFast(col("qv"), col("dv")))
          .withColumn("edist", fast.l2SqFast(col("qv"), col("bv")))
          .groupBy(col("query_id"))
          .agg(
            graft.functions.TopKAgg.topK(col("adist"), col("neighbor_id"), 5).as("ta"),
            graft.functions.TopKAgg.topK(col("edist"), col("neighbor_id"), 5).as("te")
          )
        tops
          .select(
            col("query_id"),
            (size(array_intersect(col("ta.id"), col("te.id"))) / 5.0).as("recall")
          )
          // the window formulation emits no row for an empty intersection
          // (GROUP BY after the rank filter); keep that contract
          .filter(col("recall") > 0)
      },
      Some(s"""
        WITH $pqCtes,
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        ranked AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${sqlL2Sq("q.qv", "dec.dv")}, e.vec_id) AS arnk,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY ${sqlL2Sq("q.qv", "e.ev")}, e.vec_id) AS ernk
          FROM q CROSS JOIN e JOIN dec ON dec.vec_id = e.vec_id)
        SELECT query_id, (count(*) / 5.0) AS recall
        FROM ranked WHERE arnk <= 5 AND ernk <= 5
        GROUP BY query_id
      """)
    ),
    // F6: symmetric code-to-code distances for all pairs of the first 50
    // vectors (the build-time distance of compressed HNSW).
    GQuery(
      "pq_sdc_pairs",
      (spark, dir) => {
        val model = fixedModel(spark, dir)
        val enc = t(spark, dir, "embeddings")
          .filter(col("vec_id") < 50)
          .select(
            col("vec_id"),
            ProductQuantizer.encodeCol(model, toDouble(col("embedding"))).as("code")
          )
        enc.as("a")
          .join(enc.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(
            col("a.vec_id").as("id_a"),
            col("b.vec_id").as("id_b"),
            round(
              ProductQuantizer.sdcCol(model, col("a.code"), col("b.code")), 6
            ).as("dist")
          )
      },
      Some(s"""
        WITH $pqCtes
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(${sqlL2Sq("a.dv", "b.dv")}, 6) AS dist
        FROM dec a JOIN dec b
          ON a.vec_id < b.vec_id AND a.vec_id < 50 AND b.vec_id < 50
      """)
    ),
    // M2: full distributed k-means fit (seeded-stochastic -> rows-only
    // check; accuracy gated in KMeansPQSpec). Output: fitted centroids.
    GQuery(
      "kmeans_fit",
      (spark, dir) => {
        import spark.implicits._
        val emb = t(spark, dir, "embeddings")
          .select(toDouble(col("embedding")).as("v"))
        val r = graft.operators.KMeans.fit(emb, "v", k = 8, seed = 42, maxIter = 8)
        r.centroids.zipWithIndex
          .flatMap { case (c, ci) =>
            c.zipWithIndex.map { case (x, pos) => (ci.toLong, pos.toLong, x) }
          }
          .toSeq
          .toDF("cluster", "pos", "cval")
      },
      None
    ),
    // k-means with k-means|| initialization (Bahmani 2012) — the fully
    // distributed init path: every corpus point gets an md5-uniform
    // sampling coin each round (no driver sample cap), candidates are
    // weighted and reduced to k locally. Seeded-stochastic like
    // kmeans_fit (rows-only); KMeansPQSpec gates determinism and
    // cluster-coverage on separated geometry.
    GQuery(
      "kmeans_parallel_fit",
      (spark, dir) => {
        import spark.implicits._
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val init = graft.operators.KMeans.parallelInit(
          emb, "vec_id", "v", k = 8, seed = 42, rounds = 3)
        val r = graft.operators.KMeans.fit(
          emb, "v", k = 8, seed = 42, maxIter = 8, initCentroids = Some(init))
        r.centroids.zipWithIndex
          .flatMap { case (c, ci) =>
            c.zipWithIndex.map { case (x, pos) => (ci.toLong, pos.toLong, x) }
          }
          .toSeq
          .toDF("cluster", "pos", "cval")
      },
      None
    ),
    // DETERMINISTIC k-means++ seeding (md5 A-ES coin, no JVM RNG):
    // pick 0 = argmin (u, id) — the uniform draw; pick j = argmax
    // (ln(u_j)/D², −id) over points off the chosen set — Efraimidis–
    // Spirakis gives exactly the paper's P ∝ D². Every float the replay
    // touches is engine-identical (md5 coin, left-fold D², ln of equal
    // doubles), so the init that kept kmeans_fit rows-only is itself
    // hash-checked here.
    GQuery(
      "kmeans_init_det",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        KMeans.ppInitDet(emb, "vec_id", "v", k = KDET)
          .select(col("rnd"), col("id").as("vec_id"))
      },
      Some(s"""
        WITH ${kmppCtes(KDET)}
        ${(0 until KDET)
          .map(j => s"SELECT $j::BIGINT AS rnd, id AS vec_id FROM p$j")
          .mkString(" UNION ALL ")}
      """)
    ),
    // Fully deterministic distributed k-means fit: md5-coin k-means++
    // init + 2 FIXED Lloyd rounds (native-argmin E-step, DECIMAL(38,30)
    // exact M-step means, empty clusters keep their centroid) — the
    // fixed schedule unrolls into SQL CTE rounds, moving the full-fit
    // trajectory from rows-only (kmeans_fit's JVM-RNG init) to
    // hash-checked end to end.
    GQuery(
      "kmeans_fit_det",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        KMeans.fitDeterministic(emb, "vec_id", "v", k = KDET, rounds = 2)
          .select(col("cluster"), col("pos"), round(col("mval"), 6).as("mval"))
      },
      Some(s"""
        WITH ${kmFitCtes(KDET)}
        SELECT ck::BIGINT AS cluster, gs.i::BIGINT AS pos,
               round(v[gs.i], 6) AS mval
        FROM cent2
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
      """)
    ),
    // SPHERICAL k-means (Dhillon & Modha 2001) — the clustering
    // convention embedding pipelines standardize on (SemDeDup blocking,
    // cosine-serving IVF coarse quantizers): l2-normalize once, assign
    // by argmin L2² ON THE SPHERE (‖v−c‖² = 2−2·cos, so it IS argmax
    // cosine with the flat kernel's tie semantics), decimal-exact means
    // RENORMALIZED back onto the sphere each round. Same md5-coin
    // k-means++ init discipline; the whole fixed schedule unrolls into
    // SQL rounds, hash-checked.
    GQuery(
      "kmeans_spherical_fit",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        graft.operators.SphericalKMeans
          .fitDeterministic(emb, "vec_id", "v", k = KDET, rounds = 2)
          .select(col("cluster"), col("pos"), round(col("mval"), 6).as("mval"))
      },
      Some(s"""
        WITH ${skmFitCtes(KDET)}
        SELECT ck::BIGINT AS cluster, gs.i::BIGINT AS pos,
               round(v[gs.i], 6) AS mval
        FROM cent2
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
      """)
    ),
    // The spherical serving E-step: every vector's cluster under the
    // frozen unit centroids plus its cosine to that centroid — the
    // SemDeDup blocking signal (within-cluster cosine is exactly what
    // its near-dup threshold reads). One broadcast argmin scan, no
    // shuffle; the oracle re-derives the fit and re-assigns.
    GQuery(
      "kmeans_spherical_assign",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        graft.operators.SphericalKMeans
          .assign(emb, "vec_id", "v", sharedSkmFit(spark, dir))
          .select(
            col("id").as("vec_id"), col("cluster"),
            round(col("sim"), 6).as("sim"))
      },
      Some(s"""
        WITH ${skmFitCtes(KDET)},
        d3 AS (SELECT e.id, c.ck, ${sqlL2Sq("e.v", "c.v")} AS dist,
                      ${sqlDot("e.v", "c.v")} AS sim
               FROM e CROSS JOIN cent2 c),
        a3 AS (SELECT id, ck, sim FROM (
                 SELECT id, ck, sim,
                        row_number() OVER (PARTITION BY id
                                           ORDER BY dist, ck) AS rn
                 FROM d3) WHERE rn = 1)
        SELECT id AS vec_id, ck::BIGINT AS cluster, round(sim, 6) AS sim
        FROM a3
      """)
    ),
    // External clustering agreement — ARI (Hubert–Arabie) + NMI
    // (Strehl–Ghosh) of the deterministic k-means fit against the
    // ground-truth label column: the eval every blocking/topic-balance
    // stage should publish before trusting its clusters. Pure integer
    // combinatorics divided once (ARI) + decimal-routed ln terms on
    // exact integer ratios (NMI); the oracle replays the whole fit and
    // re-derives both scores.
    GQuery(
      "eval_clustering_agreement",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"),
            col("label"))
        val cents = sharedKmFit(spark, dir)
        val assign = emb.select(
          col("vec_id").as("id"),
          KMeans.assignCol(spark, cents, col("v")).cast("long").as("cluster"))
        graft.operators.ClusterEval
          .agreement(assign, emb.select(col("vec_id").as("id"), col("label")))
          .select(col("n"), round(col("ari"), 6).as("ari"),
            round(col("nmi"), 6).as("nmi"))
      },
      Some(s"""
        WITH ${kmFitCtes(KDET)},
        ${kmAssign3Ctes},
        contg AS MATERIALIZED (SELECT j3.u, j3.v, count(*)::BIGINT AS nij
                FROM j3 GROUP BY j3.u, j3.v),
        cau AS MATERIALIZED (SELECT u, sum(nij)::BIGINT AS ai
               FROM contg GROUP BY u),
        cbv AS MATERIALIZED (SELECT v, sum(nij)::BIGINT AS bj
               FROM contg GROUP BY v),
        cnn AS (SELECT count(*)::BIGINT AS n FROM j3),
        csum AS (SELECT
                  (SELECT sum(nij * (nij - 1) // 2)::BIGINT FROM contg) AS sij,
                  (SELECT sum(ai * (ai - 1) // 2)::BIGINT FROM cau) AS sa,
                  (SELECT sum(bj * (bj - 1) // 2)::BIGINT FROM cbv) AS sb,
                  n, (n * (n - 1) // 2)::BIGINT AS cn2
                 FROM cnn),
        cmi AS (SELECT sum(((nij::DOUBLE / n) *
                  ln((n::DOUBLE * nij) / (ai::DOUBLE * bj)))
                  ::DECIMAL(38,20))::DOUBLE AS mi
                FROM contg JOIN cau USING (u) JOIN cbv USING (v)
                CROSS JOIN cnn),
        chu AS (SELECT sum((-(ai::DOUBLE / n) * ln(ai::DOUBLE / n))
                  ::DECIMAL(38,20))::DOUBLE AS hu
                FROM cau CROSS JOIN cnn),
        chv AS (SELECT sum((-(bj::DOUBLE / n) * ln(bj::DOUBLE / n))
                  ::DECIMAL(38,20))::DOUBLE AS hv
                FROM cbv CROSS JOIN cnn)
        SELECT s.n,
               round((s.sij::DOUBLE - s.sa::DOUBLE * s.sb / s.cn2)
                     / ((s.sa + s.sb)::DOUBLE / 2.0
                        - s.sa::DOUBLE * s.sb / s.cn2), 6) AS ari,
               round(CASE WHEN chu.hu > 0 AND chv.hv > 0
                          THEN cmi.mi / sqrt(chu.hu * chv.hv)
                          ELSE 0.0::DOUBLE END, 6) AS nmi
        FROM csum s CROSS JOIN cmi CROSS JOIN chu CROSS JOIN chv
      """)
    ),
    // Internal clustering indexes for the same fit — Calinski–Harabasz
    // variance ratio and Davies–Bouldin separation off the per-cluster
    // census (n, wss, bss + both indexes in one scorecard row). Every
    // order-dependent accumulation (distance sums, the k DB max-terms)
    // routes through DECIMAL(38,20); the corpus mean, the centroid
    // geometry and both final ratios divide identical doubles.
    GQuery(
      "eval_clustering_internal",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val cents = sharedKmFit(spark, dir)
        val assign = emb.select(
          col("vec_id").as("id"),
          KMeans.assignCol(spark, cents, col("v")).cast("long").as("cluster"))
        graft.operators.ClusterEval
          .indexes(emb.select(col("vec_id").as("id"), col("v")),
            assign, cents, dim = 64)
          .select(col("n"), round(col("wss"), 6).as("wss"),
            round(col("bss"), 6).as("bss"), round(col("ch"), 6).as("ch"),
            round(col("db"), 6).as("db"))
      },
      Some(s"""
        WITH ${kmFitCtes(KDET)},
        ${kmAssign3Ctes},
        perd AS MATERIALIZED (SELECT a.ck, ${sqlL2Sq("e.v", "c.v")} AS d2
                FROM a3 a JOIN e ON e.id = a.id
                JOIN cent2 c ON c.ck = a.ck),
        per AS MATERIALIZED (SELECT ck AS cluster, count(*)::BIGINT AS n_pts,
                      sum((d2)::DECIMAL(38,20))::DOUBLE AS wss,
                      sum((sqrt(d2))::DECIMAL(38,20))::DOUBLE / count(*)
                        AS mean_dist
               FROM perd GROUP BY ck),
        kmu AS MATERIALIZED (SELECT gs.i,
                      sum((e.v[gs.i])::DECIMAL(38,30))::DOUBLE / count(*) AS m
               FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
               GROUP BY gs.i),
        kmul AS (SELECT list(m ORDER BY i) AS ml FROM kmu),
        cbs AS (SELECT c.ck, ${sqlL2Sq("c.v", "kmul.ml")} AS bs
                FROM cent2 c CROSS JOIN kmul),
        ktot AS (SELECT sum(n_pts)::BIGINT AS n,
                        sum((wss)::DECIMAL(38,20))::DOUBLE AS w
                 FROM per),
        kb AS (SELECT sum((per.n_pts * cbs.bs)::DECIMAL(38,20))::DOUBLE AS b
               FROM per JOIN cbs ON cbs.ck = per.cluster),
        kdij AS (SELECT a.ck AS i, b.ck AS j,
                        sqrt(${sqlL2Sq("a.v", "b.v")}) AS dij
                 FROM cent2 a CROSS JOIN cent2 b WHERE a.ck != b.ck),
        kdb AS (SELECT sum((r)::DECIMAL(38,20))::DOUBLE / $KDET AS db FROM (
                  SELECT d.i, max((si.mean_dist + sj.mean_dist) / d.dij) AS r
                  FROM kdij d
                  JOIN per si ON si.cluster = d.i
                  JOIN per sj ON sj.cluster = d.j
                  GROUP BY d.i))
        SELECT t.n, round(t.w, 6) AS wss, round(kb.b, 6) AS bss,
               round((kb.b / ${KDET - 1}) / (t.w / (t.n - $KDET)), 6) AS ch,
               round(kdb.db, 6) AS db
        FROM ktot t CROSS JOIN kb CROSS JOIN kdb
      """)
    ),
    // Fully deterministic k-means|| fit: md5-coin Bahmani sampling rounds
    // (decimal-exact potential — parallelInit's double φ sum is
    // partition-order-dependent, the one float that kept the parallel
    // path rows-only), Efraimidis–Spirakis md5 weighted reduction, then
    // the same 2 FIXED Lloyd rounds as kmeans_fit_det — the entire
    // distributed-init trajectory (candidate sampling, attraction
    // weights, all k reduction picks, both Lloyd rounds) unrolls into
    // SQL and hash-checks.
    GQuery(
      "kmeans_parallel_fit_det",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val init = KMeans
          .parallelInitDet(emb, "vec_id", "v", k = KDET, rounds = 2,
            oversampleFactor = 2)
          .orderBy(col("rnd"))
          .collect()
          .map(_.getSeq[Double](2).toArray)
        KMeans.fitDeterministicFrom(emb, "v", init, rounds = 2)
          .select(col("cluster"), col("pos"), round(col("mval"), 6).as("mval"))
      },
      Some(s"""
        WITH ${kmllCtes(KDET, 2, 2 * KDET)},
        lcent0 AS MATERIALIZED (
          ${(0 until KDET)
            .map(j => s"SELECT $j AS ck, v FROM pk$j")
            .mkString(" UNION ALL ")}),
        ${(1 to 2).map(r => s"""
        ld$r AS (SELECT e.id, c.ck, ${sqlL2Sq("e.v", "c.v")} AS dist
                 FROM e CROSS JOIN lcent${r - 1} c),
        la$r AS MATERIALIZED (SELECT id, ck FROM (
                 SELECT id, ck, row_number() OVER (PARTITION BY id
                                                   ORDER BY dist, ck) AS rn
                 FROM ld$r) WHERE rn = 1),
        lm$r AS (SELECT a.ck, gs.i AS pos,
                        sum((e.v[gs.i])::DECIMAL(38,30))::DOUBLE
                          / count(*) AS m
                 FROM la$r a JOIN e ON e.id = a.id
                 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
                 GROUP BY a.ck, gs.i),
        lcent$r AS MATERIALIZED (
          SELECT c.ck, coalesce(ml.vv, c.v) AS v
          FROM lcent${r - 1} c
          LEFT JOIN (SELECT ck, list(m ORDER BY pos) AS vv
                     FROM lm$r GROUP BY ck) ml ON ml.ck = c.ck)""")
          .mkString(",")}
        SELECT ck::BIGINT AS cluster, gs.i::BIGINT AS pos,
               round(v[gs.i], 6) AS mval
        FROM lcent2
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs
      """)
    ),
    // C4: k-means E-step assignment to 8 fixed full-dim centroids.
    GQuery(
      "kmeans_estep",
      (spark, dir) => {
        val cents = headVecs(spark, dir, KKM)
        t(spark, dir, "embeddings")
          .select(
            col("vec_id"),
            KMeans.assignCol(spark, cents, toDouble(col("embedding")))
              .cast("long").as("cluster")
          )
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $KKM),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        d AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
              FROM e CROSS JOIN cent),
        r AS (SELECT vec_id, ck,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist, ck) AS rn
              FROM d)
        SELECT vec_id, ck::BIGINT AS cluster FROM r WHERE rn = 1
      """)
    ),
    // Topic rebalancing — the embedding-space analog of the language
    // temperature sampler (mT5 §3.1 arithmetic, md5 coin): documents are
    // k-means-assigned to topic clusters (the E-step under fixed
    // centroids), cluster sizes feed p_c ∝ √n_c acceptance rates under a
    // half-corpus budget, and each doc flips the engine's standard
    // deterministic coin against its CLUSTER's rate — over-represented
    // topics are thinned, rare topics kept. One assignment pass + one
    // tiny crossJoin'd stats table + a broadcast rate join; the decimal
    // normalizer keeps the √-sum order-free on both engines.
    GQuery(
      "pipeline_topic_balance",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val cents = headVecs(spark, dir, KKM)
        val assigned = t(spark, dir, "embeddings")
          .select(
            col("vec_id"),
            KMeans.assignCol(spark, cents, toDouble(col("embedding")))
              .cast("long").as("cluster"))
        val sizes = assigned.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_c"))
        val tot = sizes.agg(
          sum(col("n_c")).as("n"),
          sum(sqrt(col("n_c").cast("double")).cast(DecimalType(30, 6)))
            .cast("double").as("s"))
        val rates = sizes
          .crossJoin(broadcast(tot))
          .select(
            col("cluster"), col("n_c"),
            least(
              lit(1.0),
              (floor(col("n") / 2).cast("double") *
                (sqrt(col("n_c").cast("double"))
                  .cast(DecimalType(30, 6)).cast("double") / col("s")))
                / col("n_c").cast("double")
            ).as("rate"))
        val u = (graft.operators.Dedup.md5Long(
          concat(col("vec_id").cast("string"), lit(":topic"))) % 1000000)
          .cast("double") / lit(1000000.0)
        assigned
          .select(col("vec_id"), col("cluster"), u.as("u"))
          .join(broadcast(rates), "cluster")
          .filter(col("u") < col("rate"))
          .select(
            col("vec_id"), col("cluster"),
            round(col("rate"), 6).as("rate"), round(col("u"), 6).as("u"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $KKM),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        d AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
              FROM e CROSS JOIN cent),
        r AS (SELECT vec_id, ck,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY dist, ck) AS rn
              FROM d),
        a AS (SELECT vec_id, ck::BIGINT AS cluster FROM r WHERE rn = 1),
        cs AS (SELECT cluster, count(*)::BIGINT AS n_c FROM a
               GROUP BY cluster),
        tot AS (SELECT sum(n_c)::BIGINT AS n,
                       sum((sqrt(n_c::DOUBLE))::DECIMAL(30,6))::DOUBLE AS s
                FROM cs),
        rates AS (SELECT cs.cluster, cs.n_c,
                         least(1.0,
                           (floor(tot.n / 2)::DOUBLE *
                            ((sqrt(cs.n_c::DOUBLE))::DECIMAL(30,6)::DOUBLE
                             / tot.s)) / cs.n_c::DOUBLE) AS rate
                  FROM cs CROSS JOIN tot),
        uu AS (SELECT vec_id, cluster,
                      (('0x' || substr(md5(vec_id::VARCHAR || ':topic'),
                        1, 14))::BIGINT % 1000000)::DOUBLE / 1000000.0 AS u
               FROM a)
        SELECT uu.vec_id, uu.cluster,
               round(rates.rate, 6) AS rate, round(uu.u, 6) AS u
        FROM uu JOIN rates USING (cluster)
        WHERE uu.u < rates.rate
      """)
    ),
    // D4 + D5 shape: M-step per-cluster per-dimension means from that
    // assignment (exact decimal aggregation; pos is 1-based).
    GQuery(
      "kmeans_mstep",
      (spark, dir) => {
        val cents = headVecs(spark, dir, KKM)
        t(spark, dir, "embeddings")
          .select(
            KMeans.assignCol(spark, cents, toDouble(col("embedding")))
              .cast("long").as("cluster"),
            posexplode(toDouble(col("embedding"))).as(Seq("pos", "x"))
          )
          .groupBy(col("cluster"), (col("pos") + 1).cast("long").as("pos"))
          .agg(round(davgHi(col("x")), 12).as("mval"), count(lit(1)).as("n"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $KKM),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        d AS (SELECT e.vec_id, e.ev, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
              FROM e CROSS JOIN cent),
        a AS (SELECT vec_id, ev, ck AS cluster FROM (
                SELECT vec_id, ev, ck,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, ck) AS rn
                FROM d) WHERE rn = 1),
        p AS (SELECT unnest(generate_series(1, 64)) AS pos)
        SELECT cluster::BIGINT AS cluster, pos::BIGINT AS pos,
               round(${sqlAvgHi("ev[pos]")}, 12) AS mval,
               count(*)::BIGINT AS n
        FROM a CROSS JOIN p
        GROUP BY 1, 2
      """)
    ),
    // PLAID-style compressed late interaction (Santhanam et al. 2022 ch.
    // ColBERTv2/PLAID; Khattab & Zaharia 2020): documents keep only PQ
    // CODES of their token vectors (one shared token codebook — M=2
    // subspaces of 8 dims, K=4 centroids taken from the first-4
    // embeddings' leading 16 dims, same fixed-model tactic as the pq_*
    // oracles), and the MaxSim score is computed asymmetrically: each
    // query token materializes a dot-LUT against the token codebook
    // (2×4 entries), and every doc-token dot is then 2 array lookups +
    // 1 add — never a decode. score(q,d) = Σ_t max_u Σ_s lut[t][s][code].
    //
    // Scale shape: identical to knn_bruteforce (broadcast query batch
    // carrying its LUTs, corpus streams, bounded heap below the one
    // exchange) — but the streamed side is ~codes (4 tokens × 2 bytes)
    // per doc instead of 4×16 doubles: the 32× scan-size cut is the whole
    // point of serving late interaction from a compressed index. Kernel
    // is pure nested HOFs over the codegen'd encode/dot expressions —
    // no UDF, no token explode (PlanSpec-guarded).
    GQuery(
      "knn_maxsim_pq",
      (spark, dir) => {
        import graft.functions.VectorExpressions.dotFast
        val rows = headVecs(spark, dir, KCB)
        val tokModel = PQModel(
          MSM, KCB, MSD,
          Array.tabulate(MSM)(s =>
            rows.map(v =>
              java.util.Arrays.copyOfRange(v, s * MSDS, (s + 1) * MSDS))))
        val centsLit = typedLit(
          tokModel.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
        val emb = t(spark, dir, "embeddings")
        def toks(c: org.apache.spark.sql.Column) =
          array((0 until MST).map(i => slice(c, i * MSD + 1, MSD)): _*)
        val docs = emb.select(
          col("vec_id").as("doc_id"),
          transform(
            toks(toDouble(col("embedding"))),
            tok => ProductQuantizer.encodeCol(tokModel, tok)
          ).as("dtokcodes"))
        val q = emb
          .filter(col("vec_id") % 20 === 0)
          .select(
            col("vec_id").as("query_id"),
            transform(
              toks(toDouble(col("embedding"))),
              qt =>
                transform(
                  centsLit,
                  (ks, s) =>
                    transform(
                      ks,
                      c => dotFast(slice(qt, s * MSDS + 1, lit(MSDS)), c)))
            ).as("qlut"))
        val score = graft.functions.VectorExpressions
          .maxSimAdcFast(col("qlut"), col("dtokcodes"))
        bestPer(docs.join(broadcast(q)), Seq("query_id"), -score, "doc_id", 10)
          .select(
            col("query_id"),
            col("doc_id"),
            round(-col("dist"), 6).as("score"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH tc AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id < $KCB),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ts AS (SELECT ${sqlUnnest(MST)} AS t),
        ss AS (SELECT ${sqlUnnest(MSM)} AS s),
        dd AS (SELECT e.vec_id AS doc_id, ts.t AS u, ss.s, tc.ck,
                      list_sum(list_transform(generate_series(1,$MSDS), j ->
                        (e.ev[ts.t*$MSD + ss.s*$MSDS + j] - tc.cv[ss.s*$MSDS + j])
                        * (e.ev[ts.t*$MSD + ss.s*$MSDS + j] - tc.cv[ss.s*$MSDS + j])))
                        AS dist
               FROM e CROSS JOIN ts CROSS JOIN ss CROSS JOIN tc),
        denc AS (SELECT doc_id, u, s, ck AS code FROM (
                   SELECT doc_id, u, s, ck,
                          row_number() OVER (PARTITION BY doc_id, u, s
                                             ORDER BY dist, ck) AS rn
                   FROM dd) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e
              WHERE vec_id % 20 = 0),
        pads AS (SELECT q.query_id, d.doc_id, ts.t, d.u, d.s,
                        list_sum(list_transform(generate_series(1,$MSDS), j ->
                          q.qv[ts.t*$MSD + d.s*$MSDS + j] * tc.cv[d.s*$MSDS + j]))
                          AS pd
                 FROM q CROSS JOIN ts CROSS JOIN denc d
                 JOIN tc ON tc.ck = d.code),
        padc AS (SELECT query_id, doc_id, t, u, sum(pd) AS adc
                 FROM pads GROUP BY 1, 2, 3, 4),
        tb AS (SELECT query_id, doc_id, t, max(adc) AS best
               FROM padc GROUP BY 1, 2, 3),
        sc AS (SELECT query_id, doc_id,
                      list_sum(list(best ORDER BY t)) AS score
               FROM tb GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id) AS rnk
              FROM sc)
        SELECT query_id, doc_id, round(score, 6) AS score, rnk
        FROM r WHERE rnk <= 10
      """)
    ),
    // Cell-partitioned late interaction — the PLAID serving layout at
    // corpus scale: docs are assigned to coarse IVF cells by their POOLED
    // vector (native argmin), and a query's compressed MaxSim runs only
    // inside its nprobe nearest cells — the same nprobe/ncells scan cut
    // as ivf_knn, applied to the token-level ADC kernel. Both reductions
    // compose: coarse routing bounds the candidate set, PQ codes bound
    // the bytes per candidate. (The disk path is the same composition
    // over IvfIndex.build's cell-partitioned parquet with partition
    // pruning; the kernel and results are identical.)
    GQuery(
      "knn_maxsim_ivf",
      (spark, dir) => {
        import graft.functions.VectorExpressions.{dotFast, maxSimAdcFast}
        import graft.operators.{IvfIndex, KMeans}
        val rows8 = headVecs(spark, dir, KKM)
        val tokModel = PQModel(
          MSM, KCB, MSD,
          Array.tabulate(MSM)(s =>
            rows8.take(KCB)
              .map(v =>
                java.util.Arrays.copyOfRange(v, s * MSDS, (s + 1) * MSDS))))
        val centsLit = typedLit(
          tokModel.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
        val emb = t(spark, dir, "embeddings")
        def toks(c: org.apache.spark.sql.Column) =
          array((0 until MST).map(i => slice(c, i * MSD + 1, MSD)): _*)
        val docs = emb.select(
          KMeans.assignCol(spark, rows8, toDouble(col("embedding")))
            .cast("int").as("cell"),
          col("vec_id").as("doc_id"),
          transform(
            toks(toDouble(col("embedding"))),
            tok => ProductQuantizer.encodeCol(tokModel, tok)
          ).as("dtokcodes"))
        val qbase = emb.filter(col("vec_id") % 20 === 0)
        val probes = IvfIndex
          .probeCells(
            spark,
            qbase.select(
              col("vec_id").as("query_id"),
              toDouble(col("embedding")).as("qv")),
            "query_id", "qv", rows8, 2)
          .select(col("query_id"), col("cell"))
        val qlut = qbase.select(
          col("vec_id").as("qq"),
          transform(
            toks(toDouble(col("embedding"))),
            qt =>
              transform(
                centsLit,
                (ks, s) =>
                  transform(ks, c => dotFast(slice(qt, s * MSDS + 1, lit(MSDS)), c)))
          ).as("qlut"))
        val pairs = docs
          .join(broadcast(probes), Seq("cell"))
          .join(broadcast(qlut), col("qq") === col("query_id"))
        bestPer(pairs, Seq("query_id"),
          -maxSimAdcFast(col("qlut"), col("dtokcodes")), "doc_id", 10)
          .select(
            col("query_id"),
            col("doc_id"),
            round(-col("dist"), 6).as("score"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH tc AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                    FROM embeddings WHERE vec_id < $KCB),
        c8 AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < $KKM),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ts AS (SELECT ${sqlUnnest(MST)} AS t),
        ss AS (SELECT ${sqlUnnest(MSM)} AS s),
        ad AS (SELECT e.vec_id, c8.ck, ${sqlL2Sq("e.ev", "c8.cv")} AS dist
               FROM e CROSS JOIN c8),
        a AS (SELECT vec_id AS doc_id, ck AS cell FROM (
                SELECT vec_id, ck,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, ck) AS rn
                FROM ad) WHERE rn = 1),
        dd AS (SELECT e.vec_id AS doc_id, ts.t AS u, ss.s, tc.ck,
                      list_sum(list_transform(generate_series(1,$MSDS), j ->
                        (e.ev[ts.t*$MSD + ss.s*$MSDS + j] - tc.cv[ss.s*$MSDS + j])
                        * (e.ev[ts.t*$MSD + ss.s*$MSDS + j] - tc.cv[ss.s*$MSDS + j])))
                        AS dist
               FROM e CROSS JOIN ts CROSS JOIN ss CROSS JOIN tc),
        denc AS (SELECT doc_id, u, s, ck AS code FROM (
                   SELECT doc_id, u, s, ck,
                          row_number() OVER (PARTITION BY doc_id, u, s
                                             ORDER BY dist, ck) AS rn
                   FROM dd) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e
              WHERE vec_id % 20 = 0),
        pr AS (SELECT query_id, cell FROM (
                 SELECT q.query_id, c8.ck AS cell,
                        row_number() OVER (PARTITION BY q.query_id
                                           ORDER BY ${sqlL2Sq("q.qv", "c8.cv")},
                                                    c8.ck) AS rn
                 FROM q CROSS JOIN c8) WHERE rn <= 2),
        pads AS (SELECT q.query_id, d.doc_id, ts.t, d.u, d.s,
                        list_sum(list_transform(generate_series(1,$MSDS), j ->
                          q.qv[ts.t*$MSD + d.s*$MSDS + j] * tc.cv[d.s*$MSDS + j]))
                          AS pd
                 FROM q
                 JOIN pr ON pr.query_id = q.query_id
                 JOIN a ON a.cell = pr.cell
                 CROSS JOIN ts
                 JOIN denc d ON d.doc_id = a.doc_id
                 JOIN tc ON tc.ck = d.code),
        padc AS (SELECT query_id, doc_id, t, u, sum(pd) AS adc
                 FROM pads GROUP BY 1, 2, 3, 4),
        tb AS (SELECT query_id, doc_id, t, max(adc) AS best
               FROM padc GROUP BY 1, 2, 3),
        sc AS (SELECT query_id, doc_id,
                      list_sum(list(best ORDER BY t)) AS score
               FROM tb GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, doc_id) AS rnk
              FROM sc)
        SELECT query_id, doc_id, round(score, 6) AS score, rnk
        FROM r WHERE rnk <= 10
      """)
    ),
    // Rotated-PQ serving path under a FULL hash-check: the rotation here
    // is a fixed signed permutation (p ← sign(p)·v[(37p mod 64)]) — an
    // orthonormal matrix both engines can spell arithmetically — so
    // rotate → encode → LUT-ADC top-k is oracle-checked end to end, codes
    // and ranking included (the LEARNED rotation keeps its OpqSpec gates;
    // this pins the serving algebra those gates rely on). Same plan shape
    // as pq_adc_topk: plan-embedded codebook, broadcast query LUTs,
    // bounded heap below the exchange; the rotation is one extra HOF in
    // the scan projection.
    GQuery(
      "pq_rotated",
      (spark, dir) => {
        def rotArr(v: Array[Double]): Array[Double] =
          Array.tabulate(64)(p =>
            (if (p % 5 == 0) -1.0 else 1.0) * v((p * 37) % 64))
        def rot(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          transform(sequence(lit(0), lit(63)), p =>
            when(p % 5 === 0, lit(-1.0)).otherwise(lit(1.0)) *
              element_at(c, p * 37 % 64 + 1))
        val model = {
          val heads = headVecs(spark, dir, KCB).map(rotArr)
          PQModel(M, KCB, 64, Array.tabulate(M)(mi =>
            heads.map(v =>
              java.util.Arrays.copyOfRange(v, mi * DP, (mi + 1) * DP))))
        }
        val emb = t(spark, dir, "embeddings")
        val enc = emb.select(
          col("vec_id").as("neighbor_id"),
          ProductQuantizer
            .encodeCol(model, rot(toDouble(col("embedding")))).as("code")
        )
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(
            col("vec_id").as("query_id"),
            ProductQuantizer
              .lutCol(model, rot(toDouble(col("embedding")))).as("lut")
          )
        val pairs = enc
          .join(broadcast(q))
          .withColumn(
            "dist",
            ProductQuantizer.adcFromLutCol(model, col("lut"), col("code")))
        bestPer(pairs, Seq("query_id"), col("dist"), "neighbor_id", 5)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS ev0
                     FROM embeddings),
        rot AS (SELECT vec_id,
                       list_transform(generate_series(0, 63), p ->
                         (CASE WHEN p % 5 = 0 THEN -1.0 ELSE 1.0 END)
                           * ev0[(p*37) % 64 + 1]) AS ev
                FROM raw),
        cent AS (SELECT vec_id AS ck, ev AS cv FROM rot WHERE vec_id < $KCB),
        ms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
        dists AS (
          SELECT r.vec_id, ms.m, cent.ck,
                 list_sum(list_transform(generate_series(1, $DP),
                   j -> (r.ev[ms.m*$DP+j] - cent.cv[ms.m*$DP+j])
                        * (r.ev[ms.m*$DP+j] - cent.cv[ms.m*$DP+j]))) AS dist
          FROM rot r CROSS JOIN ms CROSS JOIN cent),
        enc AS (
          SELECT vec_id, m, ck AS code FROM (
            SELECT vec_id, m, ck,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist, ck) AS rn
            FROM dists) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM rot
              WHERE vec_id % 10 = 0),
        qd AS (
          SELECT q.query_id, ms.m, cent.ck,
                 list_sum(list_transform(generate_series(1, $DP),
                   j -> (q.qv[ms.m*$DP+j] - cent.cv[ms.m*$DP+j])
                        * (q.qv[ms.m*$DP+j] - cent.cv[ms.m*$DP+j]))) AS sdist
          FROM q CROSS JOIN ms CROSS JOIN cent),
        adc AS (
          SELECT qd.query_id, enc.vec_id AS neighbor_id,
                 list_sum(list(qd.sdist ORDER BY qd.m)) AS dist
          FROM enc JOIN qd ON qd.m = enc.m AND qd.ck = enc.code
          GROUP BY 1, 2),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM adc)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= 5
      """)
    ),
    // OPQ vs plain PQ reconstruction error, corpus-wide: both models
    // trained with identical sampling/seeds so the delta isolates the
    // learned rotation (Ge et al. 2013 parametric OPQ — PCA basis +
    // eigenvalue-balanced dim allocation). Model training is an
    // eigensolve (not SQL-mirrorable) -> rows-only here; the MSE win,
    // rotation orthonormality, and kernel equalities are gated in
    // OpqSpec. On this near-isotropic table the allocation still buys
    // ~5% (0.509 vs 0.540 at sf0.01 — sample covariance always has SOME
    // spectrum spread to balance); OpqSpec's anisotropic fixture is where
    // the >10% win is asserted. The scan itself is the 100 TB shape:
    // broadcast models, per-row codegen encode/decode, one pass, one
    // 2-row aggregate.
    GQuery(
      "pq_opq_recon",
      (spark, dir) => {
        val fast = graft.functions.VectorExpressions
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        // ONE 20k-vector sample collected once, shared by both trainings
        // (identical rows by construction, not just identical policy);
        // codebooks saturate well below 20k and the driver-side double-
        // train stays off the bench's critical path
        val rows = ProductQuantizer.sampleRows(emb, "v", maxSample = 20000, seed = 7)
        val pq = ProductQuantizer.fitLocal(rows, m = M, k = 16, seed = 7)
        val opq = graft.operators.Opq.trainRows(rows, m = M, k = 16, seed = 7)
        val errs = emb.select(
          fast.l2SqFast(
            col("v"),
            ProductQuantizer.decodeCol(pq, ProductQuantizer.encodeCol(pq, col("v")))
          ).as("pq_err"),
          fast.l2SqFast(
            col("v"),
            graft.operators.Opq.reconstructCol(
              opq, graft.operators.Opq.encodeCol(opq, col("v")))
          ).as("opq_err")
        )
        val agg = errs.agg(
          avg(col("pq_err")).as("pq_mse"),
          avg(col("opq_err")).as("opq_mse")
        )
        agg.select(lit("pq").as("variant"), round(col("pq_mse"), 6).as("mse"))
          .unionAll(agg.select(
            lit("opq").as("variant"), round(col("opq_mse"), 6).as("mse")))
      },
      None
    ),
    // Residual (multi-stage) VQ encode under a FIXED 2-stage model:
    // stage-0 codebook = first 32 embeddings, stage-1 = the same vectors
    // scaled by 0.25 (a deterministic stand-in for a trained residual
    // book — the oracle checks the MECHANICS: sequential argmin +
    // residual carry; RQSpec gates the trained codec's stage-wise MSE
    // contraction). Encode is a pure codegen chain — per stage one
    // native argmin and one zip_with subtraction, codebooks
    // plan-embedded, no shuffle.
    GQuery(
      "rq_encode",
      (spark, dir) => {
        val model = fixedRqModel(spark, dir)
        t(spark, dir, "embeddings")
          .select(
            col("vec_id"),
            posexplode(
              graft.operators.ResidualQuantizer
                .encodeCol(spark, model, toDouble(col("embedding"))))
              .as(Seq("stage", "code")))
          .select(
            col("vec_id"),
            col("stage").cast("long").as("stage"),
            col("code").cast("long").as("code"))
      },
      Some(s"""
        WITH $rqCtes
        SELECT vec_id, 0::BIGINT AS stage, code0::BIGINT AS code FROM c0
        UNION ALL
        SELECT vec_id, 1::BIGINT AS stage, code1::BIGINT AS code FROM c1
      """)
    ),
    // RVQ reconstruction error per vector: err = ||v − (cb0[c0] +
    // 0.25·cb0[c1])||² — additive recon, both stages summed.
    GQuery(
      "rq_recon",
      (spark, dir) => {
        val model = fixedRqModel(spark, dir)
        val rq = graft.operators.ResidualQuantizer
        val v = toDouble(col("embedding"))
        t(spark, dir, "embeddings")
          .withColumn("recon", rq.reconCol(model, rq.encodeCol(spark, model, v)))
          .select(
            col("vec_id"),
            round(l2Sq(v, col("recon")), 6).as("err"))
      },
      Some(s"""
        WITH $rqCtes
        SELECT e.vec_id,
               round(list_sum(list_transform(generate_series(1, 64),
                 j -> (e.ev[j] - (a.cv[j] + 0.25*b.cv[j]))
                      * (e.ev[j] - (a.cv[j] + 0.25*b.cv[j])))), 6) AS err
        FROM e JOIN c0 USING (vec_id) JOIN c1 USING (vec_id)
             JOIN cb a ON a.ck = c0.code0
             JOIN cb b ON b.ck = c1.code1
      """)
    ),
    // RVQ ADC top-k — the serving half: corpus stored as 2-byte-ish code
    // pairs, per-query dot LUTs (k dots per stage, computed once on the
    // broadcast query side), and a query-INDEPENDENT k×k pair-norm table
    // ‖w0+w1‖² embedded in the plan — so the per-pair cost is 3 lookups
    // and 3 adds, never a decode, never a dot. Same bounded-heap top-k
    // placement as pq_adc_topk; the combination order of the estimate is
    // pinned and mirrored exactly by the oracle.
    GQuery(
      "rq_adc_topk",
      (spark, dir) => {
        import graft.functions.VectorExpressions.dotFast
        val rq = graft.operators.ResidualQuantizer
        val model = fixedRqModel(spark, dir)
        val emb = t(spark, dir, "embeddings")
        val enc = emb.select(
          col("vec_id").as("neighbor_id"),
          rq.encodeCol(spark, model, toDouble(col("embedding"))).as("codes"))
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"),
            toDouble(col("embedding")).as("qv"))
          .select(
            col("query_id"),
            dotFast(col("qv"), col("qv")).as("qq"),
            rq.dotLutCol(model, 0, col("qv")).as("d0"),
            rq.dotLutCol(model, 1, col("qv")).as("d1"))
        val nrmLit = typedLit(rq.pairNormTable(model).map(_.toSeq).toSeq)
        val pairs = enc
          .join(broadcast(q))
          .withColumn("c0", element_at(col("codes"), 1))
          .withColumn("c1", element_at(col("codes"), 2))
          .withColumn(
            "dist",
            col("qq") - lit(2.0) * element_at(col("d0"), col("c0") + 1)
              - lit(2.0) * element_at(col("d1"), col("c1") + 1)
              + element_at(element_at(nrmLit, col("c0") + 1), col("c1") + 1))
        bestPer(pairs, Seq("query_id"), col("dist"), "neighbor_id", 5)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH $rqCtes,
        gs AS (SELECT unnest(generate_series(1, 64)) AS j),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e
              WHERE vec_id % 10 = 0),
        qq AS (SELECT query_id,
                      list_sum(list_transform(generate_series(1, 64),
                        j -> qv[j]*qv[j])) AS qq
               FROM q),
        qd0 AS (SELECT q.query_id, cb.ck,
                       list_sum(list_transform(generate_series(1, 64),
                         j -> q.qv[j]*cb.cv[j])) AS d
                FROM q CROSS JOIN cb),
        qd1 AS (SELECT q.query_id, cb.ck,
                       list_sum(list_transform(generate_series(1, 64),
                         j -> q.qv[j]*(0.25*cb.cv[j]))) AS d
                FROM q CROSS JOIN cb),
        n0 AS (SELECT ck, list_sum(list_transform(generate_series(1, 64),
                 j -> cv[j]*cv[j])) AS v FROM cb),
        n1 AS (SELECT ck, list_sum(list_transform(generate_series(1, 64),
                 j -> (0.25*cv[j])*(0.25*cv[j]))) AS v FROM cb),
        cx AS (SELECT a.ck AS k0, b.ck AS k1,
                      list_sum(list_transform(generate_series(1, 64),
                        j -> a.cv[j]*(0.25*b.cv[j]))) AS v
               FROM cb a CROSS JOIN cb b),
        nrm AS (SELECT cx.k0, cx.k1, (n0.v + n1.v) + 2*cx.v AS nrm
                FROM cx JOIN n0 ON n0.ck = cx.k0 JOIN n1 ON n1.ck = cx.k1),
        est AS (SELECT qq.query_id, c0.vec_id AS neighbor_id,
                       qq.qq - 2*qd0.d - 2*qd1.d + nrm.nrm AS dist
                FROM c0 JOIN c1 USING (vec_id)
                     CROSS JOIN qq
                     JOIN qd0 ON qd0.query_id = qq.query_id
                            AND qd0.ck = c0.code0
                     JOIN qd1 ON qd1.query_id = qq.query_id
                            AND qd1.ck = c1.code1
                     JOIN nrm ON nrm.k0 = c0.code0 AND nrm.k1 = c1.code1),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM est)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= 5
      """)
    )
  )
}
