package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorFunctions._
import graft.operators.{BruteForceKNN, NNDescent}
import Q._

/** Vector-search query surface: exact kNN (the reference's brute-force
  * oracle, py/bruteforce.py), cosine top-k, and pairwise distance checks.
  * Query set = every 100th vector; base = whole embeddings table.
  */
object VectorQueries {

  private val K = 10

  /** One unrolled NN-Descent refinement round in DuckDB — the CTE mirror
    * of the loop body in [[graft.operators.NNDescent.knnGraph]]:
    * undirect, propose neighbors-of-neighbors through the shared middle
    * node, score, merge with the current edges, keep best k by
    * (dist, dst). MATERIALIZED pins each CTE to one evaluation — a
    * recursive downstream consumer (the vamana / beam replays) would
    * otherwise re-inline and re-run the whole upstream chain once per
    * recursion step (measured 9× slower).
    */
  private def nndIter(i: Int, prev: String): String = s"""
    u$i AS MATERIALIZED (SELECT src, dst FROM $prev
            UNION SELECT dst AS src, src AS dst FROM $prev),
    c$i AS MATERIALIZED (SELECT DISTINCT x.src AS src, y.dst AS dst
            FROM u$i x JOIN u$i y ON x.dst = y.src
            WHERE x.src != y.dst),
    s$i AS MATERIALIZED (SELECT c$i.src, c$i.dst, ${sqlL2Sq("a.v", "b.v")} AS dist
            FROM c$i JOIN e a ON a.id = c$i.src
                     JOIN e b ON b.id = c$i.dst),
    m$i AS MATERIALIZED (SELECT src, dst, min(dist) AS dist
            FROM (SELECT src, dst, dist FROM s$i
                  UNION ALL SELECT src, dst, dist FROM $prev)
            GROUP BY 1, 2),
    g$i AS MATERIALIZED (SELECT src, dst, dist, rn FROM (
              SELECT src, dst, dist,
                     row_number() OVER (PARTITION BY src
                                        ORDER BY dist, dst) AS rn
              FROM m$i) WHERE rn <= $K)"""

  /** The full graph-replay CTE block (embeddings → 2-round NN-Descent
    * graph `g2`) shared by the knn_graph oracle and the vamana / beam
    * replays that consume the same graph.
    */
  private def graphCtes: String = s"""
        e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        rk AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY id) - 1 AS r FROM e),
        nn AS MATERIALIZED (SELECT count(*) AS n FROM e),
        r0 AS MATERIALIZED (SELECT DISTINCT src, rd FROM (
                 SELECT rk.id AS src, rk.r,
                        ('0x' || substr(md5(rk.id::VARCHAR || ':' ||
                          j.j::VARCHAR || ':init'), 1, 14))::BIGINT % nn.n
                          AS rd
                 FROM rk CROSS JOIN nn
                 CROSS JOIN (SELECT unnest(generate_series(1, $K)) AS j) j)
               WHERE rd != r),
        g0p AS MATERIALIZED (SELECT r0.src, rk2.id AS dst
                FROM r0 JOIN rk rk2 ON rk2.r = r0.rd),
        g0 AS MATERIALIZED (SELECT g0p.src, g0p.dst, ${sqlL2Sq("a.v", "b.v")} AS dist
               FROM g0p JOIN e a ON a.id = g0p.src
                        JOIN e b ON b.id = g0p.dst),
        ${nndIter(1, "g0")},
        ${nndIter(2, "g1")}"""

  /** Single-linkage levels (dist ≤ 1.25 / 1.40 / 1.50) over `g2` as
    * recursive min-label closures — hud (undirected min-dist edges),
    * hed$i / hrc$i / hcp$i per level. Shared by cluster_hierarchy and
    * eval_hierarchy_agreement.
    */
  private def hierarchyCtes: String = s"""
        hud AS MATERIALIZED (SELECT least(src, dst) AS a,
                                    greatest(src, dst) AS b,
                                    min(dist) AS d
               FROM g2 WHERE src != dst GROUP BY 1, 2),
        ${Seq(1 -> "1.25", 2 -> "1.40", 3 -> "1.50").map { case (i, th) => s"""
        hed$i AS MATERIALIZED (SELECT a, b FROM hud WHERE d <= $th
                 UNION ALL SELECT b, a FROM hud WHERE d <= $th),
        hrc$i(id, r) AS (
          SELECT a, a FROM hed$i
          UNION
          SELECT hed$i.a, hrc$i.r
          FROM hed$i JOIN hrc$i ON hrc$i.id = hed$i.b),
        hcp$i AS (SELECT id, min(r) AS rep FROM hrc$i GROUP BY id)"""}
          .mkString(",")}"""

  /** One per-level ARI/NMI block (→ ha$i: level, n, ari, nmi) over the
    * hierarchy cut hcp$i vs the embeddings label column — the
    * [[graft.operators.ClusterEval.agreement]] arithmetic namespaced
    * per level (integer pair combinatorics divided once; decimal-routed
    * ln terms).
    */
  private def hierarchyAriSql(i: Int, nm: String): String = s"""
        hj$i AS MATERIALIZED (SELECT e.id,
                       coalesce(h.rep, e.id)::BIGINT AS u,
                       em.label::BIGINT AS v
              FROM e LEFT JOIN hcp$i h ON h.id = e.id
                     JOIN embeddings em ON em.vec_id = e.id),
        hc$i AS MATERIALIZED (SELECT u, v, count(*)::BIGINT AS nij
               FROM hj$i GROUP BY u, v),
        hau$i AS MATERIALIZED (SELECT u, sum(nij)::BIGINT AS ai
                FROM hc$i GROUP BY u),
        hbv$i AS MATERIALIZED (SELECT v, sum(nij)::BIGINT AS bj
                FROM hc$i GROUP BY v),
        hnn$i AS (SELECT count(*)::BIGINT AS n FROM hj$i),
        hsum$i AS (SELECT
                    (SELECT sum(nij * (nij - 1) // 2)::BIGINT FROM hc$i) AS sij,
                    (SELECT sum(ai * (ai - 1) // 2)::BIGINT FROM hau$i) AS sa,
                    (SELECT sum(bj * (bj - 1) // 2)::BIGINT FROM hbv$i) AS sb,
                    n, (n * (n - 1) // 2)::BIGINT AS cn2
                   FROM hnn$i),
        hmi$i AS (SELECT sum(((nij::DOUBLE / n) *
                    ln((n::DOUBLE * nij) / (ai::DOUBLE * bj)))
                    ::DECIMAL(38,20))::DOUBLE AS mi
                  FROM hc$i JOIN hau$i USING (u) JOIN hbv$i USING (v)
                  CROSS JOIN hnn$i),
        hhu$i AS (SELECT sum((-(ai::DOUBLE / n) * ln(ai::DOUBLE / n))
                    ::DECIMAL(38,20))::DOUBLE AS hu
                  FROM hau$i CROSS JOIN hnn$i),
        hhv$i AS (SELECT sum((-(bj::DOUBLE / n) * ln(bj::DOUBLE / n))
                    ::DECIMAL(38,20))::DOUBLE AS hv
                  FROM hbv$i CROSS JOIN hnn$i),
        ha$i AS (SELECT '$nm' AS level, s.n,
                   round((s.sij::DOUBLE - s.sa::DOUBLE * s.sb / s.cn2)
                         / ((s.sa + s.sb)::DOUBLE / 2.0
                            - s.sa::DOUBLE * s.sb / s.cn2), 6) AS ari,
                   round(CASE WHEN u.hu > 0 AND v.hv > 0
                              THEN m.mi / sqrt(u.hu * v.hv)
                              ELSE 0.0::DOUBLE END, 6) AS nmi
                 FROM hsum$i s CROSS JOIN hmi$i m
                 CROSS JOIN hhu$i u CROSS JOIN hhv$i v)"""

  /** (vec_id, c_fine, c_mid, c_coarse) single-linkage cuts, one
    * distributed CC per level off the shared graph, materialized once
    * per sf dir.
    */
  private def sharedHierarchy(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("vec_hierarchy", dir) {
      val ids = t(spark, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"))
      val ud = sharedGraph(spark, dir)
        .select(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"),
          col("dist"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b"))
        .agg(min(col("dist")).as("d"))
        .localCheckpoint()
      val levels = Seq(1.25, 1.40, 1.50).map { th =>
        graft.operators.Dedup
          .connectedComponents(ud.filter(col("d") <= th), "a", "b")
          .select(col("doc_id").as("id"), col("rep_id"))
      }
      val names = Seq("c_fine", "c_mid", "c_coarse")
      levels.zip(names).foldLeft(ids) { case (acc, (lv, nm)) =>
        acc.join(lv.select(col("id"), col("rep_id").as(nm)), Seq("id"), "left")
      }
        .select(
          col("id").as("vec_id"),
          coalesce(col("c_fine"), col("id")).as("c_fine"),
          coalesce(col("c_mid"), col("id")).as("c_mid"),
          coalesce(col("c_coarse"), col("id")).as("c_coarse"))
        .localCheckpoint()
    }

  /** Undirected view of `g2` + universe degree table — shared by the
    * graph-audit oracles (triangles / kcore / modularity /
    * assortativity): `uu` (a < b distinct), `ub` (both directions),
    * `dq` (per-universe-node degree, 0 for isolated).
    */
  private def auditCtes: String = s"""
        uu AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
                                   greatest(src, dst) AS b
               FROM g2 WHERE src != dst),
        ub AS MATERIALIZED (SELECT a AS id, b AS nb FROM uu
               UNION ALL SELECT b, a FROM uu),
        dq AS MATERIALIZED (SELECT e.id, coalesce(d.deg, 0)::BIGINT AS deg
               FROM e LEFT JOIN (SELECT id, count(*) AS deg
                                 FROM ub GROUP BY id) d ON d.id = e.id)"""

  /** SCAN's ε-independent shared-neighbor counts per undirected edge
    * (one wedge join over the audit CTEs; assumes uu/ub in scope).
    */
  private def scanWedgeCte: String = s"""
        scn AS MATERIALIZED (
          SELECT uu.a, uu.b, count(*) AS c
          FROM uu JOIN ub x ON x.id = uu.a
                  JOIN ub y ON y.id = uu.b AND y.nb = x.nb
          GROUP BY uu.a, uu.b)"""

  /** One SCAN configuration's full CTE chain at ε² = epsNum/100, μ = 3,
    * name-prefixed so several ε settings can coexist in one oracle:
    * ${pfx}de (ε-edges) → ${pfx}db → ${pfx}core → ${pfx}ccb →
    * ${pfx}rch (recursive min-label) → ${pfx}rep → ${pfx}bord →
    * ${pfx}memb → ${pfx}hub. Assumes uu/ub/dq/scn in scope; no trailing
    * comma.
    */
  private def scanBlock(pfx: String, epsNum: Int): String = s"""
        ${pfx}de AS MATERIALIZED (
          SELECT uu.a, uu.b
          FROM uu JOIN dq da ON da.id = uu.a JOIN dq db ON db.id = uu.b
          LEFT JOIN scn ON scn.a = uu.a AND scn.b = uu.b
          WHERE 100 * (coalesce(scn.c, 0) + 2) * (coalesce(scn.c, 0) + 2)
                >= $epsNum * (da.deg + 1) * (db.deg + 1)),
        ${pfx}db AS MATERIALIZED (SELECT a AS id, b AS nb FROM ${pfx}de
                UNION ALL SELECT b, a FROM ${pfx}de),
        ${pfx}core AS MATERIALIZED (
          SELECT dq.id FROM dq
          LEFT JOIN (SELECT id, count(*) AS ne FROM ${pfx}db GROUP BY id) n
            ON n.id = dq.id
          WHERE coalesce(n.ne, 0) + 1 >= 3),
        ${pfx}ccb AS MATERIALIZED (
          SELECT d.a, d.b FROM ${pfx}de d
          JOIN ${pfx}core ca ON ca.id = d.a
          JOIN ${pfx}core cb ON cb.id = d.b
          UNION
          SELECT d.b, d.a FROM ${pfx}de d
          JOIN ${pfx}core ca ON ca.id = d.a
          JOIN ${pfx}core cb ON cb.id = d.b),
        ${pfx}rch(id, r) AS (
          SELECT id, id FROM ${pfx}core
          UNION
          SELECT ${pfx}ccb.a, ${pfx}rch.r
          FROM ${pfx}ccb JOIN ${pfx}rch ON ${pfx}rch.id = ${pfx}ccb.b),
        ${pfx}rep AS MATERIALIZED (
          SELECT id, min(r) AS rep FROM ${pfx}rch GROUP BY id),
        ${pfx}bord AS MATERIALIZED (
          SELECT d.id, min(r.rep) AS rep
          FROM ${pfx}db d JOIN ${pfx}rep r ON r.id = d.nb
          WHERE d.id NOT IN (SELECT id FROM ${pfx}core)
          GROUP BY d.id),
        ${pfx}memb AS MATERIALIZED (SELECT id, rep FROM ${pfx}rep
                UNION ALL SELECT id, rep FROM ${pfx}bord),
        ${pfx}hub AS (SELECT ub.id, count(DISTINCT m.rep) AS ncl
                 FROM ub JOIN ${pfx}memb m ON m.id = ub.nb GROUP BY ub.id)"""

  /** The 3 unrolled synchronous Louvain local-move rounds over the
    * audit-CTE graph (lmt = edge mass, lv0 = singletons, lv3 = the
    * phase-1 partition) — shared by knn_graph_louvain and the two-level
    * knn_graph_louvain2 (whose contraction + weighted rounds chain onto
    * lv3). Assumes `e`, `uu`, `ub`, `dq` are in scope.
    */
  private def louvainP1Ctes: String = s"""
        lmt AS (SELECT count(*) AS m FROM uu),
        lv0 AS MATERIALIZED (SELECT id, id AS community FROM e),
        ${(1 to 3).map(r => s"""
        lst$r AS (SELECT s.community, sum(d.deg)::BIGINT AS tot
                  FROM lv${r - 1} s JOIN dq d ON d.id = s.id
                  GROUP BY s.community),
        lkv$r AS (SELECT ub.id, s.community AS cc, count(*)::BIGINT AS kvc
                  FROM ub JOIN lv${r - 1} s ON s.id = ub.nb
                  GROUP BY ub.id, s.community),
        lcd$r AS (SELECT id, cc, max(kvc)::BIGINT AS kvc FROM (
                    SELECT id, cc, kvc FROM lkv$r
                    UNION ALL
                    SELECT id, community AS cc, 0 FROM lv${r - 1})
                  GROUP BY id, cc),
        lsc$r AS (SELECT c.id, c.cc,
                         2 * lmt.m * c.kvc
                           - d.deg * (st.tot
                                      - CASE WHEN c.cc = o.community
                                             THEN d.deg ELSE 0 END) AS score
                  FROM lcd$r c
                  JOIN dq d ON d.id = c.id
                  JOIN lst$r st ON st.community = c.cc
                  JOIN lv${r - 1} o ON o.id = c.id
                  CROSS JOIN lmt),
        lv$r AS MATERIALIZED (SELECT id, cc AS community FROM (
                  SELECT id, cc, row_number() OVER (PARTITION BY id
                           ORDER BY score DESC, cc) AS rn
                  FROM lsc$r) WHERE rn = 1)""").mkString(",")}"""

  /** The phase-2 (contraction + 2 weighted rounds) Louvain CTE chain —
    * chains onto [[louvainP1Ctes]] (needs lv3, uu, lmt in scope); ends
    * at wlv2, the coarse-graph partition. Shared by knn_graph_louvain2
    * (projects it) and knn_graph_louvain_q (measures its modularity).
    */
  private def louvain2Ctes: String = s"""
        lct AS MATERIALIZED (
          SELECT u.a, u.b, pa.community AS ca, pb.community AS cb
          FROM uu u
          JOIN lv3 pa ON pa.id = u.a
          JOIN lv3 pb ON pb.id = u.b),
        wcr AS MATERIALIZED (
          SELECT least(ca, cb) AS a, greatest(ca, cb) AS b,
                 count(*)::BIGINT AS w
          FROM lct WHERE ca <> cb GROUP BY 1, 2),
        wsf AS (SELECT ca AS id, count(*)::BIGINT AS s
                FROM lct WHERE ca = cb GROUP BY ca),
        wno AS MATERIALIZED (SELECT DISTINCT community AS id FROM lv3),
        wadj AS MATERIALIZED (
          SELECT a AS id, b AS nb, w FROM wcr
          UNION ALL SELECT b, a, w FROM wcr),
        wdq AS MATERIALIZED (
          SELECT n.id,
                 (coalesce(x.wsum, 0) + 2 * coalesce(sf.s, 0))::BIGINT AS deg
          FROM wno n
          LEFT JOIN (SELECT id, sum(w) AS wsum FROM wadj GROUP BY id) x
            ON x.id = n.id
          LEFT JOIN wsf sf ON sf.id = n.id),
        wlv0 AS MATERIALIZED (SELECT id, id AS community FROM wno),
        ${(1 to 2).map(r => s"""
        wst$r AS (SELECT s.community, sum(d.deg)::BIGINT AS tot
                  FROM wlv${r - 1} s JOIN wdq d ON d.id = s.id
                  GROUP BY s.community),
        wkv$r AS (SELECT wadj.id, s.community AS cc, sum(w)::BIGINT AS kvc
                  FROM wadj JOIN wlv${r - 1} s ON s.id = wadj.nb
                  GROUP BY wadj.id, s.community),
        wcd$r AS (SELECT id, cc, max(kvc)::BIGINT AS kvc FROM (
                    SELECT id, cc, kvc FROM wkv$r
                    UNION ALL
                    SELECT id, community AS cc, 0 FROM wlv${r - 1})
                  GROUP BY id, cc),
        wsc$r AS (SELECT c.id, c.cc,
                         2 * lmt.m * c.kvc
                           - d.deg * (st.tot
                                      - CASE WHEN c.cc = o.community
                                             THEN d.deg ELSE 0 END) AS score
                  FROM wcd$r c
                  JOIN wdq d ON d.id = c.id
                  JOIN wst$r st ON st.community = c.cc
                  JOIN wlv${r - 1} o ON o.id = c.id
                  CROSS JOIN lmt),
        wlv$r AS MATERIALIZED (
          SELECT id, cc AS community FROM (
            SELECT id, cc, row_number() OVER (PARTITION BY id
                     ORDER BY score DESC, cc) AS rn
            FROM wsc$r) WHERE rn = 1 AND (id + $r) % 2 = 0
          UNION ALL
          SELECT id, community FROM wlv${r - 1}
          WHERE (id + $r) % 2 <> 0)""").mkString(",")}"""

  /** Vamana robust-prune replay over `g2` (alpha = 1.2, maxDegree = 8 —
    * the knn_graph_vamana config). The per-node sequential greedy is a
    * recursive CTE in the knn_mmr mold: state = (src, kept-ids list);
    * each step picks the min-(dist, id) candidate not yet kept and not
    * α-dominated by any kept member (α²·d²(kept, c) ≤ d²(src, c) — the
    * exact rule [[graft.operators.NNDescent.robustPrune]] applies, and
    * domination by an earlier-picked member is exactly the Scala loop's
    * `removed` mark since picks ascend in (dist, id)). `pd` pre-computes
    * the candidate-pair distances the domination checks read — per-node
    * candidates are ≤ 2k, so `pd` is Σ|cand|² rows, never corpus².
    * Emits `pedges` (the directed pruned graph) for the beam replay.
    */
  private def pruneCtes: String = s"""
        und AS MATERIALIZED (SELECT src, dst, min(dist) AS dist FROM (
                  SELECT src, dst, dist FROM g2
                  UNION ALL SELECT dst AS src, src AS dst, dist FROM g2)
                GROUP BY 1, 2),
        pd AS MATERIALIZED (SELECT a.src, a.dst AS ia, b.dst AS ib,
                                   ${sqlL2Sq("ea.v", "eb.v")} AS d
               FROM und a JOIN und b ON a.src = b.src AND a.dst != b.dst
               JOIN e ea ON ea.id = a.dst
               JOIN e eb ON eb.id = b.dst),
        vsel AS (
          SELECT src, 1 AS step, [dst] AS ids
          FROM (SELECT src, dst,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY dist, dst) AS rn
                FROM und) WHERE rn = 1
          UNION ALL
          SELECT src, step + 1, list_append(ids, cand)
          FROM (
            SELECT src, step, ids, cand,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY cdist, cand) AS rn
            FROM (
              SELECT v.src, v.step, v.ids, c.dst AS cand, c.dist AS cdist,
                     max(CASE WHEN pd.ib IS NOT NULL
                               AND (1.2::DOUBLE * 1.2::DOUBLE) * pd.d
                                   <= c.dist THEN 1 ELSE 0 END) AS dom
              FROM vsel v
              JOIN und c ON c.src = v.src AND NOT list_contains(v.ids, c.dst)
              LEFT JOIN pd ON pd.src = v.src AND pd.ib = c.dst
                          AND list_contains(v.ids, pd.ia)
              GROUP BY v.src, v.step, v.ids, c.dst, c.dist)
            WHERE dom = 0)
          WHERE rn = 1 AND step < 8
        ),
        vlast AS (SELECT src, max(step) AS ms FROM vsel GROUP BY src),
        pedges AS MATERIALIZED (
          SELECT v.src, unnest(v.ids) AS dst
          FROM vsel v JOIN vlast l ON l.src = v.src AND v.step = l.ms)"""

  /** Shared NN-Descent graph artifacts per sf dir, mirroring the hnsw_*
    * bench split: knn_graph measures COLD construction (drops the
    * artifacts, rebuilds), knn_graph_vamana measures the prune stage
    * over the shared graph, knn_graph_search measures beam search over
    * the shared pruned graph. All three artifacts are
    * localCheckpoint-materialized, so reuse is a scan, not a recompute.
    */
  private def embOf(spark: org.apache.spark.sql.SparkSession, dir: String) =
    t(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))

  private def sharedGraph(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("knn_graph", dir)(
      NNDescent.knnGraph(embOf(spark, dir), "id", "vec", k = K, iterations = 2))

  private def sharedPruned(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("knn_pruned", dir)(
      NNDescent
        .robustPrune(
          sharedGraph(spark, dir), embOf(spark, dir), "id", "vec",
          alpha = 1.2, maxDegree = 8)
        .localCheckpoint())

  /** The SCAN/triangle tier's shared wedge artifact over the shared kNN
    * graph (per-edge common-neighbor counts + degrees), computed once per
    * sf dir: knn_graph_scan, the 3-ε scan curve, eval_scan_agreement and
    * knn_graph_triangles are all filters/linear aggregations over these
    * counts, so the family pays the wedge shuffle ONCE (the sharedGraph
    * discipline applied to the tier's dominant join).
    */
  private def sharedWedge(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): graft.operators.GraphAudit.WedgeStats =
    Artifacts.get("knn_wedge", dir)(
      graft.operators.GraphAudit.wedgeStats(
        sharedGraph(spark, dir),
        t(spark, dir, "embeddings").select(col("vec_id").cast("long").as("id"))))

  /** The corpus PCA model, fit once per sf dir (the expensive passes are
    * the covariance moments + 2×48 power-iteration rounds) and shared by
    * embed_pca and embed_pca_outlier — the sharedGraph discipline.
    */
  private def sharedPcaModel(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): graft.operators.Pca.PcaModel =
    Artifacts.get("pca_model", dir) {
      val emb = t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      graft.operators.Pca.fit(emb, "v", d = 64, p = 2, rounds = PCAR)
    }

  /** The facility-location greedy trajectory (rnd, center_id, unrounded
    * gain), run once per sf dir and shared by pipeline_facility and
    * eval_selection_coverage (which re-ran the identical k corpus-sized
    * gain aggregates).
    */
  private def sharedFacility(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): Array[(Long, Long, Double)] =
    Artifacts.get("facility", dir) {
      val emb = t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      graft.operators.FacilityLocation
        .greedy(emb, "vec_id", "v", k = FLK, poolMod = 10L, poolCap = 640L)
        .orderBy(col("rnd"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }

  /** The DeepWalk walk table over the shared kNN graph (every 5th node
    * starts one 5-step walk, salt "v1"), computed once per sf dir and
    * shared by knn_graph_walks (serves it) and pipeline_skipgram (pairs
    * it). All coins are md5 over (walk, step) — fully hash-checkable.
    */
  private def sharedWalks(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("walks", dir) {
      val starts = t(spark, dir, "embeddings")
        .filter(col("vec_id") % 5 === 0).select(col("vec_id"))
      graft.operators.RandomWalk
        .uniformWalks(sharedGraph(spark, dir), starts, steps = 5, salt = "v1")
        .localCheckpoint()
    }

  /** Unrolled SQL replay of the shared DeepWalk table: undirected ranked
    * adjacency over g2, then one CTE per step picking neighbor rank
    * coin("wk:v1:walk:t") % deg + 1 — integer arithmetic end to end, the
    * same md5 coin the Spark operator draws. Leaves wund/wadj/w0..w5/wt
    * in scope (w1..w5 are lazy: oracles that only need wund/w0 don't pay
    * for the walk replay).
    */
  private def walkCtes: String = s"""
        wund AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM g2 UNION ALL SELECT dst, src FROM g2)),
        wadj AS MATERIALIZED (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
                 count(*) OVER (PARTITION BY src) AS deg FROM wund),
        w0 AS (SELECT vec_id AS walk_id, vec_id AS cur FROM embeddings
               WHERE vec_id % 5 = 0),
        ${(1 to 5).map(t => s"""
        w$t AS (SELECT f.walk_id, a.dst AS cur
               FROM w${t - 1} f JOIN wadj a ON a.src = f.cur
                AND a.rn = ('0x' || substr(md5('wk:v1:' || f.walk_id::VARCHAR || ':$t'), 1, 14))::BIGINT % a.deg + 1)""").mkString(",")},
        wt AS (${(0 to 5).map(t =>
          s"SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS id FROM w$t")
          .mkString(" UNION ALL ")})"""

  /** The multi-source BFS hop table (every 100th node a source, 4
    * rounds) over the shared kNN graph, computed once per sf dir and
    * shared by knn_graph_distances (hop histogram) and
    * knn_graph_closeness (harmonic sums).
    */
  private def sharedBfs(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("bfs", dir) {
      val sources = t(spark, dir, "embeddings")
        .filter(col("vec_id") % 100 === 0).select(col("vec_id"))
      graft.operators.GraphAudit
        .multiSourceBfs(sharedGraph(spark, dir), sources, rounds = 4)
        .localCheckpoint()
    }

  /** Unrolled SQL replay of [[sharedBfs]]: frontier-BFS rounds over
    * `wund` (needs [[walkCtes]] in scope); leaves b4 = the cumulative
    * (s, id, hop) visited table.
    */
  private def bfsCtes: String = s"""
        b0 AS MATERIALIZED (SELECT vec_id AS s, vec_id AS id, 0 AS hop
              FROM embeddings WHERE vec_id % 100 = 0),
        f0 AS MATERIALIZED (SELECT s, id FROM b0),
        ${(1 to 4).map(t => s"""
        f$t AS MATERIALIZED (SELECT DISTINCT f.s, u.dst AS id
              FROM f${t - 1} f JOIN wund u ON u.src = f.id
              WHERE NOT EXISTS (SELECT 1 FROM b${t - 1} b
                                WHERE b.s = f.s AND b.id = u.dst)),
        b$t AS MATERIALIZED (SELECT * FROM b${t - 1}
              UNION ALL SELECT s, id, $t AS hop FROM f$t)""").mkString(",")}"""

  /** The phase-1 Louvain partition (3 sync rounds over the shared kNN
    * graph), computed once per sf dir and shared by knn_graph_louvain
    * (serves it directly) and knn_graph_louvain2 (contracts it).
    */
  private def sharedLouvainP1(
      spark: org.apache.spark.sql.SparkSession, dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("louvain_p1", dir) {
      val emb = t(spark, dir, "embeddings")
      graft.operators.Louvain
        .louvainSync(
          sharedGraph(spark, dir),
          emb.select(col("vec_id").cast("long").as("id")),
          rounds = 3)
        .localCheckpoint()
    }

  // RP-tree forest shape (rpt_*): 2 trees × depth 4 over the 64-d table
  private val RPT_T = 2
  private val RPT_D = 4

  private def sharedForest(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): graft.operators.RpTree.Forest =
    Artifacts.get("rpt_forest", dir)(
      graft.operators.RpTree.build(
        embOf(spark, dir), "id", "vec",
        numTrees = RPT_T, depth = RPT_D, dim = 64))

  /** The DBSCAN labeling CTE block over any `pr(ia, ib)` eps-pair
    * table — degree count, core rule, min-id closure over core-core
    * edges, min-attach borders. Shared by cluster_dbscan (exact pairs)
    * and cluster_dbscan_lsh (SRP-banded pairs): the labeling is
    * pair-source-agnostic on both engines, mirroring
    * [[graft.operators.Dbscan.dbscanFromPairs]].
    */
  private val dbscanLabelCtes: String = """
        und AS (SELECT ia AS id, ib AS nb FROM pr
                UNION ALL SELECT ib, ia FROM pr),
        deg AS (SELECT e.id, count(und.nb) + 1 AS deg
                FROM e LEFT JOIN und ON und.id = e.id GROUP BY e.id),
        core AS (SELECT id FROM deg WHERE deg >= 4),
        ce AS (SELECT ia, ib FROM pr
               WHERE ia IN (SELECT id FROM core)
                 AND ib IN (SELECT id FROM core)),
        ed AS (SELECT ia AS a, ib AS b FROM ce
               UNION SELECT ib, ia FROM ce),
        reach(id, r) AS (
          SELECT a, a FROM ed
          UNION
          SELECT ed.a, reach.r FROM ed JOIN reach ON reach.id = ed.b),
        comps AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
        corec AS (SELECT c.id, coalesce(comps.rep, c.id) AS cluster
                  FROM core c LEFT JOIN comps ON comps.id = c.id),
        border AS (SELECT u.id, min(cc.cluster) AS cluster
                   FROM und u JOIN corec cc ON cc.id = u.nb
                   WHERE u.id NOT IN (SELECT id FROM core)
                   GROUP BY u.id)"""

  private val dbscanLabelSelect: String = """
        SELECT e.id AS vec_id,
               CASE WHEN c.id IS NOT NULL THEN 'core'
                    WHEN b.id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               coalesce(c.cluster, b.cluster, -1)::BIGINT AS cluster
        FROM e LEFT JOIN corec c ON c.id = e.id
               LEFT JOIN border b ON b.id = e.id"""

  /** One unrolled RP-tree median-split level in DuckDB: project every
    * point of node table a$r onto its tree's level-r hyperplane, take
    * the LOWER median per (tree, node) — rank ⌈n/2⌉ under (proj, id) —
    * and route `proj <= med` left. Mirrors
    * [[graft.operators.RpTree.build]] exactly.
    */
  private def rptLevel(r: Int): String = s"""
    p$r AS MATERIALIZED (SELECT a.tree, a.id, a.v, a.node,
           list_sum(list_transform(generate_series(1, 64),
             j -> a.v[j] * pll.hv[j])) AS proj
         FROM a$r a JOIN pll ON pll.tree = a.tree AND pll.level = $r),
    m$r AS MATERIALIZED (SELECT tree, node, proj AS med FROM (
           SELECT tree, node, proj,
                  row_number() OVER (PARTITION BY tree, node
                                     ORDER BY proj, id) AS rn,
                  count(*) OVER (PARTITION BY tree, node) AS n
           FROM p$r) WHERE rn = (n + 1) // 2),
    a${r + 1} AS MATERIALIZED (SELECT p.tree, p.id, p.v,
           p.node * 2 + CASE WHEN p.proj <= m.med THEN 0 ELSE 1 END AS node
         FROM p$r p JOIN m$r m ON m.tree = p.tree AND m.node = p.node)"""

  /** The full forest-build replay: md5 hyperplanes (the
    * [[graft.operators.Dedup.hyperplane]] formula with plane index
    * 1000 + tree·64 + level), then `RPT_D` unrolled median-split
    * levels; a$RPT_D is the leaf table.
    */
  private def rptCtes: String = s"""
    e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
           FROM embeddings),
    tr AS (SELECT unnest([${(0 until RPT_T).mkString(",")}]) AS tree),
    lv AS (SELECT unnest([${(0 until RPT_D).mkString(",")}]) AS level),
    dd AS (SELECT unnest(generate_series(0, 63)) AS d),
    pl AS (SELECT tr.tree, lv.level, dd.d,
                  ((('0x' || substr(md5((1000 + tr.tree*64 + lv.level)::VARCHAR
                     || '_' || dd.d::VARCHAR), 1, 14))::BIGINT % 1000003)
                    / 1000003.0 - 0.5) AS h
           FROM tr CROSS JOIN lv CROSS JOIN dd),
    pll AS MATERIALIZED (SELECT tree, level, list(h ORDER BY d) AS hv
           FROM pl GROUP BY tree, level),
    a0 AS (SELECT tr.tree, e.id, e.v, 0::BIGINT AS node FROM e CROSS JOIN tr),
    ${(0 until RPT_D).map(rptLevel).mkString(",")}"""

  /** Spill-descent replay (rpt_knn_spill / eval_rank_metrics): queries
    * walk the forest visiting BOTH children when |proj − med| < 0.2,
    * leaf-union candidates, exact distances ranked into `spr`.
    */
  private def rptSpillCtes: String = s"""
        q AS (SELECT id AS qid, v AS qv FROM e WHERE id % 10 = 0),
        q0 AS (SELECT tr.tree, q.qid, q.qv, 0::BIGINT AS node
               FROM q CROSS JOIN tr),
        ${(0 until RPT_D).map(r => s"""
        qp$r AS (SELECT x.tree, x.qid, x.qv, x.node,
                 list_sum(list_transform(generate_series(1, 64),
                   j -> x.qv[j] * pll.hv[j])) AS proj, m$r.med AS med
                 FROM q$r x
                 JOIN pll ON pll.tree = x.tree AND pll.level = $r
                 JOIN m$r ON m$r.tree = x.tree AND m$r.node = x.node),
        q${r + 1} AS (SELECT tree, qid, qv, node * 2 + c AS node FROM (
                 SELECT tree, qid, qv, node,
                        unnest(CASE WHEN abs(proj - med) < 0.2
                               THEN [0::BIGINT, 1::BIGINT]
                               ELSE [CASE WHEN proj <= med
                                     THEN 0::BIGINT ELSE 1::BIGINT END]
                               END) AS c
                 FROM qp$r))""").mkString(",")},
        scand AS (SELECT DISTINCT qf.qid, af.id
                 FROM q$RPT_D qf
                 JOIN a$RPT_D af ON af.tree = qf.tree AND af.node = qf.node),
        sd AS (SELECT scand.qid, scand.id,
                     ${sqlL2Sq("q.qv", "e.v")} AS dist
              FROM scand JOIN e ON e.id = scand.id
              JOIN q ON q.qid = scand.qid),
        spr AS (SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist, id) AS rnk
              FROM sd)"""

  // rpt_recall_curve operating points (spill margins)
  private val RPT_SPILLS = Seq(0.0, 0.1, 0.2, 0.4)

  /** Per-margin spill-descent replays for the recall curve: for margin
    * index x, CTEs qs{x}_0..qs{x}_D walk the forest with that margin and
    * ar{x} is the exact-reranked top-K per query tagged with the spill
    * value. Mirrors [[graft.operators.RpTree.assignPointsSpill]] level
    * by level (same |proj − med| < spill both-children rule).
    */
  private def rptSpillCurveCtes(spills: Seq[Double]): String =
    spills.zipWithIndex.map { case (s, x) =>
      s"""
        qs${x}_0 AS (SELECT tr.tree, q.qid, q.qv, 0::BIGINT AS node
               FROM q CROSS JOIN tr),
        ${(0 until RPT_D).map(r => s"""
        qsp${x}_$r AS (SELECT xx.tree, xx.qid, xx.qv, xx.node,
                 list_sum(list_transform(generate_series(1, 64),
                   j -> xx.qv[j] * pll.hv[j])) AS proj, m$r.med AS med
                 FROM qs${x}_$r xx
                 JOIN pll ON pll.tree = xx.tree AND pll.level = $r
                 JOIN m$r ON m$r.tree = xx.tree AND m$r.node = xx.node),
        qs${x}_${r + 1} AS (SELECT tree, qid, qv, node * 2 + c AS node FROM (
                 SELECT tree, qid, qv, node,
                        unnest(CASE WHEN abs(proj - med) < ${s}::DOUBLE
                               THEN [0::BIGINT, 1::BIGINT]
                               ELSE [CASE WHEN proj <= med
                                     THEN 0::BIGINT ELSE 1::BIGINT END]
                               END) AS c
                 FROM qsp${x}_$r))""").mkString(",")},
        ar$x AS (SELECT ${s}::DOUBLE AS spill, t.qid, t.id FROM (
               SELECT cd.qid, cd.id,
                      row_number() OVER (PARTITION BY cd.qid
                                         ORDER BY cd.dist, cd.id) AS rnk
               FROM (SELECT sc.qid, sc.id, ${sqlL2Sq("q.qv", "e.v")} AS dist
                     FROM (SELECT DISTINCT qf.qid, af.id
                           FROM qs${x}_$RPT_D qf
                           JOIN a$RPT_D af ON af.tree = qf.tree
                                          AND af.node = qf.node) sc
                     JOIN e ON e.id = sc.id
                     JOIN q ON q.qid = sc.qid) cd) t
               WHERE t.rnk <= $K)"""
    }.mkString(",")

  /** One unrolled label-propagation round in DuckDB — count labeled
    * neighbors per node and label, majority pick (count DESC, label
    * ASC), unlabeled nodes adopt, labeled stay clamped. Mirrors
    * [[graft.operators.LabelProp.labelPropagation]] exactly.
    */
  private def lpIter(i: Int, prev: String): String = s"""
    cnt$i AS MATERIALIZED (SELECT u.dst AS id, s.lab, count(*) AS c
            FROM und u JOIN $prev s ON s.id = u.src AND s.lab IS NOT NULL
            GROUP BY u.dst, s.lab),
    maj$i AS (SELECT id, lab AS mlab FROM (
                SELECT id, lab,
                       row_number() OVER (PARTITION BY id
                                          ORDER BY c DESC, lab) AS rn
                FROM cnt$i) WHERE rn = 1),
    lp$i AS MATERIALIZED (SELECT s.id, coalesce(s.lab, m.mlab) AS lab
            FROM $prev s LEFT JOIN maj$i m ON m.id = s.id)"""

  // fixed walk-codebook shape (knn_graph_search_pq): M=8 subspaces of 8
  // dims, K=16 codewords per subspace = slices of the first 16 embeddings
  // — the PQQueries fixed-model convention, which makes the compressed
  // walk deterministic and therefore DuckDB-replayable
  private val WPQM = 8
  private val WPQDP = 8
  private val WPQK = 16

  private def fixedWalkModel(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): graft.operators.PQModel = {
    // at most WPQK rows: sorted after the collect, not by a Spark sort
    val rows = t(spark, dir, "embeddings")
      .filter(col("vec_id") < WPQK)
      .select(col("vec_id"), toDouble(col("embedding")))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    graft.operators.PQModel(
      WPQM, WPQK, rows(0).length,
      Array.tabulate(WPQM)(mi =>
        rows.map(v =>
          java.util.Arrays.copyOfRange(v, mi * WPQDP, (mi + 1) * WPQDP))))
  }

  /** Spark-side: embeddings table split into (queries, base). */
  private def qb(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = t(spark, dir, "embeddings")
    val q = emb
      .filter(col("vec_id") % 10 === 0)
      .select(
        col("vec_id").as("query_id"),
        toDouble(col("embedding")).as("qv")
      )
    val b = emb.select(
      col("vec_id").as("neighbor_id"),
      toDouble(col("embedding")).as("bv")
    )
    (q, b)
  }

  val all: Seq[GQuery] = Seq(
    GQuery(
      "knn_bruteforce",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN
          .knn(q, b, K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 4).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlL2Sq("qv", "bv")} AS dist
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM d)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // Contrastive triplet mining — the data-prep stage embedding-model
    // training runs over a corpus (DPR/SimCSE shape): per anchor, the
    // nearest non-self neighbor as the POSITIVE, ranks 21-23 as HARD
    // negatives (retrieved-but-not-top — the negatives that actually
    // teach the margin), and one md5-drawn RANDOM negative (excluded if
    // it accidentally lands in the anchor's top-25 or on the anchor —
    // the standard collision rule, applied identically on both engines).
    // One exact-kNN pass feeds all three roles; the random draw joins
    // back for its true distance. Deterministic end to end.
    GQuery(
      "pipeline_triplets",
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (q, b) = qb(spark, dir)
        val top = BruteForceKNN.knn(q, b, 25)
          .select(col("query_id"), col("neighbor_id"), col("dist"),
            col("rnk").cast("long").as("rnk"))
        val pos = top
          .filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("pr", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(col("rnk"))))
          .filter(col("pr") === 1)
          .select(col("query_id"), lit("positive").as("role"),
            col("neighbor_id"), col("dist"), col("rnk"))
        val hard = top
          .filter(col("rnk").between(21, 23))
          .select(col("query_id"), lit("hard_negative").as("role"),
            col("neighbor_id"), col("dist"), col("rnk"))
        val nTab = b.agg(count(lit(1)).as("n"))
        val rnd = q.select(col("query_id"), col("qv"))
          .crossJoin(broadcast(nTab))
          .select(col("query_id"), col("qv"),
            (graft.operators.Dedup.md5Long(
              concat(col("query_id").cast("string"), lit(":neg")))
              % col("n")).as("neighbor_id"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .join(top.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_anti")
          .join(b, "neighbor_id")
          .select(col("query_id"), lit("random_negative").as("role"),
            col("neighbor_id"),
            graft.functions.VectorExpressions
              .l2SqFast(col("qv"), col("bv")).as("dist"),
            lit(null).cast("long").as("rnk"))
        pos.unionAll(hard).unionAll(rnd)
          .select(col("query_id"), col("role"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlL2Sq("qv", "bv")} AS dist
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM d),
             top AS (SELECT * FROM r WHERE rnk <= 25),
             pos AS (SELECT query_id, neighbor_id, dist, rnk FROM (
                       SELECT top.*, row_number() OVER (
                                PARTITION BY query_id ORDER BY rnk) AS pr
                       FROM top WHERE neighbor_id != query_id)
                     WHERE pr = 1),
             hard AS (SELECT query_id, neighbor_id, dist, rnk
                      FROM top WHERE rnk BETWEEN 21 AND 23),
             n AS (SELECT count(*) AS n FROM b),
             rndp AS (SELECT query_id, qv,
                             ('0x' || substr(md5(query_id::VARCHAR ||
                               ':neg'), 1, 14))::BIGINT % n.n AS neighbor_id
                      FROM q CROSS JOIN n),
             rnd AS (SELECT rndp.query_id, rndp.qv, rndp.neighbor_id
                     FROM rndp
                     WHERE rndp.neighbor_id != rndp.query_id
                       AND NOT EXISTS (SELECT 1 FROM top t
                                       WHERE t.query_id = rndp.query_id
                                         AND t.neighbor_id = rndp.neighbor_id)),
             rndd AS (SELECT rnd.query_id, rnd.neighbor_id,
                             ${sqlL2Sq("rnd.qv", "b.bv")} AS dist
                      FROM rnd JOIN b USING (neighbor_id))
        SELECT query_id, 'positive' AS role, neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM pos
        UNION ALL
        SELECT query_id, 'hard_negative', neighbor_id,
               round(dist, 4), rnk
        FROM hard
        UNION ALL
        SELECT query_id, 'random_negative', neighbor_id,
               round(dist, 4), NULL::BIGINT
        FROM rndd
      """)
    ),
    // NN-Descent kNN-GRAPH construction (Dong et al. 2011) — the
    // substrate every graph-ANN index builds on, grown without an N²
    // pass: deterministic ring init, then 2 unrolled refinement rounds of
    // neighbors-of-neighbors propose → score → keep-best-k. Fully
    // deterministic (no RNG anywhere), so the ENTIRE iterative algorithm
    // sits under an exact hash-checked oracle — the DuckDB side replays
    // both rounds CTE by CTE. Per round: one shuffle keyed on the shared
    // middle node (candidates bounded by (2k)² per node, never N), one
    // bounded-heap top-k.
    GQuery(
      "knn_graph",
      (spark, dir) => {
        // cold-construction semantics (the hnsw_build convention): drop
        // the shared graph and the artifacts derived from it, rebuild,
        // re-memoize
        Seq("knn_graph", "knn_pruned", "knn_wedge").foreach(Artifacts.drop(_, dir))
        sharedGraph(spark, dir)
          .select(
            col("src"), col("dst"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH $graphCtes
        SELECT src, dst, round(dist, 4) AS dist, rn AS rnk
        FROM g2
      """)
    ),
    // RECIPROCAL (mutual) kNN pairs over the shared graph — the
    // high-precision near-dup/cluster signal agglomerative RNN
    // clustering and hubness-correction literature build on: a pair
    // survives only if EACH endpoint ranks the other in its own top-k
    // (directed kNN edges in both directions), which kills the
    // asymmetric hub edges that inflate plain kNN neighborhoods.
    // One equi-keyed self-join of the directed edge table on the
    // swapped (src, dst) pair — no new distance work, corpus cost is
    // |E| on the graph artifact.
    GQuery(
      "knn_graph_mutual",
      (spark, dir) => {
        val g = sharedGraph(spark, dir)
        g.as("a")
          .join(g.as("b"),
            col("a.src") === col("b.dst") && col("a.dst") === col("b.src") &&
              col("a.src") < col("a.dst"))
          .select(
            col("a.src").as("a"), col("a.dst").as("b"),
            round(col("a.dist"), 4).as("dist"))
      },
      Some(s"""
        WITH $graphCtes,
        mu AS (SELECT x.src AS a, x.dst AS b, x.dist
               FROM g2 x JOIN g2 y
                 ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst)
        SELECT a, b, round(dist, 4) AS dist FROM mu
      """)
    ),
    // Vamana robust prune (DiskANN) over the NN-Descent graph: the
    // α-dominance greedy keeps the closest candidate and drops everything
    // it dominates, per node over out ∪ reversed-in candidates — the
    // direction-diversity pass that turns a kNN graph into a navigable
    // index graph. Deterministic, and the per-node sequential greedy DOES
    // have a SQL spelling after all — the knn_mmr recursive-CTE pattern
    // (state = kept list, each step appends the min-(dist, id)
    // non-dominated candidate), so the whole prune is hash-checked
    // end to end; NNDescentSpec additionally pins the rule on a
    // hand-built geometry fixture plus degree/subset/determinism gates.
    GQuery(
      "knn_graph_vamana",
      (spark, dir) => {
        // measures the PRUNE stage over the shared (memoized) graph, and
        // hands the materialized result to knn_graph_search (the
        // hnsw_knn -> hnsw_search pattern: the next stage scores THE
        // artifact this query just benchmarked, not a recompute)
        val pruned = NNDescent
          .robustPrune(
            sharedGraph(spark, dir), embOf(spark, dir), "id", "vec",
            alpha = 1.2, maxDegree = 8)
          .localCheckpoint()
        Artifacts.drop("knn_pruned", dir)
        Artifacts.get("knn_pruned", dir)(pruned)
        pruned.select(col("src"), col("dst"), round(col("dist"), 4).as("dist"))
      },
      Some(s"""
        WITH RECURSIVE
        $graphCtes,
        $pruneCtes
        SELECT p.src, p.dst, round(u.dist, 4) AS dist
        FROM pedges p JOIN und u ON u.src = p.src AND u.dst = p.dst
      """)
    ),
    // The DiskANN serving pipeline end to end: NN-Descent graph →
    // Vamana α-prune → BEAM SEARCH (greedy best-first as a synchronized
    // BFS-beam: expand beam ∪ neighbors, keep the (dist, id) top-beam
    // per round), every query walked in one pass against the graph and
    // vectors broadcast as one in-memory graph — capped at
    // LocalGraph.MaxAuditNodes = 200k nodes. Deterministic, and
    // hash-checked end to end: the oracle chains the graph replay, the
    // vamana-prune recursion, and a second recursive CTE that replays
    // all 6 beam rounds (state = the sorted top-beam id list per query;
    // each round expands the beam through `pedges`, rescores beam ∪
    // neighbors — bit-identical to the engine's score-merge-dedup since
    // both engines recompute the same IEEE double distance — and keeps
    // the (dist, id)-ascending top 24). NNDescentSpec gates
    // round-monotone recall and the final floor vs exact kNN.
    GQuery(
      "knn_graph_search",
      (spark, dir) => {
        // measures BEAM SEARCH over the shared (memoized) pruned graph
        val emb = embOf(spark, dir)
        val q = emb
          .filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("vec").as("qv"))
        NNDescent
          .beamSearch(sharedPruned(spark, dir), emb, "id", "vec",
            q, "query_id", "qv", k = K, beam = 24, rounds = 6, entryId = 0L)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH RECURSIVE
        $graphCtes,
        $pruneCtes,
        q AS MATERIALIZED (SELECT id AS qid, v AS qv FROM e WHERE id % 10 = 0),
        bsel AS (
          SELECT qid, 0 AS r, [0::BIGINT] AS ids FROM q
          UNION ALL
          SELECT qid, r, list(id ORDER BY dist, id) AS ids FROM (
            SELECT qid, r, id, dist,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, id) AS rn
            FROM (
              SELECT cand.qid, cand.r, cand.id,
                     ${sqlL2Sq("qq.qv", "ee.v")} AS dist
              FROM (
                SELECT DISTINCT m.qid, m.r, pe.dst AS id
                FROM (SELECT s.qid, s.r + 1 AS r, unnest(s.ids) AS bid
                      FROM bsel s WHERE s.r < 6) m
                JOIN pedges pe ON pe.src = m.bid
                UNION
                SELECT s.qid, s.r + 1 AS r, unnest(s.ids) AS id
                FROM bsel s WHERE s.r < 6
              ) cand
              JOIN e ee ON ee.id = cand.id
              JOIN q qq ON qq.qid = cand.qid))
          WHERE rn <= 24
          GROUP BY qid, r
        ),
        fin AS (SELECT qid, unnest(ids) AS id FROM bsel WHERE r = 6),
        fd AS (SELECT f.qid, f.id, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
               FROM fin f JOIN e ee ON ee.id = f.id
               JOIN q qq ON qq.qid = f.qid),
        rkd AS (SELECT qid, id, dist,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY dist, id) AS rnk
                FROM fd)
        SELECT qid AS query_id, id AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM rkd WHERE rnk <= $K
      """)
    ),
    // DiskANN-serving beam search: the WALK reads only a PQ code table
    // (~M bytes/node) via per-query dot LUTs — never a raw vector — and
    // the raw corpus is read once, by the exact rerank of the |Q|·beam
    // survivors. The codes-not-vectors move that makes graph serving
    // feasible when the corpus doesn't fit memory. Under the engine's
    // FIXED-codebook convention (PQQueries: centroids = the first
    // embeddings rows, here K=16 of M=8×8 dims) the whole pipeline —
    // graph build, vamana prune, the 6-round ADC-scored walk, and the
    // exact rerank — is deterministic, so the oracle hash-checks it end
    // to end: a third recursive CTE replays the walk with the SAME
    // LUT-sum arithmetic as the pq_adc_topk oracle (per-subspace sums in
    // j order, then an m-ordered list_sum), chained onto the shared
    // graph + prune replay. NNDescentSpec separately gates the reranked
    // recall floor vs exact on a fitted codebook.
    GQuery(
      "knn_graph_search_pq",
      (spark, dir) => {
        val emb = embOf(spark, dir)
        val q = emb
          .filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("vec").as("qv"))
        val model = fixedWalkModel(spark, dir)
        val corpus = emb.withColumn("code",
          graft.operators.ProductQuantizer.encodeCol(model, col("vec")))
        NNDescent
          .beamSearchCoded(
            sharedPruned(spark, dir), corpus, "id", "vec", "code", model,
            q, "query_id", "qv", k = K, beam = 24, rounds = 6, entryId = 0L)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH RECURSIVE
        $graphCtes,
        $pruneCtes,
        q AS MATERIALIZED (SELECT id AS qid, v AS qv FROM e WHERE id % 10 = 0),
        pcent AS MATERIALIZED (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id < $WPQK),
        pms AS (SELECT unnest(generate_series(0, ${WPQM - 1})) AS m),
        pdists AS MATERIALIZED (
          SELECT e.id AS vid, pms.m, pcent.ck,
                 list_sum(list_transform(generate_series(1, $WPQDP),
                   j -> (e.v[pms.m*$WPQDP+j] - pcent.cv[pms.m*$WPQDP+j])
                        * (e.v[pms.m*$WPQDP+j] - pcent.cv[pms.m*$WPQDP+j]))) AS dist
          FROM e CROSS JOIN pms CROSS JOIN pcent),
        penc AS MATERIALIZED (
          SELECT vid, m, ck AS code FROM (
            SELECT vid, m, ck,
                   row_number() OVER (PARTITION BY vid, m
                                      ORDER BY dist, ck) AS rn
            FROM pdists) WHERE rn = 1),
        pqd AS MATERIALIZED (
          SELECT q.qid, pms.m, pcent.ck,
                 list_sum(list_transform(generate_series(1, $WPQDP),
                   j -> (q.qv[pms.m*$WPQDP+j] - pcent.cv[pms.m*$WPQDP+j])
                        * (q.qv[pms.m*$WPQDP+j] - pcent.cv[pms.m*$WPQDP+j]))) AS sdist
          FROM q CROSS JOIN pms CROSS JOIN pcent),
        psel AS (
          SELECT qid, 0 AS r, [0::BIGINT] AS ids FROM q
          UNION ALL
          SELECT qid, r, list(id ORDER BY dist, id) AS ids FROM (
            SELECT qid, r, id, dist,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, id) AS rn
            FROM (
              SELECT cand.qid, cand.r, cand.id,
                     list_sum(list(pqd.sdist ORDER BY pqd.m)) AS dist
              FROM (
                SELECT DISTINCT m.qid, m.r, pe.dst AS id
                FROM (SELECT s.qid, s.r + 1 AS r, unnest(s.ids) AS bid
                      FROM psel s WHERE s.r < 6) m
                JOIN pedges pe ON pe.src = m.bid
                UNION
                SELECT s.qid, s.r + 1 AS r, unnest(s.ids) AS id
                FROM psel s WHERE s.r < 6
              ) cand
              JOIN penc ON penc.vid = cand.id
              JOIN pqd ON pqd.qid = cand.qid AND pqd.m = penc.m
                      AND pqd.ck = penc.code
              GROUP BY cand.qid, cand.r, cand.id))
          WHERE rn <= 24
          GROUP BY qid, r
        ),
        pfin AS (SELECT qid, unnest(ids) AS id FROM psel WHERE r = 6),
        pfd AS (SELECT f.qid, f.id, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                FROM pfin f JOIN e ee ON ee.id = f.id
                JOIN q qq ON qq.qid = f.qid),
        prkd AS (SELECT qid, id, dist,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY dist, id) AS rnk
                 FROM pfd)
        SELECT qid AS query_id, id AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM prkd WHERE rnk <= $K
      """)
    ),
    // Radius query: all pairs within L2² <= 1.25 (~0.1% selectivity on the
    // near-random 64-d table; includes each query's self-pair at dist 0).
    GQuery(
      "range_search",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN
          .rangeSearch(q, b, 1.25)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 6).as("dist")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlL2Sq("qv", "bv")} AS dist
                   FROM q CROSS JOIN b)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist
        FROM d WHERE dist <= 1.25
      """)
    ),
    GQuery(
      "knn_cosine",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN
          .knnCosine(q, b, K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("sim"), 6).as("sim"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlDot("qv", "bv")}
                          / (sqrt(${sqlDot("qv", "qv")})
                             * sqrt(${sqlDot("bv", "bv")})) AS sim
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, neighbor_id, sim,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY sim DESC, neighbor_id) AS rnk
                   FROM d)
        SELECT query_id, neighbor_id, round(sim, 6) AS sim, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // SRP-LSH approximate top-k cosine search (Charikar 2002 + Lv 2007
    // multi-probe) — the FIFTH ANN index family next to IVF / sharded
    // HNSW / kNN-graph / RP-tree forest, and the only one whose build is
    // a single map-only scan (no training, no graph): banded hyperplane
    // sign signatures, query probes = exact sig + every 1-bit flip,
    // bucket-collision candidates, exact-cosine bounded-heap rerank.
    // Shares the dedup family's signature kernel verbatim (same md5-
    // derived hyperplanes the dedup_embedding_lsh_mp oracle replays), so
    // bucketing is identical by construction; queries colliding with
    // nothing return < k rows — the recall trade is the contract,
    // audited by eval_dedup_blocking on the shared kernel.
    GQuery(
      "knn_lsh",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        graft.operators.LshKnn
          .knnLsh(
            emb.select(col("vec_id"), toDouble(col("embedding")).as("v")),
            "vec_id", "v",
            emb.filter(col("vec_id") % 10 === 0)
              .select(col("vec_id").as("query_id"),
                toDouble(col("embedding")).as("qv")),
            "query_id", "qv",
            k = K, numPlanes = 16, bands = 4)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("sim"), 6).as("sim"),
            col("rnk").cast("long").as("rnk"))
      },
      Some {
        def bit(p: Int): String =
          s"""CASE WHEN list_sum(list_transform(generate_series(1, len(v)),
             |  i -> v[i] * ((('0x'||substr(md5('${p}_'||(i-1)::VARCHAR),1,14))::BIGINT
             |                % 1000003) / 1000003.0 - 0.5))) >= 0
             |THEN '1' ELSE '0' END""".stripMargin
        val sigDefs = (0 until 4).map { b =>
          (4 * b until 4 * b + 4).map(bit).mkString("(", " || ", s") AS sig$b")
        }.mkString(",\n")
        val bandUnion = (0 until 4)
          .map(b => s"SELECT $b AS band, sig$b AS sig, vec_id FROM s")
          .mkString(" UNION ALL ")
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, $sigDefs FROM e),
        bs AS MATERIALIZED ($bandUnion),
        qpr AS (SELECT vec_id, band,
                       unnest(list_append(
                         list_transform(generate_series(1, 4),
                           p -> substr(sig, 1, p-1)
                                || (CASE WHEN substr(sig, p, 1) = '1'
                                    THEN '0' ELSE '1' END)
                                || substr(sig, p+1, 4 - p)),
                         sig)) AS psig
                FROM bs WHERE vec_id % 10 = 0),
        cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS bid
                 FROM qpr a JOIN bs b
                   ON a.band = b.band AND a.psig = b.sig),
        sc AS (SELECT c.qid, c.bid,
                      ${sqlDot("eq.v", "eb.v")}
                      / (sqrt(${sqlDot("eq.v", "eq.v")})
                         * sqrt(${sqlDot("eb.v", "eb.v")})) AS sim
               FROM cand c
               JOIN e eq ON eq.vec_id = c.qid
               JOIN e eb ON eb.vec_id = c.bid),
        r AS (SELECT qid, bid, sim,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, bid) AS rnk
              FROM sc)
        SELECT qid AS query_id, bid AS neighbor_id,
               round(sim, 6) AS sim, rnk
        FROM r WHERE rnk <= $K
      """
      }
    ),
    // The LSH probe-radius operating curve — completing the tuning-knob
    // symmetry (IVF nprobe curve, HNSW ef curve, RP-tree spill curve):
    // Recall@10 vs exact cosine truth at Hamming probe radius 0 / 1 / 2
    // (exact buckets, +4 single flips, +6 double flips per band), one
    // shared truth, signature tables built once, per-radius work
    // probe-table-sized. Decimal-exact mean recall per radius,
    // hash-checked.
    GQuery(
      "knn_lsh_probe_curve",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        graft.operators.LshKnn
          .probeRecallCurve(
            emb.select(col("vec_id"), toDouble(col("embedding")).as("v")),
            "vec_id", "v",
            emb.filter(col("vec_id") % 10 === 0)
              .select(col("vec_id").as("query_id"),
                toDouble(col("embedding")).as("qv")),
            "query_id", "qv",
            k = K, radii = Seq(0, 1, 2), numPlanes = 16, bands = 4)
      },
      Some {
        def bit(p: Int): String =
          s"""CASE WHEN list_sum(list_transform(generate_series(1, len(v)),
             |  i -> v[i] * ((('0x'||substr(md5('${p}_'||(i-1)::VARCHAR),1,14))::BIGINT
             |                % 1000003) / 1000003.0 - 0.5))) >= 0
             |THEN '1' ELSE '0' END""".stripMargin
        val sigDefs = (0 until 4).map { b =>
          (4 * b until 4 * b + 4).map(bit).mkString("(", " || ", s") AS sig$b")
        }.mkString(",\n")
        val bandUnion = (0 until 4)
          .map(b => s"SELECT $b AS band, sig$b AS sig, vec_id FROM s")
          .mkString(" UNION ALL ")
        def f(s: String, p: Int): String =
          s"(substr($s, 1, ${p - 1}) || (CASE WHEN substr($s, $p, 1) = '1'" +
            s" THEN '0' ELSE '1' END) || substr($s, ${p + 1}, ${4 - p}))"
        def probesSql(rad: Int): String =
          (Seq("sig") ++
            (if (rad >= 1) (1 to 4).map(p => f("sig", p)) else Nil) ++
            (if (rad >= 2)
               for { p <- 1 to 4; q <- (p + 1) to 4 } yield f(f("sig", p), q)
             else Nil)).mkString("[", ", ", "]")
        val perRad = Seq(0, 1, 2).map(rad => s"""
        lpr$rad AS (SELECT DISTINCT vec_id, band, psig FROM (
                      SELECT vec_id, band, unnest(${probesSql(rad)}) AS psig
                      FROM bs WHERE vec_id % 10 = 0)),
        lcd$rad AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS bid
                    FROM lpr$rad a JOIN bs b
                      ON a.band = b.band AND a.psig = b.sig),
        lap$rad AS (SELECT $rad AS radius, qid, bid FROM (
                      SELECT c.qid, c.bid,
                             row_number() OVER (PARTITION BY c.qid
                               ORDER BY ${sqlDot("eq.v", "eb.v")}
                                        / (sqrt(${sqlDot("eq.v", "eq.v")})
                                           * sqrt(${sqlDot("eb.v", "eb.v")}))
                                          DESC, c.bid) AS rn
                      FROM lcd$rad c
                      JOIN e eq ON eq.vec_id = c.qid
                      JOIN e eb ON eb.vec_id = c.bid)
                    WHERE rn <= $K)""").mkString(",")
        s"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, $sigDefs FROM e),
        bs AS MATERIALIZED ($bandUnion),
        $perRad,
        lar AS MATERIALIZED (
          SELECT * FROM lap0 UNION ALL
          SELECT * FROM lap1 UNION ALL
          SELECT * FROM lap2),
        ltr AS (SELECT qid, id FROM (
                  SELECT q.vec_id AS qid, b.vec_id AS id,
                         row_number() OVER (PARTITION BY q.vec_id
                           ORDER BY ${sqlDot("q.v", "b.v")}
                                    / (sqrt(${sqlDot("q.v", "q.v")})
                                       * sqrt(${sqlDot("b.v", "b.v")}))
                                      DESC, b.vec_id) AS rn
                  FROM (SELECT * FROM e WHERE vec_id % 10 = 0) q
                  CROSS JOIN e b)
                WHERE rn <= $K),
        lhit AS (SELECT lar.radius, lar.qid, count(*)::BIGINT AS c
                 FROM lar JOIN ltr
                   ON ltr.qid = lar.qid AND ltr.id = lar.bid
                 GROUP BY lar.radius, lar.qid),
        lper AS (SELECT d.radius, d.qid,
                        (coalesce(h.c, 0) / $K.0) AS recall
                 FROM (SELECT DISTINCT radius, qid FROM lar) d
                 LEFT JOIN lhit h
                   ON h.radius = d.radius AND h.qid = d.qid)
        SELECT radius::BIGINT AS radius, count(*)::BIGINT AS n_queries,
               ${sqlAvg("recall")} AS mean_recall
        FROM lper GROUP BY radius
      """
      }
    ),
    // Max-inner-product search (MIPS) — the retrieval similarity for
    // unnormalized learned embeddings; same broadcast-join + bounded-heap
    // shape, ordered by dot descending.
    GQuery(
      "knn_dot",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN
          .knnDot(q, b, K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dot"), 6).as("dot"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlDot("qv", "bv")} AS dot
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, neighbor_id, dot,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dot DESC, neighbor_id) AS rnk
                   FROM d)
        SELECT query_id, neighbor_id, round(dot, 6) AS dot, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // Passage-level MaxP retrieval (Dai & Callan 2019): long docs are
    // retrieved by their best-matching PASSAGE — doc score = max over
    // its passages' dots — the aggregation granularity between
    // whole-doc vectors (knn_dot) and token-level MaxSim (knn_maxsim).
    // Passages = the embeddings table grouped 8-per-doc (vec_id div 8).
    // Same broadcast-queries placement as knn_bruteforce; the per-doc
    // max is a plain partial-aggregating groupBy, then the bounded heap
    // takes top-5 docs (max-heap spelled as min-heap on the negated
    // score, exact negation).
    GQuery(
      "knn_maxp",
      (spark, dir) => {
        import graft.functions.VectorExpressions.dotFast
        val emb = t(spark, dir, "embeddings")
        val q = emb.filter(col("vec_id") % 40 === 0)
          .select(col("vec_id").as("query_id"),
            toDouble(col("embedding")).as("qv"))
        val p = emb.select(
          expr("vec_id div 8").as("doc_id"),
          toDouble(col("embedding")).as("pv"))
        val best = p.join(broadcast(q))
          .select(col("query_id"), col("doc_id"),
            dotFast(col("qv"), col("pv")).as("s"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(max(col("s")).as("s"))
        bestPer(best, Seq("query_id"), col("s") * lit(-1.0), "doc_id", 5)
          .select(
            col("query_id"),
            col("doc_id"),
            round(col("dist") * lit(-1.0), 6).as("maxp"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 40 = 0),
        p AS (SELECT vec_id // 8 AS doc_id, embedding::DOUBLE[] AS pv
              FROM embeddings),
        s AS (SELECT query_id, doc_id, max(${sqlDot("qv", "pv")}) AS s
              FROM q CROSS JOIN p GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, s,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s DESC, doc_id) AS rnk
              FROM s)
        SELECT query_id, doc_id, round(s, 6) AS maxp, rnk
        FROM r WHERE rnk <= 5
      """)
    ),
    // Attribute-constrained (filtered) kNN: neighbors restricted to the
    // The same exact kNN expressed ENTIRELY in spark.sql through the
    // SparkSessionExtensions-registered functions (graft_l2sq codegen
    // distance + graft_topk bounded-heap aggregate) — proof that a pure
    // SQL user gets the engine's vector search, same plan shape (broadcast
    // hint + partial heap agg) and the same oracle as knn_bruteforce.
    GQuery(
      "knn_sql",
      (spark, dir) => {
        t(spark, dir, "embeddings").createOrReplaceTempView("emb_sql")
        spark.sql(s"""
          WITH q AS (SELECT /*+ BROADCAST */ vec_id AS query_id,
                            CAST(embedding AS array<double>) AS qv
                     FROM emb_sql WHERE vec_id % 10 = 0),
          b AS (SELECT vec_id AS neighbor_id,
                       CAST(embedding AS array<double>) AS bv
                FROM emb_sql),
          tk AS (SELECT query_id,
                        graft_topk(graft_l2sq(qv, bv), neighbor_id, $K) AS tk
                 FROM b CROSS JOIN q GROUP BY query_id)
          SELECT query_id, e.id AS neighbor_id, round(e.dist, 4) AS dist,
                 CAST(pos + 1 AS BIGINT) AS rnk
          FROM tk LATERAL VIEW posexplode(tk) x AS pos, e
        """)
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlL2Sq("qv", "bv")} AS dist
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM d)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // The both-sides-big kNN: 2-D block-grid shuffle join instead of a
    // query-batch broadcast — BruteForceKNN.ShuffledGrid's 4x8 tasks, each
    // holding one block of each side; nothing corpus-sized broadcasts.
    // Same results as knn_bruteforce by construction (and by this oracle).
    GQuery(
      "knn_shuffled",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN
          .knnShuffled(q, b, K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 4).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlL2Sq("qv", "bv")} AS dist
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM d)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // MMR diversified top-k: exact top-20 shortlist, then the greedy
    // λ=0.5 relevance-vs-redundancy rerank. Deterministic (ties on
    // ascending id), so the greedy loop itself sits under a RECURSIVE-CTE
    // oracle — each recursion step appends the arg-max of
    // 0.5·(−dist) − 0.5·max(−pairDist) over the unpicked shortlist.
    GQuery(
      "knn_mmr",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN.knnMmr(q, b, kCand = 20, k = 5)
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        cd AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q CROSS JOIN e),
        cand AS (SELECT query_id, neighbor_id, dist FROM (
                   SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rn
                   FROM cd) WHERE rn <= 20),
        pr AS (SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
                      ${sqlL2Sq("ea.ev", "eb.ev")} AS d
               FROM cand a JOIN cand b ON a.query_id = b.query_id
               JOIN e ea ON ea.vec_id = a.neighbor_id
               JOIN e eb ON eb.vec_id = b.neighbor_id),
        sel AS (
          SELECT query_id, 1 AS step, [neighbor_id] AS ids
          FROM (SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist, neighbor_id) AS rn
                FROM cand) WHERE rn = 1
          UNION ALL
          SELECT query_id, step + 1, list_append(ids, neighbor_id)
          FROM (
            SELECT query_id, step, ids, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rn
            FROM (
              SELECT s.query_id, s.step, s.ids, c.neighbor_id,
                     0.5::DOUBLE * (-c.dist)
                       - 0.5::DOUBLE * max(-pr.d) AS score
              FROM sel s
              JOIN cand c ON c.query_id = s.query_id
                         AND NOT list_contains(s.ids, c.neighbor_id)
              JOIN pr ON pr.query_id = s.query_id AND pr.ia = c.neighbor_id
                     AND list_contains(s.ids, pr.ib)
              GROUP BY s.query_id, s.step, s.ids, c.neighbor_id, c.dist))
          WHERE rn = 1 AND step < 5
        )
        SELECT query_id, unnest(ids) AS neighbor_id,
               unnest(generate_series(1, len(ids)))::BIGINT AS mmr_rnk
        FROM sel WHERE step = 5
      """)
    ),
    // ColBERT-style late-interaction (MaxSim) retrieval: query and doc are
    // each a bag of 4 × 16-d token vectors (deterministic slices of the
    // 64-d embedding — the multi-vector table derived from driver data),
    // pair score = Σ over query tokens of the best-matching doc-token dot.
    // Same broadcast + bounded-heap placement as knn_bruteforce; the
    // token-alignment kernel is pure nested HOF algebra inside codegen
    // (no explode — token loops never become shuffled rows). The oracle
    // mirrors the exact fold order with DuckDB list lambdas over the same
    // slices.
    GQuery(
      "knn_maxsim",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        def toks(c: org.apache.spark.sql.Column) =
          array((0 until 4).map(i => slice(c, i * 16 + 1, 16)): _*)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(
            col("vec_id").as("query_id"),
            toks(toDouble(col("embedding"))).as("qtoks")
          )
        val d = emb.select(
          col("vec_id").as("doc_id"),
          toks(toDouble(col("embedding"))).as("dtoks")
        )
        BruteForceKNN
          .knnMaxSim(q, d, K)
          .select(
            col("query_id"),
            col("doc_id"),
            round(col("score"), 6).as("score"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             s AS (SELECT query_id, doc_id,
                          list_sum(list_transform([0,1,2,3], qi ->
                            list_max(list_transform([0,1,2,3], di ->
                              list_sum(list_transform(generate_series(1,16), j ->
                                qv[qi*16+j] * bv[di*16+j])))))) AS score
                   FROM q CROSS JOIN b),
             r AS (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, doc_id) AS rnk
                   FROM s)
        SELECT query_id, doc_id, round(score, 6) AS score, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // Retrieve-then-rerank: pooled-vector top-50 shortlist (the cheap
    // single-vector stage bounds the candidates), exact MaxSim rerank of
    // the shortlist only — the canonical two-stage serving pipeline.
    // Corpus-sized work stays in stage 1; the rerank joins broadcast the
    // |Q|·50-row shortlist against the token table.
    GQuery(
      "knn_maxsim_rerank",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        def toks(c: org.apache.spark.sql.Column) =
          array((0 until 4).map(i => slice(c, i * 16 + 1, 16)): _*)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(
            col("vec_id").as("query_id"),
            toDouble(col("embedding")).as("qv"),
            toks(toDouble(col("embedding"))).as("qtoks")
          )
        val d = emb.select(
          col("vec_id").as("doc_id"),
          toDouble(col("embedding")).as("bv"),
          toks(toDouble(col("embedding"))).as("dtoks")
        )
        BruteForceKNN
          .knnMaxSimRerank(q, d, kShort = 50, k = K)
          .select(
            col("query_id"),
            col("doc_id"),
            round(col("score"), 6).as("score"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             sl AS (SELECT query_id, doc_id FROM (
                      SELECT q.query_id, b.doc_id,
                             row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY ${sqlL2Sq("q.qv", "b.bv")}, b.doc_id)
                               AS rn
                      FROM q CROSS JOIN b) WHERE rn <= 50),
             s AS (SELECT q.query_id, sl.doc_id,
                          list_sum(list_transform([0,1,2,3], qi ->
                            list_max(list_transform([0,1,2,3], di ->
                              list_sum(list_transform(generate_series(1,16), j ->
                                qv[qi*16+j] * bv[di*16+j])))))) AS score
                   FROM sl
                   JOIN q ON q.query_id = sl.query_id
                   JOIN b ON b.doc_id = sl.doc_id),
             r AS (SELECT query_id, doc_id, score,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY score DESC, doc_id) AS rnk
                   FROM s)
        SELECT query_id, doc_id, round(score, 6) AS score, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // Matryoshka (MRL) two-stage retrieval: coarse exact kNN over the
    // FIRST 16 of 64 dims bounds the candidates to 30/query, then the
    // full-dim distance reranks only that shortlist — the serving pattern
    // for matryoshka-trained embeddings, where prefixes are themselves
    // valid lower-capacity embeddings. At 100 TB the prefix is a stored
    // narrow column: stage 1 streams 1/4 of the corpus bytes, stage 2
    // touches |Q|·30 rows. Deterministic ties → exact two-stage oracle.
    GQuery(
      "knn_mrl",
      (spark, dir) => {
        val (q, b) = qb(spark, dir)
        BruteForceKNN
          .knnMrl(q, b, dPrefix = 16, kShort = 30, k = K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 4).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv
                   FROM embeddings),
             sl AS (SELECT query_id, neighbor_id FROM (
                      SELECT q.query_id, b.neighbor_id,
                             row_number() OVER (
                               PARTITION BY q.query_id
                               ORDER BY ${sqlL2Sq("(q.qv[1:16])", "(b.bv[1:16])")},
                                        b.neighbor_id) AS rn
                      FROM q CROSS JOIN b) WHERE rn <= 30),
             rr AS (SELECT q.query_id, sl.neighbor_id,
                           ${sqlL2Sq("q.qv", "b.bv")} AS dist
                    FROM sl
                    JOIN q ON q.query_id = sl.query_id
                    JOIN b ON b.neighbor_id = sl.neighbor_id),
             r AS (SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM rr)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // RP-tree forest BUILD (Annoy lineage, Dasgupta-Freund median
    // splits) — the tree-forest ANN family next to IVF cells, HNSW
    // graphs, and NN-Descent kNN graphs. Cold construction (clears the
    // memo, rebuilds — the hnsw_build convention), reported as the
    // per-leaf occupancy histogram. Deterministic md5 hyperplanes +
    // lower-median splits put the whole build under an exact oracle of
    // 4 unrolled median-split rounds.
    GQuery(
      "rpt_leaf_stats",
      (spark, dir) => {
        Artifacts.drop("rpt_forest", dir)
        sharedForest(spark, dir).leaves
          .groupBy(col("tree"), col("leaf"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""
        WITH $rptCtes
        SELECT tree, node AS leaf, count(*)::BIGINT AS n
        FROM a$RPT_D GROUP BY tree, node
      """)
    ),
    // RP-tree forest kNN: descend each of the 2 trees by hyperplane
    // sign (4 broadcast-joins against the ≤ 2·2^4-row median table —
    // queries never shuffle), union the leaf buckets, exact-rerank the
    // ≈ numTrees·n/16 candidates with the bounded heap. Deterministic
    // end to end -> hash-checked: the oracle chains the query descent +
    // candidate join + rerank onto the forest replay. NNDescentSpec-
    // style recall floor lives in RpTreeSpec.
    GQuery(
      "rpt_knn",
      (spark, dir) => {
        val emb = embOf(spark, dir)
        val q = emb
          .filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("vec").as("qv"))
        graft.operators.RpTree
          .knn(
            sharedForest(spark, dir), emb, "id", "vec",
            q, "query_id", "qv", k = K,
            numTrees = RPT_T, depth = RPT_D, dim = 64)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH $rptCtes,
        q AS (SELECT id AS qid, v AS qv FROM e WHERE id % 10 = 0),
        q0 AS (SELECT tr.tree, q.qid, q.qv, 0::BIGINT AS node
               FROM q CROSS JOIN tr),
        ${(0 until RPT_D).map(r => s"""
        qp$r AS (SELECT x.tree, x.qid, x.qv,
                 x.node * 2 + CASE WHEN
                   list_sum(list_transform(generate_series(1, 64),
                     j -> x.qv[j] * pll.hv[j])) <= m$r.med
                   THEN 0 ELSE 1 END AS node
                 FROM q$r x
                 JOIN pll ON pll.tree = x.tree AND pll.level = $r
                 JOIN m$r ON m$r.tree = x.tree AND m$r.node = x.node),
        q${r + 1} AS (SELECT tree, qid, qv, node FROM qp$r)""").mkString(",")},
        cand AS (SELECT DISTINCT qf.qid, af.id
                 FROM q$RPT_D qf
                 JOIN a$RPT_D af ON af.tree = qf.tree AND af.node = qf.node),
        d AS (SELECT cand.qid, cand.id,
                     ${sqlL2Sq("q.qv", "e.v")} AS dist
              FROM cand JOIN e ON e.id = cand.id
              JOIN q ON q.qid = cand.qid),
        r AS (SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY dist, id) AS rnk
              FROM d)
        SELECT qid AS query_id, id AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // Spill-tree forest kNN (Liu-Moore-Gray 2004): a query straddling a
    // split boundary (|proj − median| < 0.2) visits BOTH children — the
    // tree family's recall lever, trading candidate volume for recall
    // with zero index change. Same broadcast-descent/equi-join/rerank
    // plan as rpt_knn; deterministic, so the unrolled oracle rounds just
    // gain an unnest over the visited-children list. RpTreeSpec gates
    // recall(spill) >= recall(plain) and the superset property.
    GQuery(
      "rpt_knn_spill",
      (spark, dir) => {
        val emb = embOf(spark, dir)
        val q = emb
          .filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("vec").as("qv"))
        graft.operators.RpTree
          .knnSpill(
            sharedForest(spark, dir), emb, "id", "vec",
            q, "query_id", "qv", k = K,
            numTrees = RPT_T, depth = RPT_D, dim = 64, spill = 0.2)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH $rptCtes,
        $rptSpillCtes
        SELECT qid AS query_id, id AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM spr WHERE rnk <= $K
      """)
    ),
    // Attribute-constrained forest search — the filtered-ANN entry for
    // the tree family (completing the symmetry with ivf_knn_filtered /
    // hnsw_knn_filtered / knn_filtered): spill-descend, union leaves,
    // then keep only candidates sharing the query's label before the
    // exact rerank. Composed entirely from the public operator surface
    // (assignPointsSpill + the leaf artifact + the bounded heap) — the
    // predicate lands on the candidate table, never on the corpus scan.
    GQuery(
      "rpt_knn_filtered",
      (spark, dir) => {
        import graft.functions.VectorExpressions.l2SqFast
        val embL = t(spark, dir, "embeddings")
        val lab = embL.select(
          col("vec_id").cast("long").as("id"),
          col("label").cast("long").as("lab"))
        val emb = embOf(spark, dir)
        val q = emb
          .filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("vec").as("qv"))
        val f = sharedForest(spark, dir)
        val qn = graft.operators.RpTree
          .assignPointsSpill(
            q, f.medians, "query_id", "qv",
            RPT_T, RPT_D, 64, spill = 0.2)
          .select(col("tree"), col("id").as("qid"), col("leaf"))
        val cand = qn
          .join(f.leaves, Seq("tree", "leaf"))
          .select(col("qid"), col("id"))
          .distinct()
          .join(lab.select(col("id").as("qid"), col("lab").as("qlab")), "qid")
          .join(lab, "id")
          .filter(col("lab") === col("qlab"))
          .select(col("qid"), col("id"))
        val pairs = cand
          .join(emb, "id")
          .join(broadcast(q.select(col("query_id").as("qid"), col("qv"))), "qid")
          .select(col("qid"), col("id"),
            l2SqFast(col("qv"), col("vec")).as("dist"))
        bestPer(pairs, Seq("qid"), col("dist"), "id", K)
          .select(
            col("qid").as("query_id"),
            col("id").as("neighbor_id"),
            round(col("dist"), 4).as("dist"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH $rptCtes,
        $rptSpillCtes,
        lab AS (SELECT vec_id AS id, label::BIGINT AS lab FROM embeddings),
        fc AS (SELECT s.qid, s.id FROM (
                 SELECT DISTINCT qf.qid, af.id
                 FROM q$RPT_D qf
                 JOIN a$RPT_D af ON af.tree = qf.tree AND af.node = qf.node) s
               JOIN lab ql ON ql.id = s.qid
               JOIN lab cl ON cl.id = s.id
               WHERE cl.lab = ql.lab),
        fd AS (SELECT fc.qid, fc.id, ${sqlL2Sq("q.qv", "e.v")} AS dist
               FROM fc JOIN e ON e.id = fc.id
               JOIN q ON q.qid = fc.qid),
        fr AS (SELECT qid, id, dist,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY dist, id) AS rnk
               FROM fd)
        SELECT qid AS query_id, id AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM fr WHERE rnk <= $K
      """)
    ),
    // Recall-vs-spill OPERATING CURVE for the forest family — the
    // measured tuning knob every index family now exposes (IVF: nprobe
    // curve, HNSW: ef curve, forest: spill margin): four margins, one
    // shared exact truth, mean Recall@10 per margin. Deterministic end
    // to end, so the whole curve (4 spill descents + reranks + the
    // recall arithmetic) hash-checks under one oracle; RpTreeSpec
    // separately gates monotonicity.
    GQuery(
      "rpt_recall_curve",
      (spark, dir) => {
        val emb = embOf(spark, dir)
        graft.operators.RpTree.spillRecallCurve(
          sharedForest(spark, dir), emb, "id", "vec",
          emb.filter(col("id") % 10 === 0)
            .select(col("id").as("query_id"), col("vec").as("qv")),
          "query_id", "qv", k = K,
          numTrees = RPT_T, depth = RPT_D, dim = 64, spills = RPT_SPILLS)
      },
      Some(s"""
        WITH $rptCtes,
        q AS (SELECT id AS qid, v AS qv FROM e WHERE id % 10 = 0),
        ${rptSpillCurveCtes(RPT_SPILLS)},
        ar AS (${RPT_SPILLS.indices
          .map(x => s"SELECT spill, qid, id FROM ar$x")
          .mkString(" UNION ALL ")}),
        ex AS (SELECT qid, id FROM (
                 SELECT q.qid, e.id,
                        row_number() OVER (PARTITION BY q.qid
                          ORDER BY ${sqlL2Sq("q.qv", "e.v")}, e.id) AS rn
                 FROM q CROSS JOIN e) WHERE rn <= $K),
        hits AS (SELECT spill, qid, count(*)::BIGINT AS c
                 FROM ar JOIN ex USING (qid, id)
                 GROUP BY spill, qid),
        per AS (SELECT d.spill, (coalesce(c, 0) / $K.0) AS recall
                FROM (SELECT DISTINCT spill, qid FROM ar) d
                LEFT JOIN hits ON hits.spill = d.spill AND hits.qid = d.qid)
        SELECT spill, count(*)::BIGINT AS n_queries,
               ${sqlAvg("recall")} AS mean_recall
        FROM per GROUP BY spill
      """)
    ),
    // Ranked-retrieval evaluation metrics — MRR (reciprocal rank of the
    // exact top-1 in the approximate ranking) and binary-relevance
    // nDCG@10, per query, scoring the spill-forest search against exact
    // kNN — the metric pair a serving stack reports beyond set recall.
    // Two (query, neighbor) equi-joins + per-query aggregates; log2 is
    // ln/ln2 and every ≤10-term DCG sum routes through DECIMAL(38,20),
    // so both engines divide identical doubles and the metric table
    // hash-checks exactly.
    GQuery(
      "eval_rank_metrics",
      (spark, dir) => {
        val emb = embOf(spark, dir)
        val q = emb
          .filter(col("id") % 10 === 0)
          .select(col("id").as("query_id"), col("vec").as("qv"))
        val approx = graft.operators.RpTree.knnSpill(
          sharedForest(spark, dir), emb, "id", "vec",
          q, "query_id", "qv", k = K,
          numTrees = RPT_T, depth = RPT_D, dim = 64, spill = 0.2)
        val truth = BruteForceKNN.knn(
          q, emb.select(col("id").as("neighbor_id"), col("vec").as("bv")), K)
        graft.operators.RecallEval
          .rankMetrics(approx, truth, k = K)
          .select(
            col("query_id"),
            round(col("rr"), 6).as("rr"),
            round(col("ndcg"), 6).as("ndcg"))
      },
      Some(s"""
        WITH $rptCtes,
        $rptSpillCtes,
        td AS (SELECT q.qid, e.id, ${sqlL2Sq("q.qv", "e.v")} AS dist
               FROM q CROSS JOIN e),
        tr2 AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
                                                   ORDER BY dist, id) AS trnk
                FROM td),
        truth AS (SELECT qid, id, trnk FROM tr2 WHERE trnk <= $K),
        ap AS (SELECT qid, id, rnk FROM spr WHERE rnk <= $K),
        rrt AS (SELECT t.qid,
                       coalesce(1.0 / ap.rnk, 0.0::DOUBLE) AS rr
                FROM truth t LEFT JOIN ap
                  ON ap.qid = t.qid AND ap.id = t.id
                WHERE t.trnk = 1),
        dcg AS (SELECT ap.qid,
                       sum(CASE WHEN t.id IS NOT NULL THEN
                             (1.0 / (ln(ap.rnk::DOUBLE + 1) / ln(2.0)))
                               ::DECIMAL(38,20) END)::DOUBLE AS dcg
                FROM ap LEFT JOIN truth t
                  ON t.qid = ap.qid AND t.id = ap.id
                GROUP BY ap.qid),
        terms AS (SELECT i, (1.0 / (ln(i::DOUBLE + 1) / ln(2.0)))
                            ::DECIMAL(38,20) AS term
                  FROM generate_series(1, $K) g(i)),
        icv AS (SELECT nn.n, sum(t.term)::DOUBLE AS idcg
                FROM (SELECT unnest(generate_series(1, $K)) AS n) nn
                JOIN terms t ON t.i <= nn.n GROUP BY nn.n),
        idcg AS (SELECT nt.qid, icv.idcg
                 FROM (SELECT qid, count(*) AS nt FROM truth GROUP BY qid) nt
                 JOIN icv ON icv.n = least(nt.nt, $K))
        SELECT rrt.qid AS query_id, round(rrt.rr, 6) AS rr,
               round(coalesce(dcg.dcg, 0.0::DOUBLE) / idcg.idcg, 6) AS ndcg
        FROM rrt
        LEFT JOIN dcg ON dcg.qid = rrt.qid
        LEFT JOIN idcg ON idcg.qid = rrt.qid
      """)
    ),
    // PageRank centrality over the shared kNN graph — the density-
    // representative selection signal, complementing k-center's
    // geometric coverage pick: 3 damped power-iteration rounds, mass
    // from isolated nodes dropped (stated convention). Per-edge
    // contributions are identical IEEE divisions; each round's per-node
    // sum routes through DECIMAL(38,20), so the next round's inputs are
    // bit-equal across engines and the fixed schedule replays as three
    // unrolled SQL rounds. The (1−d) constant is spelled 1.0 − 0.85 on
    // BOTH engines (0.15 has no exact double, so the literal spelling
    // must match the arithmetic one).
    GQuery(
      "pipeline_pagerank",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        graft.operators.PageRank
          .pageRank(
            sharedGraph(spark, dir),
            emb.select(col("vec_id").as("id")),
            rounds = 3)
          .select(col("id").as("vec_id"), round(col("pr"), 6).as("pr"))
      },
      Some(s"""
        WITH $graphCtes,
        und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM g2
                 UNION ALL SELECT dst, src FROM g2)),
        dg AS (SELECT src AS id, count(*) AS deg FROM und GROUP BY src),
        pr0 AS (SELECT e.id, 1.0 / nn.n AS pr FROM e CROSS JOIN nn),
        ${(1 to 3).map(i => s"""
        pc$i AS (SELECT u.dst AS id,
                       sum((p.pr / d.deg)::DECIMAL(38,20))::DOUBLE AS s
                FROM und u
                JOIN pr${i - 1} p ON p.id = u.src
                JOIN dg d ON d.id = u.src
                GROUP BY u.dst),
        pr$i AS (SELECT e.id,
                        ((1.0 - 0.85) / nn.n
                          + 0.85 * coalesce(c.s, 0.0::DOUBLE)) AS pr
                 FROM e CROSS JOIN nn
                 LEFT JOIN pc$i c ON c.id = e.id)""").mkString(",")}
        SELECT id AS vec_id, round(pr, 6) AS pr FROM pr3
      """)
    ),
    // Personalized PageRank from a curated seed slice (every 25th
    // vector) — the graph-walk complement of DSIR's n-gram importance:
    // teleport mass lands only on the seeds, so ranks measure proximity
    // to the curated set through the kNN graph ("find more data like
    // this"). Same decimal-exact round arithmetic as pipeline_pagerank;
    // three unrolled oracle rounds with the CASE teleport.
    GQuery(
      "pipeline_ppr",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        graft.operators.PageRank
          .personalizedPageRank(
            sharedGraph(spark, dir),
            emb.select(col("vec_id").as("id")),
            emb.filter(col("vec_id") % 25 === 0).select(col("vec_id").as("id")),
            rounds = 3)
          .select(col("id").as("vec_id"), round(col("pr"), 6).as("pr"))
      },
      Some(s"""
        WITH $graphCtes,
        und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM g2
                 UNION ALL SELECT dst, src FROM g2)),
        dg AS (SELECT src AS id, count(*) AS deg FROM und GROUP BY src),
        ns AS (SELECT count(*) AS ns FROM e WHERE id % 25 = 0),
        ppr0 AS (SELECT e.id,
                        CASE WHEN e.id % 25 = 0 THEN 1.0 / ns.ns
                             ELSE 0.0::DOUBLE END AS pr
                 FROM e CROSS JOIN ns),
        ${(1 to 3).map(i => s"""
        ppc$i AS (SELECT u.dst AS id,
                        sum((p.pr / d.deg)::DECIMAL(38,20))::DOUBLE AS s
                 FROM und u
                 JOIN ppr${i - 1} p ON p.id = u.src
                 JOIN dg d ON d.id = u.src
                 GROUP BY u.dst),
        ppr$i AS (SELECT e.id,
                         (CASE WHEN e.id % 25 = 0 THEN (1.0 - 0.85) / ns.ns
                               ELSE 0.0::DOUBLE END
                           + 0.85 * coalesce(c.s, 0.0::DOUBLE)) AS pr
                  FROM e CROSS JOIN ns
                  LEFT JOIN ppc$i c ON c.id = e.id)""").mkString(",")}
        SELECT id AS vec_id, round(pr, 6) AS pr FROM ppr3
      """)
    ),
    // PageRank with REAL dangling mass: every 5th node's edges are cut
    // (a curation pass dropped them from the graph but not the corpus),
    // leaving ~20% of the universe isolated — their rank mass must
    // re-enter along the teleport vector each round (the textbook
    // convention; Σpr stays 1). The oracle adds the per-round dangling
    // scalar — a decimal-exact sum over the isolated ids divided along
    // 1/N — to the unrolled pipeline_pagerank arithmetic, proving the
    // redistribution path float-for-float, not just the Dm = 0 no-op.
    GQuery(
      "pipeline_pagerank_dangling",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        graft.operators.PageRank
          .pageRank(
            sharedGraph(spark, dir)
              .filter(col("src") % 5 =!= 0 && col("dst") % 5 =!= 0),
            emb.select(col("vec_id").as("id")),
            rounds = 3)
          .select(col("id").as("vec_id"), round(col("pr"), 6).as("pr"))
      },
      Some(s"""
        WITH $graphCtes,
        und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM g2 WHERE src % 5 != 0 AND dst % 5 != 0
                 UNION ALL
                 SELECT dst, src FROM g2 WHERE src % 5 != 0 AND dst % 5 != 0)),
        dg AS (SELECT src AS id, count(*) AS deg FROM und GROUP BY src),
        pr0 AS (SELECT e.id, 1.0 / nn.n AS pr FROM e CROSS JOIN nn),
        ${(1 to 3).map(i => s"""
        pc$i AS (SELECT u.dst AS id,
                       sum((p.pr / d.deg)::DECIMAL(38,20))::DOUBLE AS s
                FROM und u
                JOIN pr${i - 1} p ON p.id = u.src
                JOIN dg d ON d.id = u.src
                GROUP BY u.dst),
        dm$i AS (SELECT coalesce(sum(p.pr::DECIMAL(38,20))::DOUBLE,
                                 0.0::DOUBLE) AS dm
                 FROM pr${i - 1} p
                 WHERE p.id NOT IN (SELECT src FROM und)),
        pr$i AS (SELECT e.id,
                        ((1.0 - 0.85) / nn.n
                          + 0.85 * (coalesce(c.s, 0.0::DOUBLE)
                                    + dm.dm * (1.0 / nn.n))) AS pr
                 FROM e CROSS JOIN nn CROSS JOIN dm$i dm
                 LEFT JOIN pc$i c ON c.id = e.id)""").mkString(",")}
        SELECT id AS vec_id, round(pr, 6) AS pr FROM pr3
      """)
    ),
    // HITS hubs/authorities over the DIRECTED kNN graph (Kleinberg
    // 1999) — the asymmetric complement of pipeline_pagerank: authority
    // = chosen-as-neighbor mass (density representative), hub = points-
    // at-authorities mass. Two synchronous a-then-h rounds with L2
    // normalization; every sum (including the norm's sum of squares)
    // routes through DECIMAL(38,20), sqrt/divisions then act on
    // identical doubles — the whole schedule unrolls as SQL rounds.
    GQuery(
      "pipeline_hits",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        graft.operators.Hits
          .hits(
            sharedGraph(spark, dir),
            emb.select(col("vec_id").as("id")),
            rounds = 2)
          .select(
            col("id").as("vec_id"),
            round(col("authority"), 6).as("authority"),
            round(col("hub"), 6).as("hub"))
      },
      Some(s"""
        WITH $graphCtes,
        en AS MATERIALIZED (SELECT id FROM e),
        ge AS MATERIALIZED (SELECT DISTINCT src, dst FROM g2),
        hh0 AS (SELECT id, 1.0::DOUBLE AS s FROM en),
        ${(1 to 2).map(i => s"""
        har$i AS (SELECT g.dst AS id,
                         sum((h.s)::DECIMAL(38,20))::DOUBLE AS s
                  FROM ge g JOIN hh${i - 1} h ON h.id = g.src
                  GROUP BY g.dst),
        haa$i AS (SELECT n.id, coalesce(x.s, 0.0::DOUBLE) AS s
                  FROM en n LEFT JOIN har$i x ON x.id = n.id),
        han$i AS (SELECT sqrt(sum((s * s)::DECIMAL(38,20))::DOUBLE) AS nrm
                  FROM haa$i),
        ha$i AS MATERIALIZED (SELECT id,
                  CASE WHEN an.nrm > 0 THEN s / an.nrm
                       ELSE 0.0::DOUBLE END AS s
                  FROM haa$i CROSS JOIN han$i an),
        hhr$i AS (SELECT g.src AS id,
                         sum((a.s)::DECIMAL(38,20))::DOUBLE AS s
                  FROM ge g JOIN ha$i a ON a.id = g.dst
                  GROUP BY g.src),
        hha$i AS (SELECT n.id, coalesce(x.s, 0.0::DOUBLE) AS s
                  FROM en n LEFT JOIN hhr$i x ON x.id = n.id),
        hhn$i AS (SELECT sqrt(sum((s * s)::DECIMAL(38,20))::DOUBLE) AS nrm
                  FROM hha$i),
        hh$i AS MATERIALIZED (SELECT id,
                  CASE WHEN hn.nrm > 0 THEN s / hn.nrm
                       ELSE 0.0::DOUBLE END AS s
                  FROM hha$i CROSS JOIN hhn$i hn)""").mkString(",")}
        SELECT a.id AS vec_id, round(a.s, 6) AS authority,
               round(h.s, 6) AS hub
        FROM ha2 a JOIN hh2 h ON h.id = a.id
      """)
    ),
    // kNN-graph HUBNESS audit (Radovanović et al. 2010): in-degree of
    // every vector in the directed kNN graph — high-dimensional spaces
    // concentrate in-links on hub vectors (skewing retrieval and any
    // graph-walk selection built on the graph), while antihubs (indeg
    // 0) are unreachable. One count aggregate over the edge list + a
    // left join back to the universe; the standard 2k hub cutoff and
    // the antihub flag emitted per node.
    GQuery(
      "knn_graph_hubness",
      (spark, dir) => {
        val g = sharedGraph(spark, dir)
          .select(col("src"), col("dst")).distinct()
        val ind = coalesce(col("indeg"), lit(0L))
        t(spark, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"))
          .join(
            g.groupBy(col("dst").as("id")).agg(count(lit(1)).as("indeg")),
            Seq("id"), "left")
          .select(
            col("id").as("vec_id"),
            ind.as("indeg"),
            (ind >= 2 * K).cast("long").as("is_hub"),
            (ind === 0).cast("long").as("is_antihub"))
      },
      Some(s"""
        WITH $graphCtes,
        dd AS (SELECT dst AS id, count(*)::BIGINT AS indeg
               FROM (SELECT DISTINCT src, dst FROM g2) GROUP BY dst)
        SELECT e.id AS vec_id,
               coalesce(dd.indeg, 0)::BIGINT AS indeg,
               (coalesce(dd.indeg, 0) >= ${2 * K})::BIGINT AS is_hub,
               (coalesce(dd.indeg, 0) = 0)::BIGINT AS is_antihub
        FROM e LEFT JOIN dd ON dd.id = e.id
      """)
    ),
    // Synchronous label propagation over the shared kNN graph (Zhu &
    // Ghahramani 2002): the weak-supervision pass that extends a
    // hand-labeled slice (every 4th vector keeps its label) to the whole
    // corpus — 3 rounds of clamped majority voting over graph neighbors,
    // ties (count DESC, label ASC). Deterministic end to end, so the
    // oracle chains 3 unrolled voting rounds onto the shared NN-Descent
    // graph replay. Per round: one edge⋈labeled-state equi-join, one
    // count aggregate, one majority window, linear in edges.
    GQuery(
      "pipeline_label_prop",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val seeds = emb
          .filter(col("vec_id") % 4 === 0)
          .select(col("vec_id").as("id"), col("label").cast("long").as("lab"))
        val ids = emb.select(col("vec_id").as("id"))
        graft.operators.LabelProp
          .labelPropagation(sharedGraph(spark, dir), seeds, ids, rounds = 3)
          .select(
            col("id").as("vec_id"),
            coalesce(col("lab"), lit(-1L)).as("label"),
            col("role"))
      },
      Some(s"""
        WITH $graphCtes,
        und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM g2
                 UNION ALL SELECT dst, src FROM g2)),
        sd AS (SELECT vec_id AS id, label::BIGINT AS lab
               FROM embeddings WHERE vec_id % 4 = 0),
        lp0 AS MATERIALIZED (SELECT e.id, sd.lab
                FROM e LEFT JOIN sd ON sd.id = e.id),
        ${lpIter(1, "lp0")},
        ${lpIter(2, "lp1")},
        ${lpIter(3, "lp2")}
        SELECT l.id AS vec_id,
               coalesce(l.lab, -1)::BIGINT AS label,
               CASE WHEN sd.id IS NOT NULL THEN 'seed'
                    WHEN l.lab IS NOT NULL THEN 'propagated'
                    ELSE 'unlabeled' END AS role
        FROM lp3 l LEFT JOIN sd ON sd.id = l.id
      """)
    ),
    // k-center greedy (farthest-first) coreset selection — geometric
    // data selection: pick the 12 embeddings that best cover the space,
    // in selection order, with each round's coverage radius. One linear
    // running-min pass + one TakeOrdered argmax per round; the greedy is
    // deterministic (seed = min id, ties (dist DESC, id ASC)), so the
    // whole loop replays as a recursive CTE (state = the chosen-id list,
    // the knn_mmr pattern).
    GQuery(
      "pipeline_coreset",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        graft.operators.Coreset
          .kCenterGreedy(emb, "vec_id", "vec", k = 12)
          .select(col("rnd"), col("center_id"),
            round(col("radius"), 6).as("radius"))
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        seed AS (SELECT min(id) AS sid FROM e),
        sel AS (
          SELECT 1 AS rnd, [sid] AS ids, sid AS cid, NULL::DOUBLE AS radius
          FROM seed
          UNION ALL
          SELECT rnd + 1, list_append(ids, id), id, md
          FROM (
            SELECT rnd, ids, id, md,
                   row_number() OVER (ORDER BY md DESC, id) AS rn
            FROM (
              SELECT s.rnd, s.ids, e.id, min(${sqlL2Sq("e.v", "c.v")}) AS md
              FROM sel s
              CROSS JOIN e
              JOIN e c ON list_contains(s.ids, c.id)
              WHERE NOT list_contains(s.ids, e.id) AND s.rnd < 12
              GROUP BY s.rnd, s.ids, e.id))
          WHERE rn = 1
        )
        SELECT rnd::BIGINT AS rnd, cid AS center_id,
               round(radius, 6) AS radius
        FROM sel
      """)
    ),
    // COMPOSABLE (sharded) k-center — the corpus-scale coreset path:
    // points shard by md5(id) % 4 (deterministic contents — the whole
    // two-level scheme is hash-checkable), each shard runs the exact
    // local greedy in ONE flatMapGroups pass (no driver rounds), and
    // the 4·k local centers merge-greedy into the final k. One
    // distributed pass over the corpus vs the sequential greedy's k
    // rounds; constant-factor cover (CoresetSpec gates the true corpus
    // radius against sequential greedy's). Oracle: the per-shard greedy
    // is ONE recursive CTE whose state is keyed by pid (all shards
    // advance together), then the merge greedy replays over the
    // candidate union — every pick, tie, and radius float-for-float.
    GQuery(
      "pipeline_coreset_dist",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        graft.operators.Coreset
          .kCenterComposable(emb, "vec_id", "vec", k = 8, parts = 4)
          .select(col("rnd"), col("center_id"),
            round(col("radius"), 6).as("radius"))
      },
      Some(s"""
        WITH RECURSIVE
        e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
               (('0x' || substr(md5(vec_id::VARCHAR || ':kcshard'), 1, 14))
                 ::BIGINT % 4)::INT AS pid
             FROM embeddings),
        lseed AS (SELECT pid, min(id) AS sid FROM e GROUP BY pid),
        lsel AS (
          SELECT pid, 1 AS rnd, [sid] AS ids, sid AS cid
          FROM lseed
          UNION ALL
          SELECT pid, rnd + 1, list_append(ids, id), id
          FROM (
            SELECT pid, rnd, ids, id, md,
                   row_number() OVER (PARTITION BY pid
                                      ORDER BY md DESC, id) AS rn
            FROM (
              SELECT s.pid, s.rnd, s.ids, p.id,
                     min(${sqlL2Sq("p.v", "c.v")}) AS md
              FROM lsel s
              JOIN e p ON p.pid = s.pid AND NOT list_contains(s.ids, p.id)
              JOIN e c ON c.pid = s.pid AND list_contains(s.ids, c.id)
              WHERE s.rnd < 8
              GROUP BY s.pid, s.rnd, s.ids, p.id)
            WHERE md > 0)
          WHERE rn = 1
        ),
        cv AS MATERIALIZED (
          SELECT e.id, e.v
          FROM (SELECT DISTINCT cid AS id FROM lsel) c
          JOIN e ON e.id = c.id),
        fseed AS (SELECT min(id) AS sid FROM cv),
        fsel AS (
          SELECT 1 AS rnd, [sid] AS ids, sid AS cid, NULL::DOUBLE AS radius
          FROM fseed
          UNION ALL
          SELECT rnd + 1, list_append(ids, id), id, md
          FROM (
            SELECT rnd, ids, id, md,
                   row_number() OVER (ORDER BY md DESC, id) AS rn
            FROM (
              SELECT s.rnd, s.ids, p.id, min(${sqlL2Sq("p.v", "c.v")}) AS md
              FROM fsel s
              CROSS JOIN cv p
              JOIN cv c ON list_contains(s.ids, c.id)
              WHERE NOT list_contains(s.ids, p.id) AND s.rnd < 8
              GROUP BY s.rnd, s.ids, p.id)
            WHERE md > 0)
          WHERE rn = 1
        )
        SELECT rnd::BIGINT AS rnd, cid AS center_id,
               round(radius, 6) AS radius
        FROM fsel
      """)
    ),
    // Canonical DBSCAN over the embedding table — density clustering as
    // the curation counterpart to k-means (SemDeDup) blocking: cores by
    // the eps-degree rule, clusters = connected components over CORE-core
    // eps-edges (min-id representative, the engine's standard canonical
    // labeling), borders attached by min cluster among core neighbors,
    // everything else noise. Every visit-order ambiguity of textbook
    // DBSCAN is replaced by a min rule, so the full labeling sits under
    // an exact oracle: the same pair predicate, degree count, recursive
    // closure (the dedup_clusters pattern), and min-attach replayed in
    // DuckDB. Pure integer/string output — no float ever leaves the plan.
    GQuery(
      "cluster_dbscan",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        graft.operators.Dbscan
          .dbscan(emb, "vec_id", "vec", eps2 = 1.25, minPts = 4)
          .select(col("vec_id"), col("role"), col("cluster"))
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        pr AS MATERIALIZED (
          SELECT a.id AS ia, b.id AS ib
          FROM e a JOIN e b ON a.id < b.id
          WHERE ${sqlL2Sq("a.v", "b.v")} <= 1.25),
        $dbscanLabelCtes
        $dbscanLabelSelect
      """)
    ),
    // The SAME DBSCAN labeling forced down the declared corpus-scale
    // pair path: SRP band-collision candidates (sub-quadratic,
    // collision-driven volume) verified at the exact eps-ball, instead
    // of the exact triangle block-pair enumeration — proving end to end
    // that dbscanFromPairs really is pair-source-agnostic. Surviving
    // pairs are exact; recall is blocking-dependent (documented), and
    // the oracle replays the identical band signatures, so the
    // approximate labeling is still hash-checked bit for bit.
    GQuery(
      "cluster_dbscan_lsh",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        graft.operators.Dbscan
          .dbscanFromPairs(
            emb, "vec_id",
            graft.operators.Dbscan.epsNeighborPairsLsh(
              emb, "vec_id", "vec", eps2 = 1.25,
              numPlanes = 16, bands = 4, dim = 64),
            minPts = 4)
          .select(col("vec_id"), col("role"), col("cluster"))
      },
      Some {
        def bit(k: Int): String =
          s"""CASE WHEN list_sum(list_transform(generate_series(1, len(v)),
             |  i -> v[i] * ((('0x'||substr(md5('${k}_'||(i-1)::VARCHAR),1,14))::BIGINT
             |                % 1000003) / 1000003.0 - 0.5))) >= 0
             |THEN '1' ELSE '0' END""".stripMargin
        val sigDefs = (0 until 4).map { b =>
          (4 * b until 4 * b + 4).map(bit).mkString("(", " || ", s") AS sig$b")
        }.mkString(",\n")
        val bandUnion = (0 until 4)
          .map(b => s"SELECT $b AS band, sig$b AS sig, id FROM s")
          .mkString(" UNION ALL ")
        s"""
        WITH RECURSIVE
        e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT id, $sigDefs FROM e),
        bs AS ($bandUnion),
        cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib
                 FROM bs a JOIN bs b
                   ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
        pr AS MATERIALIZED (
          SELECT cand.ia, cand.ib
          FROM cand JOIN e ea ON ea.id = cand.ia
                    JOIN e eb ON eb.id = cand.ib
          WHERE ${sqlL2Sq("ea.v", "eb.v")} <= 1.25),
        $dbscanLabelCtes
        $dbscanLabelSelect
      """
      }
    ),
    // query's own label — the equality predicate becomes the JOIN KEY, so
    // the plan is a broadcast HASH join (distance evaluated on same-label
    // pairs only), not a nested loop over all pairs.
    GQuery(
      "knn_filtered",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(
            col("vec_id").as("query_id"),
            toDouble(col("embedding")).as("qv"),
            col("label").as("qkey")
          )
        val b = emb.select(
          col("vec_id").as("neighbor_id"),
          toDouble(col("embedding")).as("bv"),
          col("label").as("bkey")
        )
        BruteForceKNN
          .knnConstrained(q, b, K)
          .select(
            col("query_id"),
            col("neighbor_id"),
            round(col("dist"), 4).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                          label AS qkey
                   FROM embeddings WHERE vec_id % 10 = 0),
             b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv,
                          label AS bkey
                   FROM embeddings),
             d AS (SELECT query_id, neighbor_id,
                          ${sqlL2Sq("qv", "bv")} AS dist
                   FROM q JOIN b ON qkey = bkey),
             r AS (SELECT query_id, neighbor_id, dist,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM d)
        SELECT query_id, neighbor_id, round(dist, 4) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // (shared-model discipline: the PCA fit and the facility greedy are
    // the expensive corpus passes; embed_pca/embed_pca_outlier and
    // pipeline_facility/eval_selection_coverage each re-derive the SAME
    // model, so it is computed once per sf dir and both consumers read
    // it — the sharedGraph/sharedWinnow pattern)
    // Corpus-scale PCA projection + whitening (Pca.scala): decimal-exact
    // moments over the WHOLE corpus (one pass, map-side-combined shuffle of
    // only partitions × d(d+1)/2 partial cells), top-2 components by a
    // FIXED 6-round power iteration with deterministic one-hot init and
    // greedy deflation, then a zero-shuffle broadcast projection. Every
    // float is either an order-free DECIMAL(38,30) sum or an
    // ascending-index left fold, so the whole trajectory — covariance,
    // both eigenvectors, both Rayleigh quotients, per-row scores —
    // replays bit-for-bit in the unrolled SQL below.
    GQuery(
      "embed_pca",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val m = sharedPcaModel(spark, dir)
        emb.select(
          col("vec_id"),
          round(graft.operators.Pca.projectCol(m, col("v"), 0), 6).as("pc1"),
          round(graft.operators.Pca.projectCol(m, col("v"), 1), 6).as("pc2"),
          round(graft.operators.Pca.whitenCol(m, col("v"), 0), 6).as("w1"),
          round(graft.operators.Pca.whitenCol(m, col("v"), 1), 6).as("w2")
        )
      },
      Some(pcaOracleSql(PCAR))
    ),
    // Facility-location greedy exemplar selection (FacilityLocation.scala):
    // submodular coverage maximization — k rounds, each ONE whole-corpus
    // decimal-exact marginal-gain aggregate over a broadcast candidate
    // pool (no per-round shuffle; sims precomputed once into a width-m
    // array column). The full greedy trajectory — sims, per-round gains,
    // argmax picks, running-max updates — replays in the unrolled oracle.
    GQuery(
      "pipeline_facility",
      (spark, dir) => {
        import spark.implicits._
        sharedFacility(spark, dir).toSeq
          .toDF("rnd", "center_id", "gain")
          .select(col("rnd"), col("center_id"), round(col("gain"), 6).as("gain"))
      },
      Some(facilityOracleSql(FLK))
    ),
    // PCA-residual outlier scoring (Pca.residualCol): squared
    // reconstruction error off the top-2 principal subspace — the
    // embedding-space anomaly filter (corrupt/off-manifold vectors score
    // high). Zero-shuffle map against the broadcast model + ONE
    // decimal-exact mean for the threshold scalar; flag = resid >
    // 2·mean(resid). The residual chain, the mean, and the flag all
    // replay in SQL off the shared PCA CTEs.
    GQuery(
      "embed_pca_outlier",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val m = sharedPcaModel(spark, dir)
        val scored = emb.select(
          col("vec_id"),
          graft.operators.Pca.residualCol(m, col("v")).as("resid"))
        val avg = scored
          .agg(davgHi(col("resid")))
          .head.getDouble(0)
        scored.select(
          col("vec_id"),
          round(col("resid"), 6).as("resid"),
          (col("resid") > lit(2.0) * lit(avg)).as("is_outlier"))
      },
      Some {
        val proj = (c: Char) =>
          s"""list_sum(list_transform(generate_series(1, 64),
                i -> (e.ev[i] - m.ml[i]) * $c.vl[i]))"""
        s"""
        WITH ${pcaCtes(PCAR)},
        rs AS MATERIALIZED (
          SELECT e.vec_id,
                 list_sum(list_transform(generate_series(1, 64),
                   i -> (e.ev[i] - m.ml[i]) * (e.ev[i] - m.ml[i])))
                   - (${proj('a')}) * (${proj('a')})
                   - (${proj('b')}) * (${proj('b')}) AS resid
          FROM e CROSS JOIN mul m CROSS JOIN v1_$PCAR a CROSS JOIN v2_$PCAR b),
        av AS (SELECT sum(resid::DECIMAL(38,30))::DOUBLE / count(*) AS avg
               FROM rs)
        SELECT vec_id, round(resid, 6) AS resid,
               resid > 2.0 * (SELECT avg FROM av) AS is_outlier
        FROM rs
      """
      }
    ),
    // Selection coverage audit (FacilityLocation.coverage): re-run the
    // facility greedy, then attribute every corpus point to its best
    // pick (max sim, ties to the lowest pick id) and report per-pick
    // attracted count, decimal-exact mean similarity, and weakest
    // coverage — the eval that makes the selection family measurable.
    // Scoring is a zero-shuffle map against the broadcast picks; the
    // oracle replays the greedy CTEs and the attribution window.
    GQuery(
      "eval_selection_coverage",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val ids = sharedFacility(spark, dir).map(_._2)
        val byId = emb.filter(col("vec_id").isin(ids: _*))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1))
          .toMap
        val picks = ids.map(id => (id, byId(id)))
        graft.operators.FacilityLocation
          .coverage(emb, "vec_id", "v", picks)
          .select(
            col("center_id"),
            col("attracted"),
            round(col("mean_sim"), 6).as("mean_sim"),
            round(col("min_sim"), 6).as("min_sim"))
      },
      Some(s"""
        WITH ${facilityCtes(FLK)},
        cv AS MATERIALIZED (
          SELECT xid, cid, sim,
                 row_number() OVER (PARTITION BY xid
                                    ORDER BY sim DESC, cid ASC) AS rn
          FROM s WHERE cid IN (SELECT cid FROM picks$FLK))
        SELECT cid AS center_id, count(*) AS attracted,
               round(sum(sim::DECIMAL(38,30))::DOUBLE / count(*), 6)
                 AS mean_sim,
               round(min(sim), 6) AS min_sim
        FROM cv WHERE rn = 1
        GROUP BY cid
      """)
    ),
    // ───────────────────────── graph-audit tier ─────────────────────────
    // Structural measurements of the shared kNN graph next to hubness:
    // the numbers a graph-curation run publishes before trusting
    // graph-walk selection (PageRank/PPR/label-prop) built on it.
    //
    // Per-node triangle count + local clustering coefficient
    // (Watts–Strogatz 1998). The operator enumerates each triangle once
    // at its lowest-(deg, id) corner via the degree-ordered orientation
    // (Suri & Vassilvitskii, WWW 2011 — wedge fan-out Σ outdeg², with
    // outdeg O(√m) worst-case, so the hub never materializes C(deg, 2)
    // wedges); the oracle re-counts naively per node (u1.nb < u2.nb
    // closed by an undirected edge), which must agree exactly. cc is an
    // exact small-integer division, identical doubles in both engines.
    GQuery(
      "knn_graph_triangles",
      (spark, dir) => {
        graft.operators.GraphAudit
          .triangleStats(sharedWedge(spark, dir))
          .select(
            col("id").as("vec_id"), col("deg"), col("tri"),
            round(col("cc"), 6).as("cc"))
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        tc AS (SELECT u1.id, count(*)::BIGINT AS tri
               FROM ub u1 JOIN ub u2 ON u2.id = u1.id AND u1.nb < u2.nb
               JOIN uu t ON t.a = u1.nb AND t.b = u2.nb
               GROUP BY u1.id)
        SELECT d.id AS vec_id, d.deg,
               coalesce(tc.tri, 0)::BIGINT AS tri,
               round(CASE WHEN d.deg >= 2
                          THEN (2 * coalesce(tc.tri, 0))::DOUBLE
                               / (d.deg * (d.deg - 1))::DOUBLE
                          ELSE 0.0::DOUBLE END, 6) AS cc
        FROM dq d LEFT JOIN tc ON tc.id = d.id
      """)
    ),
    // Coreness (Seidman 1983) by the h-index fixpoint of Lü et al. 2016:
    // c₀ = deg, c_{t+1}(v) = H{c_t(u) : u ∈ N(v)} — 4 FIXED rounds, all
    // integer, so the whole schedule (converged or not) hash-replays as
    // unrolled SQL; GraphAuditSpec pins convergence-to-peel-coreness on
    // reference graphs. Per round: one edge⋈state join + one per-node
    // h-index window — linear in edges, the 100-TB-safe shape.
    GQuery(
      "knn_graph_kcore",
      (spark, dir) => {
        val ids = t(spark, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"))
        graft.operators.GraphAudit
          .coreness(sharedGraph(spark, dir), ids, rounds = 4)
          .select(col("id").as("vec_id"), col("deg"), col("coreness"))
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        kc0 AS MATERIALIZED (SELECT id, deg AS c FROM dq),
        ${(1 to 4).map(i => s"""
        kh$i AS (SELECT id, max(least(p, cv)) AS h FROM (
                  SELECT ub.id, s.c AS cv,
                         row_number() OVER (PARTITION BY ub.id
                                            ORDER BY s.c DESC) AS p
                  FROM ub JOIN kc${i - 1} s ON s.id = ub.nb)
                 GROUP BY id),
        kc$i AS MATERIALIZED (SELECT d.id, coalesce(h.h, 0)::BIGINT AS c
                FROM dq d LEFT JOIN kh$i h ON h.id = d.id)""").mkString(",")}
        SELECT d.id AS vec_id, d.deg, k.c AS coreness
        FROM dq d JOIN kc4 k ON k.id = d.id
      """)
    ),
    // SCAN structural clustering (Xu et al., KDD 2007) over the shared
    // kNN graph: ε-edges by closed-neighborhood structural similarity
    // (σ ≥ 0.3 decided in exact integers — 100·(c+2)² ≥ 9·(da+1)(db+1)),
    // cores at μ=3, clusters = CC of the core-core ε-graph, borders
    // attach to their MIN adjacent core cluster (deterministic variant
    // of the paper's traversal-order choice), leftovers split hub vs
    // outlier by whether their neighbors span ≥2 clusters — the role
    // census separating community mass from bridges from noise. The
    // oracle replays σ, cores and borders relationally and the cluster
    // labels as a recursive min-label closure.
    GQuery(
      "knn_graph_scan",
      (spark, dir) => {
        graft.operators.GraphAudit
          .scan(sharedWedge(spark, dir),
            epsSqNum = 9L, epsSqDen = 100L, mu = 3)
          .select(col("id").as("vec_id"), col("deg"), col("role"),
            col("cluster"))
      },
      Some(s"""
        WITH RECURSIVE $graphCtes,
        $auditCtes,
        $scanWedgeCte,
        ${scanBlock("s", 9)}
        SELECT dq.id AS vec_id, dq.deg,
               CASE WHEN sr.rep IS NOT NULL THEN 'core'
                    WHEN sb.rep IS NOT NULL THEN 'border'
                    WHEN coalesce(sh.ncl, 0) >= 2 THEN 'hub'
                    ELSE 'outlier' END AS role,
               (CASE WHEN sr.rep IS NOT NULL THEN sr.rep
                     WHEN sb.rep IS NOT NULL THEN sb.rep
                     ELSE NULL END)::BIGINT AS cluster
        FROM dq LEFT JOIN srep sr ON sr.id = dq.id
                LEFT JOIN sbord sb ON sb.id = dq.id
                LEFT JOIN shub sh ON sh.id = dq.id
      """)
    ),
    // SCAN ε-operating curve — the tuning table over the SAME wedge
    // counts (σ is ε-independent; only the threshold moves): per
    // ε² ∈ {4, 9, 16}/100, the full role census + cluster count. The
    // knob-setting audit before freezing a SCAN config: looser ε grows
    // cores/clusters until communities merge, tighter ε demotes
    // everything to outliers — this measures the whole transition with
    // every count integer-exact.
    GQuery(
      "knn_graph_scan_curve",
      (spark, dir) => {
        // ONE wedge artifact, collected once; each ε is a pure integer
        // filter over it, and each census a local frame whose counts are
        // taken here: sum over no rows is null, countDistinct skips null
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val nums = Seq(4L, 9L, 16L)
        val rows = graft.operators.GraphAudit
          .scanCurve(sharedWedge(spark, dir), nums, epsSqDen = 100L, mu = 3)
          .zip(nums)
          .map { case (census, num) =>
            // a local frame: this collect runs no job
            val rs = census.select(col("role"), col("cluster")).collect()
            def n(role: String): Any =
              if (rs.isEmpty) null else rs.count(_.getString(0) == role).toLong
            Row(num, n("core"), n("border"), n("hub"), n("outlier"),
              rs.collect { case r if !r.isNullAt(1) => r.getLong(1) }.distinct.length.toLong)
          }
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          StructType(StructField("eps_sq_x100", LongType, nullable = false) +:
            Seq("n_core", "n_border", "n_hub", "n_outlier").map(StructField(_, LongType)) :+
            StructField("n_clusters", LongType, nullable = false)))
      },
      Some {
        val census = Seq(4, 9, 16).map { num =>
          val p = s"e$num"
          s"""
        cen$num AS (
          SELECT $num::BIGINT AS eps_sq_x100,
                 sum(CASE WHEN r.rep IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_core,
                 sum(CASE WHEN r.rep IS NULL AND b.rep IS NOT NULL
                     THEN 1 ELSE 0 END)::BIGINT AS n_border,
                 sum(CASE WHEN r.rep IS NULL AND b.rep IS NULL
                          AND coalesce(h.ncl, 0) >= 2
                     THEN 1 ELSE 0 END)::BIGINT AS n_hub,
                 sum(CASE WHEN r.rep IS NULL AND b.rep IS NULL
                          AND coalesce(h.ncl, 0) < 2
                     THEN 1 ELSE 0 END)::BIGINT AS n_outlier,
                 (SELECT count(DISTINCT rep) FROM ${p}rep)::BIGINT
                   AS n_clusters
          FROM dq LEFT JOIN ${p}rep r ON r.id = dq.id
                  LEFT JOIN ${p}bord b ON b.id = dq.id
                  LEFT JOIN ${p}hub h ON h.id = dq.id)"""
        }.mkString(",")
        s"""
        WITH RECURSIVE $graphCtes,
        $auditCtes,
        $scanWedgeCte,
        ${scanBlock("e4", 4)},
        ${scanBlock("e9", 9)},
        ${scanBlock("e16", 16)},
        $census
        SELECT * FROM cen4 UNION ALL SELECT * FROM cen9
        UNION ALL SELECT * FROM cen16
        """
      }
    ),
    // Newman–Girvan modularity of the ground-truth LABEL partition over
    // the undirected kNN graph — the audit that says whether the graph
    // respects the labels before any label-prop / graph-walk selection
    // trusts it: q_c = e_c/m − (d_c/2m)² per label community, Q = Σ q_c
    // (high Q → neighbors share labels; Q ≈ 0 → the graph is label-
    // blind and propagation will smear). Every division takes exact
    // integers, so doubles agree exactly.
    GQuery(
      "knn_graph_modularity",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val ids = emb.select(col("vec_id").cast("long").as("id"))
        val comm = emb.select(
          col("vec_id").cast("long").as("id"),
          col("label").cast("long").as("community"))
        graft.operators.GraphAudit
          .modularity(sharedGraph(spark, dir), ids, comm)
          .select(
            col("community"), col("n_nodes"), col("e_in"), col("deg_sum"),
            round(col("q"), 6).as("q"))
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        cm AS MATERIALIZED (SELECT vec_id AS id, label::BIGINT AS community
              FROM embeddings),
        mt AS (SELECT count(*) AS m FROM uu),
        ds AS (SELECT cm.community, count(*) AS n_nodes,
                      sum(dq.deg)::BIGINT AS deg_sum
               FROM dq JOIN cm ON cm.id = dq.id GROUP BY cm.community),
        ei AS (SELECT ca.community, count(*) AS e_in
               FROM uu JOIN cm ca ON ca.id = uu.a
                       JOIN cm cb ON cb.id = uu.b
                                 AND cb.community = ca.community
               GROUP BY ca.community)
        SELECT ds.community, ds.n_nodes,
               coalesce(ei.e_in, 0)::BIGINT AS e_in, ds.deg_sum,
               round(coalesce(ei.e_in, 0)::DOUBLE / mt.m::DOUBLE
                     - (ds.deg_sum::DOUBLE / (2 * mt.m)::DOUBLE)
                       * (ds.deg_sum::DOUBLE / (2 * mt.m)::DOUBLE), 6) AS q
        FROM ds CROSS JOIN mt LEFT JOIN ei ON ei.community = ds.community
      """)
    ),
    // ARI/NMI of the SCAN structural partition against the gold labels
    // — does structure-derived community membership align with
    // semantics BEFORE a curation run trusts SCAN roles for selection?
    // Hubs/outliers count as singletons (the modularity absentee
    // convention), so noise is penalized, not ignored. Same
    // integer-combinatorics ARI + decimal-routed NMI as
    // eval_clustering_agreement, over the scan chain's closure.
    GQuery(
      "eval_scan_agreement",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val assign = graft.operators.GraphAudit
          .scan(sharedWedge(spark, dir),
            epsSqNum = 9L, epsSqDen = 100L, mu = 3)
          .select(col("id"),
            coalesce(col("cluster"), col("id")).as("cluster"))
        graft.operators.ClusterEval
          .agreement(assign,
            emb.select(col("vec_id").cast("long").as("id"), col("label")))
          .select(col("n"), round(col("ari"), 6).as("ari"),
            round(col("nmi"), 6).as("nmi"))
      },
      Some(s"""
        WITH RECURSIVE $graphCtes,
        $auditCtes,
        $scanWedgeCte,
        ${scanBlock("s", 9)},
        sj AS MATERIALIZED (
          SELECT dq.id,
                 coalesce(sr.rep, sb.rep, dq.id)::BIGINT AS u,
                 em.label::BIGINT AS v
          FROM dq LEFT JOIN srep sr ON sr.id = dq.id
                  LEFT JOIN sbord sb ON sb.id = dq.id
                  JOIN embeddings em ON em.vec_id = dq.id),
        contg AS MATERIALIZED (SELECT sj.u, sj.v, count(*)::BIGINT AS nij
                FROM sj GROUP BY sj.u, sj.v),
        cau AS MATERIALIZED (SELECT u, sum(nij)::BIGINT AS ai
               FROM contg GROUP BY u),
        cbv AS MATERIALIZED (SELECT v, sum(nij)::BIGINT AS bj
               FROM contg GROUP BY v),
        cnn AS (SELECT count(*)::BIGINT AS n FROM sj),
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
    // Per-label CONDUCTANCE over the kNN graph — the cut-quality audit
    // next to modularity: φ = cut / min(vol, total−vol), integer counts,
    // one division per community. Modularity says communities are DENSE
    // vs the null model; conductance certifies their BOUNDARIES are
    // thin — the property that makes a partition safe for
    // partition-local processing (shard-by-community, local dedup).
    GQuery(
      "knn_graph_conductance",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val comm = emb.select(
          col("vec_id").cast("long").as("id"),
          col("label").cast("long").as("community"))
        graft.operators.GraphAudit
          .conductance(sharedWedge(spark, dir), comm)
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        cm AS MATERIALIZED (SELECT vec_id AS id, label::BIGINT AS community
              FROM embeddings),
        vol AS (SELECT cm.community, count(*)::BIGINT AS n_nodes,
                       sum(dq.deg)::BIGINT AS vol
                FROM dq JOIN cm ON cm.id = dq.id GROUP BY cm.community),
        crossing AS (SELECT ca.community AS ca, cb.community AS cb
                     FROM uu JOIN cm ca ON ca.id = uu.a
                             JOIN cm cb ON cb.id = uu.b
                     WHERE ca.community != cb.community),
        cut AS (SELECT community, count(*)::BIGINT AS cut FROM (
                  SELECT ca AS community FROM crossing
                  UNION ALL SELECT cb FROM crossing)
                GROUP BY community),
        tot AS (SELECT sum(deg)::BIGINT AS tvol FROM dq)
        SELECT vol.community, vol.n_nodes, vol.vol,
               coalesce(cut.cut, 0)::BIGINT AS cut,
               round(CASE WHEN least(vol.vol, tot.tvol - vol.vol) > 0
                     THEN coalesce(cut.cut, 0)::DOUBLE
                          / least(vol.vol, tot.tvol - vol.vol)
                     ELSE 0.0 END, 6) AS conductance
        FROM vol CROSS JOIN tot
        LEFT JOIN cut ON cut.community = vol.community
      """)
    ),
    // Embedding-space ISOTROPY census (Ethayarajh 2019; Mu & Viswanath
    // 2018's common-direction diagnostic): the exact mean pairwise
    // cosine over all ordered pairs of the L2-normalized corpus —
    // computed WITHOUT pairs as (‖Σu‖² − Σ‖u‖²)/(N(N−1)), each
    // normalized component cross-row-summed through DECIMAL so the
    // centroid is order-free. Anisotropic (common-direction-dominated)
    // embedding tables break cosine ANN and SemDeDup thresholds — this
    // is the one-row health check run before trusting them. Also
    // reports the decimal-routed mean raw norm.
    GQuery(
      "embed_isotropy",
      (spark, dir) =>
        graft.operators.ClusterEval.isotropy(
          t(spark, dir, "embeddings")
            .select(toDouble(col("embedding")).as("v")),
          "v"),
      Some("""
        WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        nm AS (SELECT id, v,
                      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
               FROM e),
        un AS (SELECT id, nrm,
                      list_transform(v, x -> x / nrm) AS u
               FROM nm WHERE nrm > 0),
        ux AS (SELECT id, g.t AS t, u[g.t] AS ut
               FROM un, unnest(generate_series(1, len(u))) AS g(t)),
        comps AS (SELECT t, sum(ut::DECIMAL(38,30))::DOUBLE AS s
                  FROM ux GROUP BY t),
        s2 AS (SELECT list_sum(list(s * s ORDER BY t)) AS s2,
                      count(*)::BIGINT AS d
               FROM comps),
        scal AS (SELECT count(*)::BIGINT AS n,
                        sum(nrm::DECIMAL(38,20))::DOUBLE / count(*)
                          AS mean_norm,
                        sum(list_sum(list_transform(u, x -> x * x))
                            ::DECIMAL(38,30))::DOUBLE AS q
                 FROM un)
        SELECT scal.n, s2.d,
               round((s2.s2 - scal.q) / (scal.n * (scal.n - 1)), 6)
                 AS mean_cos,
               round(scal.mean_norm, 6) AS mean_norm
        FROM scal CROSS JOIN s2
      """)
    ),
    // Synchronous Louvain phase-1 (Blondel et al. 2008 local moves, all
    // nodes at once — the modularity counterpart of pipeline_label_prop)
    // over the shared kNN graph: 3 fixed rounds, every node moving to
    // the neighbor community with max gain. The gain is scaled by 2m
    // into an ALL-INTEGER score 2m·k_vC − k(v)·(Σtot(C) − [C=own]·k(v)),
    // so no float enters the trajectory and the whole schedule unrolls
    // into SQL rounds, hash-checked. Ties toward the smallest community
    // id; isolated nodes keep their singleton.
    GQuery(
      "knn_graph_louvain",
      (spark, dir) =>
        sharedLouvainP1(spark, dir)
          .select(col("id").as("vec_id"), col("community")),
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        $louvainP1Ctes
        SELECT id AS vec_id, community FROM lv3
      """)
    ),
    // The FULL two-level Louvain (Blondel et al. 2008, both phases):
    // after the 3 sync local-move rounds, communities CONTRACT into
    // super-nodes — cross-community edge multiplicities become integer
    // weights, internal edges become self-weights (they ride in the
    // super-node's degree k = Σw + 2s but never enter k_vC) — and 2
    // WEIGHTED rounds run on the coarse graph with the ORIGINAL total
    // edge mass m (contraction conserves it: Σw′ + Σs = m). Still
    // all-integer end to end, so both levels, the contraction and the
    // projection replay in SQL and hash-check.
    GQuery(
      "knn_graph_louvain2",
      (spark, dir) =>
        graft.operators.Louvain
          .louvainTwoLevelFrom(
            sharedGraph(spark, dir), sharedLouvainP1(spark, dir), rounds2 = 2)
          .select(col("id").as("vec_id"), col("community")),
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        $louvainP1Ctes,
        $louvain2Ctes
        SELECT p.id AS vec_id, w.community
        FROM lv3 p JOIN wlv2 w ON w.id = p.community
      """)
    ),
    // The measured modularity of BOTH Louvain partitions — the number
    // the local moves optimize, reported instead of assumed: per-level
    // community count and Newman–Girvan Q = Σ_c (e_c/m − (d_c/2m)²)
    // over the shared kNN graph, for the phase-1 partition and the full
    // two-level one. Q's divisions take exact integers (e_c, d_c, m),
    // the Σ routes through DECIMAL(38,20) — hash-checked end to end.
    // LouvainSpec gates Q(two_level) ≥ Q(phase1) on fixture graphs; this
    // row pins both trajectories' quality on the real table.
    GQuery(
      "knn_graph_louvain_q",
      (spark, dir) => {
        val g = sharedGraph(spark, dir)
        val emb = t(spark, dir, "embeddings")
        val ids = emb.select(col("vec_id").cast("long").as("id"))
        val p1 = sharedLouvainP1(spark, dir)
        val two = graft.operators.Louvain
          .louvainTwoLevelFrom(g, p1, rounds2 = 2)
        def level(name: String, comm: org.apache.spark.sql.DataFrame) =
          graft.operators.GraphAudit.modularity(g, ids, comm)
            .agg(
              count(lit(1)).as("n_communities"),
              sum(col("e_in")).as("e_in_total"),
              sum(col("q").cast(org.apache.spark.sql.types.DecimalType(38, 20)))
                .cast("double").as("qq"))
            .select(
              lit(name).as("level"), col("n_communities"),
              col("e_in_total"), round(col("qq"), 6).as("q"))
        level("phase1", p1).unionByName(level("two_level", two))
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        $louvainP1Ctes,
        $louvain2Ctes,
        mt AS (SELECT count(*) AS m FROM uu),
        cm1 AS MATERIALIZED (SELECT id, community FROM lv3),
        cm2 AS MATERIALIZED (
          SELECT p.id, w.community
          FROM lv3 p JOIN wlv2 w ON w.id = p.community),
        ${Seq("1" -> "phase1", "2" -> "two_level").map { case (k, name) => s"""
        ds$k AS (SELECT cm$k.community, sum(dq.deg)::BIGINT AS deg_sum
               FROM dq JOIN cm$k ON cm$k.id = dq.id GROUP BY cm$k.community),
        ei$k AS (SELECT ca.community, count(*)::BIGINT AS e_in
               FROM uu JOIN cm$k ca ON ca.id = uu.a
                       JOIN cm$k cb ON cb.id = uu.b
                                 AND cb.community = ca.community
               GROUP BY ca.community),
        qs$k AS (SELECT '$name' AS level,
                      count(*) AS n_communities,
                      sum(coalesce(ei$k.e_in, 0))::BIGINT AS e_in_total,
                      round(sum((coalesce(ei$k.e_in, 0)::DOUBLE / mt.m::DOUBLE
                        - (ds$k.deg_sum::DOUBLE / (2 * mt.m)::DOUBLE)
                          * (ds$k.deg_sum::DOUBLE / (2 * mt.m)::DOUBLE)
                        )::DECIMAL(38,20)), 6)::DOUBLE AS q
               FROM ds$k CROSS JOIN mt
               LEFT JOIN ei$k ON ei$k.community = ds$k.community)"""
        }.mkString(",")}
        SELECT * FROM qs1 UNION ALL SELECT * FROM qs2
      """)
    ),
    // Single-linkage hierarchical clustering at FIXED thresholds —
    // the dendrogram cut three ways: clusters at level t = connected
    // components of the kNN graph restricted to edges with dist ≤ t
    // (exactly single linkage on the available neighbor graph; no MST
    // materialization needed for fixed cuts). Thresholds 1.25 / 1.40 /
    // 1.50 straddle the observed L2² kNN-distance band (~1.0–1.53), so
    // the levels genuinely coarsen; reps = min reachable id (the
    // dedup_clusters convention), singletons are their own cluster, and
    // nesting (same fine rep ⇒ same coarse rep) is spec-gated. Per
    // level: one distributed pointer-jumping CC over a filtered edge
    // list — linear, the 100-TB clustering path already proven by
    // dedup_clusters_distributed.
    GQuery(
      "cluster_hierarchy",
      (spark, dir) => sharedHierarchy(spark, dir),
      Some(s"""
        WITH RECURSIVE $graphCtes,
        $hierarchyCtes
        SELECT e.id AS vec_id,
               coalesce(h1.rep, e.id)::BIGINT AS c_fine,
               coalesce(h2.rep, e.id)::BIGINT AS c_mid,
               coalesce(h3.rep, e.id)::BIGINT AS c_coarse
        FROM e LEFT JOIN hcp1 h1 ON h1.id = e.id
               LEFT JOIN hcp2 h2 ON h2.id = e.id
               LEFT JOIN hcp3 h3 ON h3.id = e.id
      """)
    ),
    // ARI + NMI of every dendrogram level against the ground-truth
    // labels — the external-agreement scorecard walked UP the hierarchy
    // (how much label structure does each linkage threshold recover?):
    // one row per level, the ClusterEval combinatorics re-derived per
    // cut. On the near-random synthetic table all three levels read
    // ≈ 0 — graph proximity is label-blind here, consistent with
    // knn_graph_modularity, and exactly what the audit should say.
    GQuery(
      "eval_hierarchy_agreement",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val truth = emb.select(col("vec_id").cast("long").as("id"), col("label"))
        val h = sharedHierarchy(spark, dir)
        Seq("c_fine" -> "fine", "c_mid" -> "mid", "c_coarse" -> "coarse")
          .map { case (c, nm) =>
            graft.operators.ClusterEval
              .agreement(
                h.select(col("vec_id").as("id"), col(c).as("cluster")), truth)
              .select(lit(nm).as("level"), col("n"),
                round(col("ari"), 6).as("ari"), round(col("nmi"), 6).as("nmi"))
          }
          .reduce(_ unionAll _)
      },
      Some(s"""
        WITH RECURSIVE $graphCtes,
        $hierarchyCtes,
        ${Seq(1 -> "fine", 2 -> "mid", 3 -> "coarse").map { case (i, nm) =>
          hierarchyAriSql(i, nm)
        }.mkString(",")}
        SELECT * FROM ha1 UNION ALL SELECT * FROM ha2
        UNION ALL SELECT * FROM ha3
      """)
    ),
    // Percolation audit — component count and giant-component fraction
    // at each linkage threshold (the connectivity curve every
    // graph-based dedup/selection stage should glance at before
    // trusting component structure: a giant_frac jump between
    // thresholds marks the percolation transition where "clusters"
    // become one blob). Three aggregate rows off the shared hierarchy
    // cuts — no new graph work.
    GQuery(
      "knn_graph_percolation",
      (spark, dir) => {
        val h = sharedHierarchy(spark, dir)
        Seq("c_fine" -> "fine", "c_mid" -> "mid", "c_coarse" -> "coarse")
          .map { case (c, nm) =>
            h.groupBy(col(c)).agg(count(lit(1)).as("sz"))
              .agg(
                count(lit(1)).as("n_components"),
                max(col("sz")).as("giant_n"),
                sum(col("sz")).as("tot"))
              .select(
                lit(nm).as("level"), col("n_components"), col("giant_n"),
                round(col("giant_n").cast("double") / col("tot"), 6)
                  .as("giant_frac"))
          }
          .reduce(_ unionAll _)
      },
      Some(s"""
        WITH RECURSIVE $graphCtes,
        $hierarchyCtes,
        ${Seq(1 -> "fine", 2 -> "mid", 3 -> "coarse").map { case (i, nm) => s"""
        pc$i AS (SELECT '$nm' AS level,
                        count(*)::BIGINT AS n_components,
                        max(sz)::BIGINT AS giant_n,
                        round(max(sz)::DOUBLE / sum(sz), 6) AS giant_frac
                 FROM (SELECT coalesce(h.rep, e.id) AS rep,
                              count(*)::BIGINT AS sz
                       FROM e LEFT JOIN hcp$i h ON h.id = e.id
                       GROUP BY 1))"""}.mkString(",")}
        SELECT * FROM pc1 UNION ALL SELECT * FROM pc2
        UNION ALL SELECT * FROM pc3
      """)
    ),
    // Adamic–Adar link prediction over the kNN graph — the missing-edge
    // audit (pairs the graph builder should arguably have connected:
    // graph-repair candidates, near-dup pairs kNN recall missed):
    // score(a,b) = Σ_{v ∈ N(a)∩N(b)} 1/ln(deg v) over non-adjacent
    // pairs, common neighbors above the hub cap excluded (≈0 signal,
    // C(deg,2) wedges — the dedup df-cap discipline). Per-term 1/ln
    // routes through DECIMAL(38,20); ranking compares unrounded doubles
    // under the total (score DESC, a, b) order; top-50 emitted.
    GQuery(
      "knn_graph_link_pred",
      (spark, dir) => {
        val ids = t(spark, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"))
        graft.operators.GraphAudit
          .adamicAdar(sharedGraph(spark, dir), ids, topN = 50)
          .select(
            col("a").as("vec_a"), col("b").as("vec_b"), col("n_common"),
            round(col("score"), 6).as("score"))
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        lpm AS MATERIALIZED (SELECT ub.id AS v, ub.nb, d.deg
               FROM ub JOIN dq d ON d.id = ub.id AND d.deg <= 10000),
        lpw AS (SELECT m1.v, m1.nb AS a, m2.nb AS b, m1.deg
                FROM lpm m1 JOIN lpm m2
                  ON m2.v = m1.v AND m1.nb < m2.nb),
        lpn AS (SELECT w.a, w.b, w.deg FROM lpw w
                LEFT JOIN uu ON uu.a = w.a AND uu.b = w.b
                WHERE uu.a IS NULL),
        lps AS (SELECT a, b, count(*)::BIGINT AS n_common,
                       sum((1.0 / ln(deg::DOUBLE))::DECIMAL(38,20))::DOUBLE
                         AS score
                FROM lpn GROUP BY a, b)
        SELECT a AS vec_a, b AS vec_b, n_common,
               round(score, 6) AS score
        FROM (SELECT *, row_number() OVER (ORDER BY score DESC, a, b) AS rn
              FROM lps)
        WHERE rn <= 50
      """)
    ),
    // Degree assortativity (Newman 2002): Pearson correlation of endpoint
    // degrees over the both-direction edge list — does the graph wire
    // hubs to hubs (r > 0, retrieval walks trapped in a hub core) or
    // hubs to leaves (r < 0)? Integer moment sums route through
    // DECIMAL(38,0); the covariance arithmetic then acts on identical
    // doubles. One aggregate over the edge list — no pairwise anything.
    GQuery(
      "knn_graph_assortativity",
      (spark, dir) => {
        val ids = t(spark, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"))
        graft.operators.GraphAudit
          .assortativity(sharedGraph(spark, dir), ids)
          .select(
            col("m_ends"),
            round(col("assortativity"), 6).as("assortativity"))
      },
      Some(s"""
        WITH $graphCtes,
        $auditCtes,
        pr AS (SELECT dx.deg AS dx, dy.deg AS dy
               FROM ub JOIN dq dx ON dx.id = ub.id
                       JOIN dq dy ON dy.id = ub.nb),
        mo AS (SELECT count(*) AS m,
                      sum(dx::DECIMAL(38,0))::DOUBLE AS sx,
                      sum(dy::DECIMAL(38,0))::DOUBLE AS sy,
                      sum((dx * dy)::DECIMAL(38,0))::DOUBLE AS sxy,
                      sum((dx * dx)::DECIMAL(38,0))::DOUBLE AS sxx,
                      sum((dy * dy)::DECIMAL(38,0))::DOUBLE AS syy
               FROM pr)
        SELECT m AS m_ends,
               round((sxy / m - (sx / m) * (sy / m))
                     / (sqrt(sxx / m - (sx / m) * (sx / m))
                        * sqrt(syy / m - (sy / m) * (sy / m))), 6)
                 AS assortativity
        FROM mo
      """)
    ),
    // Exact multi-source BFS distance distribution over the kNN graph
    // (every 100th node is a source — the declared audit slice): per
    // source, how many nodes sit at hop 0..4 — the effective-radius
    // census that tells a graph-serving stack how many hops a greedy
    // walk needs. Frontier-based (round t expands only nodes first
    // reached at t-1, anti-joined against visited), integer state end to
    // end, unrolled-SQL hash-checked.
    GQuery(
      "knn_graph_distances",
      (spark, dir) =>
        sharedBfs(spark, dir)
          .groupBy(
            col("s").as("src_id"), col("hop").cast("long").as("hop"))
          .agg(count(lit(1)).as("n_nodes")),
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        $bfsCtes
        SELECT s AS src_id, CAST(hop AS BIGINT) AS hop,
               count(*) AS n_nodes
        FROM b4 GROUP BY 1, 2
      """)
    ),
    // k-truss peeling trajectory (Cohen 2008) — edge cohesion next to
    // kcore's node view: each round drops edges with triangle support
    // < k-2 and the fixed 3-round schedule emits the (round, edges,
    // nodes) census — all integer, unrolled-SQL hash-checked. Support
    // is one wedge join per round (degree ~2k on a kNN graph).
    GQuery(
      "knn_graph_truss",
      (spark, dir) =>
        graft.operators.GraphAudit
          .trussTrajectory(sharedGraph(spark, dir), k = 4, rounds = 3),
      Some(s"""
        WITH $graphCtes,
        ts0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
                                    greatest(src, dst) AS b
               FROM g2 WHERE src != dst),
        ${(1 to 3).map(r => s"""
        tsym$r AS MATERIALIZED (SELECT a AS id, b AS nb FROM ts${r - 1}
               UNION ALL SELECT b, a FROM ts${r - 1}),
        tsup$r AS MATERIALIZED (
          SELECT t.a, t.b, count(*) AS sup
          FROM ts${r - 1} t
          JOIN tsym$r u1 ON u1.id = t.a
          JOIN tsym$r u2 ON u2.id = t.b AND u2.nb = u1.nb
          GROUP BY t.a, t.b),
        ts$r AS MATERIALIZED (
          SELECT t.a, t.b FROM ts${r - 1} t
          JOIN tsup$r s ON s.a = t.a AND s.b = t.b
          WHERE s.sup >= 2)""").mkString(",")}
        ${(0 to 3).map(r => s"""
        SELECT CAST($r AS BIGINT) AS rnd,
               (SELECT count(*) FROM ts$r) AS n_edges,
               (SELECT count(*) FROM (SELECT a AS id FROM ts$r
                                      UNION SELECT b FROM ts$r)) AS n_nodes""")
          .mkString(" UNION ALL ")}
      """)
    ),
    // Diameter lower bound by DOUBLE SWEEP (Magnien-Latapy-Habib 2009 —
    // the standard cheap diameter estimator): BFS from a deterministic
    // seed (the smallest node id), take the farthest node u (ties to
    // the smallest id), BFS again from u; ecc(u) within the horizon is
    // the classic lower bound that is near-exact in practice. Two
    // one-pass BFS walks + two 1-row argmax collects — the k-row
    // driver budget.
    GQuery(
      "knn_graph_diameter",
      (spark, dir) => {
        import spark.implicits._
        val g = sharedGraph(spark, dir)
        val s0 = t(spark, dir, "embeddings")
          .agg(min(col("vec_id"))).as[Long].head()
        val b1 = graft.operators.GraphAudit
          .multiSourceBfs(g, Seq(s0).toDF("vec_id"), rounds = 6)
        val org.apache.spark.sql.Row(u: Long, ecc0: Int) = b1
          .orderBy(col("hop").desc, col("id"))
          .select(col("id"), col("hop")).head()
        val b2 = graft.operators.GraphAudit
          .multiSourceBfs(g, Seq(u).toDF("vec_id"), rounds = 6)
        b2.agg(
          lit(s0).as("seed"),
          lit(ecc0.toLong).as("ecc_seed"),
          lit(u).as("far_node"),
          max(col("hop")).cast("long").as("diameter_lb"))
      },
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        st AS (SELECT min(vec_id) AS s0 FROM embeddings),
        dw0 AS MATERIALIZED (SELECT s0 AS id, 0 AS hop FROM st),
        ${(1 to 6).map(t => s"""
        dw$t AS MATERIALIZED (SELECT * FROM dw${t - 1}
              UNION ALL
              SELECT nf.dst AS id, $t AS hop FROM (
                SELECT DISTINCT w.dst FROM dw${t - 1} f
                JOIN wund w ON w.src = f.id
                WHERE f.hop = ${t - 1}
                  AND NOT EXISTS (SELECT 1 FROM dw${t - 1} b
                                  WHERE b.id = w.dst)) nf)""").mkString(",")},
        fu AS (SELECT id AS u, hop AS ecdw0 FROM dw6
               ORDER BY hop DESC, id LIMIT 1),
        dx0 AS MATERIALIZED (SELECT u AS id, 0 AS hop FROM fu),
        ${(1 to 6).map(t => s"""
        dx$t AS MATERIALIZED (SELECT * FROM dx${t - 1}
              UNION ALL
              SELECT nf.dst AS id, $t AS hop FROM (
                SELECT DISTINCT w.dst FROM dx${t - 1} f
                JOIN wund w ON w.src = f.id
                WHERE f.hop = ${t - 1}
                  AND NOT EXISTS (SELECT 1 FROM dx${t - 1} b
                                  WHERE b.id = w.dst)) nf)""").mkString(",")}
        SELECT st.s0 AS seed, CAST(fu.ecdw0 AS BIGINT) AS ecc_seed,
               fu.u AS far_node,
               (SELECT CAST(max(hop) AS BIGINT) FROM dx6) AS diameter_lb
        FROM st CROSS JOIN fu
      """)
    ),
    // Harmonic centrality (Boldi-Vigna 2014's recommended closeness
    // variant — defined even on disconnected graphs) of the BFS source
    // slice: Σ 1/hop over nodes reached within the horizon, off the
    // SHARED hop table (one extra aggregate, no second BFS). The 1/hop
    // terms are decimal-routed so the sum is partition-order-exact.
    GQuery(
      "knn_graph_closeness",
      (spark, dir) =>
        sharedBfs(spark, dir)
          .filter(col("hop") > 0)
          .groupBy(col("s").as("src_id"))
          .agg(
            count(lit(1)).as("n_reached"),
            round(
              sum((lit(1.0) / col("hop"))
                .cast(org.apache.spark.sql.types.DataTypes
                  .createDecimalType(38, 20)))
                .cast("double"),
              6).as("harmonic")),
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        $bfsCtes
        SELECT s AS src_id, count(*) AS n_reached,
               round(sum((1.0 / hop)::DECIMAL(38, 20))::DOUBLE, 6)
                 AS harmonic
        FROM b4 WHERE hop > 0 GROUP BY 1
      """)
    ),
    // Pivot-source betweenness (Brandes 2001 exact passes from the same
    // %100 source slice — the Brandes-Pich 2007 estimator): forward BFS
    // carries integer shortest-path counts σ, the backward dependency
    // recurrence δ(v) = Σ (σv/σw)(1+δw) is decimal-routed per term, so
    // the whole forward+backward trajectory hash-checks against an
    // unrolled SQL replay. Both passes run per source in one pass
    // against the graph broadcast in memory — O(|S|·m) total, capped at
    // LocalGraph.MaxAuditNodes = 200k nodes (full Brandes' O(nm) never
    // runs); the per-id decimal sum stays relational.
    GQuery(
      "knn_graph_betweenness",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
        val sources = emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id"))
        graft.operators.GraphAudit
          .betweennessBrandes(
            sharedGraph(spark, dir), sources,
            emb.select(col("vec_id").as("id")), rounds = 4)
          .select(col("id"), round(col("bw"), 6).as("bw"))
      },
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        s0 AS MATERIALIZED (SELECT vec_id AS s, vec_id AS id,
                                   1::BIGINT AS sig
              FROM embeddings WHERE vec_id % 100 = 0),
        sv0 AS MATERIALIZED (SELECT s, id FROM s0),
        sl0 AS MATERIALIZED (SELECT s, id, sig FROM s0),
        ${(1 to 4).map(t => s"""
        sl$t AS MATERIALIZED (
          SELECT e.s, e.id, sum(e.sig) AS sig FROM (
            SELECT f.s, u.dst AS id, f.sig
            FROM sl${t - 1} f JOIN wund u ON u.src = f.id) e
          WHERE NOT EXISTS (SELECT 1 FROM sv${t - 1} b
                            WHERE b.s = e.s AND b.id = e.id)
          GROUP BY e.s, e.id),
        sv$t AS MATERIALIZED (SELECT * FROM sv${t - 1}
              UNION ALL SELECT s, id FROM sl$t),
        sp$t AS MATERIALIZED (
          SELECT a.s, a.id AS v, a.sig AS sv, b.id AS w, b.sig AS sw
          FROM sl${t - 1} a JOIN wund u ON u.src = a.id
          JOIN sl$t b ON b.s = a.s AND b.id = u.dst)""").mkString(",")},
        sd4 AS MATERIALIZED (SELECT s, id, 0.0::DOUBLE AS dl FROM sl4),
        ${(4 to 1 by -1).map(t => s"""
        sd${t - 1} AS MATERIALIZED (
          SELECT l.s, l.id, coalesce(c.acc, 0.0::DOUBLE) AS dl
          FROM sl${t - 1} l LEFT JOIN (
            SELECT p.s, p.v AS id,
                   sum(((p.sv::DOUBLE / p.sw) * (1.0 + d.dl))
                       ::DECIMAL(38, 20))::DOUBLE AS acc
            FROM sp$t p JOIN sd$t d ON d.s = p.s AND d.id = p.w
            GROUP BY p.s, p.v) c ON c.s = l.s AND c.id = l.id)""")
          .mkString(",")}
        SELECT e.vec_id AS id, round(coalesce(b.bw, 0.0::DOUBLE), 6) AS bw
        FROM embeddings e LEFT JOIN (
          SELECT id, sum(dl::DECIMAL(38, 20))::DOUBLE AS bw FROM (
            ${(0 to 4).map(t => s"SELECT s, id, dl FROM sd$t")
              .mkString(" UNION ALL ")})
          WHERE id <> s GROUP BY id) b ON b.id = e.vec_id
      """)
    ),
    // DeepWalk (Perozzi et al. 2014) walk-corpus generation over the kNN
    // graph: every 5th node starts one 5-step first-order uniform walk;
    // each step's neighbor pick is the md5 coin % degree — INTEGER
    // arithmetic, no RNG — so the full trajectory is hash-checked against
    // an unrolled per-step SQL replay. Scale shape: one ranked-adjacency
    // window, then one frontier⋈adjacency equi-join per step (the
    // PageRank round pattern); frontier stays |walks| rows throughout.
    GQuery(
      "knn_graph_walks",
      (spark, dir) =>
        sharedWalks(spark, dir)
          .select(
            col("walk_id"), col("step").cast("long").as("step"), col("id")),
      Some(s"""
        WITH $graphCtes,
        $walkCtes
        SELECT walk_id, step, id FROM wt
      """)
    ),
    // node2vec (Grover & Leskovec 2016) second-order biased walks over
    // the same graph: transition weight 1 for returning to prev, 2 for a
    // neighbor-of-prev (BFS-ish), 4 otherwise (DFS-ish) — the integer
    // spelling of p=2, q=1/2 — picked by coin % Σw landing in a
    // neighbor's cumulative-weight slot. Step 1 is the uniform
    // first-order step. Exact integer arithmetic end to end; each step
    // is one adjacency join + one (prev,dst) membership probe + one
    // per-walk window — all keyed joins, nothing driver-side.
    GQuery(
      "knn_graph_node2vec",
      (spark, dir) => {
        val starts = t(spark, dir, "embeddings")
          .filter(col("vec_id") % 5 === 0).select(col("vec_id"))
        graft.operators.RandomWalk
          .node2vecWalks(
            sharedGraph(spark, dir), starts, steps = 4,
            wBack = 1, wAdj = 2, wFar = 4, salt = "v1")
          .select(
            col("walk_id"), col("step").cast("long").as("step"), col("id"))
      },
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        n1 AS (SELECT f.walk_id, f.cur AS prev, a.dst AS cur
               FROM w0 f JOIN wadj a ON a.src = f.cur
                AND a.rn = ('0x' || substr(md5('n2v:v1:' || f.walk_id::VARCHAR || ':1'), 1, 14))::BIGINT % a.deg + 1),
        ${(2 to 4).map(t => s"""
        nc$t AS (SELECT f.walk_id, f.prev, f.cur, a.dst,
                       CASE WHEN a.dst = f.prev THEN 1
                            WHEN pe.src IS NOT NULL THEN 2
                            ELSE 4 END AS w
                FROM n${t - 1} f
                JOIN wadj a ON a.src = f.cur
                LEFT JOIN wund pe ON pe.src = f.prev AND pe.dst = a.dst),
        nw$t AS (SELECT *,
                       sum(w) OVER (PARTITION BY walk_id ORDER BY dst) AS cum,
                       sum(w) OVER (PARTITION BY walk_id) AS tot,
                       ('0x' || substr(md5('n2v:v1:' || walk_id::VARCHAR || ':$t'), 1, 14))::BIGINT AS cn
                FROM nc$t),
        n$t AS (SELECT walk_id, cur AS prev, dst AS cur FROM nw$t
                WHERE cum - w <= cn % tot AND cn % tot < cum)""").mkString(",")}
        SELECT walk_id, CAST(0 AS BIGINT) AS step, walk_id AS id FROM w0
        ${(1 to 4).map(t =>
          s"UNION ALL SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS id FROM n$t")
          .mkString(" ")}
      """)
    ),
    // Distance-weighted walks: transition probability ∝ round(10⁶ /
    // (1 + dist)) per edge — the similarity-biased corpus (closer kNN
    // neighbors proportionally likelier), completing the walk family
    // (uniform / 2nd-order-biased / weighted). The weight table rides
    // the same exact dist the g2 oracle replays, so the integer
    // cumulative-weight trajectory hash-checks end to end.
    GQuery(
      "knn_graph_walks_weighted",
      (spark, dir) => {
        val starts = t(spark, dir, "embeddings")
          .filter(col("vec_id") % 5 === 0).select(col("vec_id"))
        graft.operators.RandomWalk
          .weightedWalks(sharedGraph(spark, dir), starts, steps = 5,
            salt = "v1")
          .select(
            col("walk_id"), col("step").cast("long").as("step"), col("id"))
      },
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        wadjw AS MATERIALIZED (
          SELECT src, dst, round(1000000.0 / (1.0 + dist))::BIGINT AS w
          FROM (SELECT DISTINCT src, dst, dist FROM (
                  SELECT src, dst, dist FROM g2
                  UNION ALL SELECT dst, src, dist FROM g2))),
        x0 AS (SELECT walk_id, cur FROM w0),
        ${(1 to 5).map(t => s"""
        x$t AS (SELECT walk_id, dst AS cur FROM (
               SELECT f.walk_id, a.dst, a.w,
                      sum(a.w) OVER (PARTITION BY f.walk_id
                                     ORDER BY a.dst) AS cum,
                      sum(a.w) OVER (PARTITION BY f.walk_id) AS tot,
                      ('0x' || substr(md5('wwk:v1:' || f.walk_id::VARCHAR || ':$t'), 1, 14))::BIGINT AS cn
               FROM x${t - 1} f JOIN wadjw a ON a.src = f.cur)
             WHERE cum - w <= cn % tot AND cn % tot < cum)""").mkString(",")}
        ${(0 to 5).map(t =>
          s"SELECT walk_id, CAST($t AS BIGINT) AS step, cur AS id FROM x$t")
          .mkString(" UNION ALL ")}
      """)
    ),
    // Skip-gram training rows (Mikolov et al. 2013) from the shared
    // DeepWalk table: positives = (center, context) within ±2 on the
    // same walk; 2 uniform md5-drawn corpus negatives per position
    // (context = rank→id lookup of coin % N, label 0). The self-join is
    // keyed on walk_id (≤ 36 pairs per walk); negatives are map-side
    // draws joined to the rank table — the embedding-training row
    // stream, fully hash-checked.
    GQuery(
      "pipeline_skipgram",
      (spark, dir) =>
        graft.operators.RandomWalk
          .skipGramPairs(
            sharedWalks(spark, dir), window = 2, negatives = 2,
            t(spark, dir, "embeddings").select(col("vec_id")), salt = "v1")
          .select(
            col("center"), col("context"),
            col("label").cast("long").as("label"),
            col("src_walk"), col("src_step"), col("off")),
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        uni AS (SELECT vec_id AS nid,
                       row_number() OVER (ORDER BY vec_id) - 1 AS r
                FROM embeddings),
        un AS (SELECT count(*) AS n FROM embeddings)
        SELECT a.id AS center, b.id AS context, CAST(1 AS BIGINT) AS label,
               a.walk_id AS src_walk, a.step AS src_step,
               b.step - a.step AS off
        FROM wt a JOIN wt b ON b.walk_id = a.walk_id
         AND abs(b.step - a.step) <= 2 AND b.step <> a.step
        UNION ALL
        SELECT a.id AS center, u.nid AS context, CAST(0 AS BIGINT) AS label,
               a.walk_id AS src_walk, a.step AS src_step, -j.j AS off
        FROM wt a CROSS JOIN un
        CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS j) j
        JOIN uni u ON u.r =
          ('0x' || substr(md5('neg:v1:' || a.walk_id::VARCHAR || ':' || a.step::VARCHAR || ':' || j.j::VARCHAR), 1, 14))::BIGINT % un.n
      """)
    ),
    // The walk-LENGTH operating curve (the knob-curve discipline, a
    // seventh time): coverage of the node universe vs walk length
    // L ∈ {2, 5, 8}. The md5 coin keys on (walk, step) only, so an
    // 8-step walk table NESTS every shorter one — ONE walk computation,
    // three prefix censuses (no per-L re-walk); the oracle extends the
    // shared 5-step replay chain by three more steps and reads the
    // same prefixes.
    GQuery(
      "eval_walk_length_curve",
      (spark, dir) => {
        import spark.implicits._
        val emb = t(spark, dir, "embeddings")
        val n = emb.count()
        val starts = emb.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
        val walks8 = graft.operators.RandomWalk
          .uniformWalks(sharedGraph(spark, dir), starts, steps = 8,
            salt = "v1")
          .localCheckpoint()
        Seq(2, 5, 8)
          .map { l =>
            walks8.filter(col("step") <= l)
              .select(col("id")).distinct()
              .agg(count(lit(1)).as("n_visited"))
              .select(
                lit(l.toLong).as("l"), col("n_visited"),
                round(col("n_visited").cast("double") / lit(n), 6)
                  .as("coverage"))
          }
          .reduce(_.unionByName(_))
      },
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        ${(6 to 8).map(t => s"""
        y$t AS (SELECT f.walk_id, a.dst AS cur
               FROM ${if (t == 6) "w5" else s"y${t - 1}"} f
               JOIN wadj a ON a.src = f.cur
                AND a.rn = ('0x' || substr(md5('wk:v1:' || f.walk_id::VARCHAR || ':$t'), 1, 14))::BIGINT % a.deg + 1)""").mkString(",")},
        un AS (SELECT count(*) AS n FROM embeddings),
        v8 AS (SELECT id FROM wt
               ${(6 to 8).map(t => s"UNION ALL SELECT cur AS id FROM y$t")
                 .mkString(" ")})
        ${Seq(2, 5, 8).map { l =>
          val src = if (l == 8) "v8" else s"(SELECT id FROM wt WHERE step <= $l)"
          s"""SELECT CAST($l AS BIGINT) AS l,
               count(DISTINCT id) AS n_visited,
               round(count(DISTINCT id)::DOUBLE / un.n, 6) AS coverage
             FROM $src CROSS JOIN un GROUP BY un.n"""
        }.mkString(" UNION ALL ")}
      """)
    ),
    // Walk-corpus coverage audit (the eval-tier discipline from
    // eval_selection_coverage): visit-count histogram over the node
    // universe — how much of the graph the DeepWalk corpus actually
    // touches (visits = 0 rows are the uncovered mass a skip-gram
    // training run would never see). One count aggregate over the
    // shared walk table + a left join against the universe.
    GQuery(
      "eval_walk_coverage",
      (spark, dir) => {
        val visits = sharedWalks(spark, dir)
          .groupBy(col("id")).agg(count(lit(1)).as("visits"))
        t(spark, dir, "embeddings")
          .select(col("vec_id").cast("long").as("id"))
          .join(visits, Seq("id"), "left")
          .select(coalesce(col("visits"), lit(0L)).as("visits"))
          .groupBy(col("visits")).agg(count(lit(1)).as("n_nodes"))
      },
      Some(s"""
        WITH $graphCtes,
        $walkCtes,
        vis AS (SELECT id, count(*) AS visits FROM wt GROUP BY 1)
        SELECT coalesce(v.visits, 0) AS visits, count(*) AS n_nodes
        FROM embeddings e LEFT JOIN vis v ON v.id = e.vec_id
        GROUP BY 1
      """)
    )
  )

  /** Power-iteration round count for embed_pca — small and FIXED: the
    * output is defined as the R-round iterate, not a convergence limit.
    */
  private def PCAR = 48

  /** Facility-location greedy: k exemplar rounds, pool = vec_id % 10. */
  private def FLK = 6

  /** Full SQL replay of FacilityLocation.greedy(k, poolMod=10): sims
    * computed once into a materialized N×m table, then k unrolled rounds
    * of (decimal marginal-gain aggregate → argmax pick → running-max
    * update), picked candidates excluded from later rounds.
    */
  private def facilityOracleSql(k: Int): String =
    s"""
      WITH ${facilityCtes(k)}
      SELECT rnd, cid AS center_id, round(gain, 6) AS gain
      FROM (${(1 to k).map(r => s"SELECT * FROM pick$r").mkString(" UNION ALL ")})
    """

  /** The shared WITH-body of the facility greedy replay: sims table `s`,
    * round CTEs, picks1..k. Leaves e/s/picks$k in scope.
    */
  private def facilityCtes(k: Int): String = {
    def simExpr =
      s"(1.0 + ${sqlDot("e.ev", "p.cv")} / (sqrt(${sqlDot("e.ev", "e.ev")}) * sqrt(${sqlDot("p.cv", "p.cv")}))) / 2.0"
    val rounds = (1 to k).map { r =>
      val notPicked =
        if (r == 1) ""
        else s"WHERE s.cid NOT IN (SELECT cid FROM picks${r - 1})"
      val curUpd =
        if (r == k) ""
        else s""",
        cur$r AS MATERIALIZED (
          SELECT c.xid, greatest(c.cur, s.sim) AS cur
          FROM cur${r - 1} c JOIN s ON s.xid = c.xid
                             AND s.cid = (SELECT cid FROM pick$r))"""
      val picksUpd =
        if (r == 1) s"picks1 AS (SELECT cid FROM pick1)"
        else s"""picks$r AS (SELECT cid FROM picks${r - 1}
                             UNION ALL SELECT cid FROM pick$r)"""
      s"""
        g$r AS MATERIALIZED (
          SELECT s.cid,
                 sum((greatest(s.sim, c.cur) - c.cur)::DECIMAL(38,30))::DOUBLE
                   AS gain
          FROM s JOIN cur${r - 1} c USING (xid)
          $notPicked
          GROUP BY s.cid),
        pick$r AS MATERIALIZED (
          SELECT $r::BIGINT AS rnd, cid, gain FROM g$r
          ORDER BY gain DESC, cid LIMIT 1),
        $picksUpd$curUpd"""
    }.mkString(",")
    s"""
      e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS ev FROM embeddings),
      p AS (SELECT id AS cid, ev AS cv FROM e WHERE id % 10 = 0 AND id < 640),
      s AS MATERIALIZED (
        SELECT e.id AS xid, p.cid, $simExpr AS sim
        FROM e CROSS JOIN p),
      cur0 AS (SELECT id AS xid, 0.0::DOUBLE AS cur FROM e),
      $rounds
    """
  }

  /** Full SQL replay of Pca.fit(d=64, p=2, rounds=r) + projection. */
  private def pcaOracleSql(r: Int): String =
    s"""
      WITH ${pcaCtes(r)}
      SELECT e.vec_id,
        round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.ev[i] - m.ml[i]) * a.vl[i])), 6) AS pc1,
        round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.ev[i] - m.ml[i]) * b.vl[i])), 6) AS pc2,
        round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.ev[i] - m.ml[i]) * a.vl[i]))
              / sqrt((SELECT lam FROM lam1)), 6) AS w1,
        round(list_sum(list_transform(generate_series(1, 64),
                i -> (e.ev[i] - m.ml[i]) * b.vl[i]))
              / sqrt((SELECT lam FROM lam2)), 6) AS w2
      FROM e CROSS JOIN mul m CROSS JOIN v1_$r a CROSS JOIN v2_$r b
    """

  /** The shared WITH-body: moments, covariance, both power-iterated
    * components and Rayleigh quotients. Leaves e/mul/v1_r/v2_r/lam1/lam2
    * in scope for the query-specific final SELECT.
    */
  private def pcaCtes(r: Int): String =
    pcaReplayCtes(r, 64,
      "SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings")

  /** The [[pcaCtes]] body over an arbitrary (vec_id, ev DOUBLE[]) source
    * CTE and dimension — shared with text_lsa's count-feature replay
    * (TextQueries). Same arithmetic throughout: DECIMAL(38,30) means,
    * DECIMAL(18,14) second-moment cells (inputs must be ≲ 1-scaled, as
    * both the embeddings and any l2-normalized feature vector are),
    * `r` power rounds per component with greedy deflation.
    */
  private[queries] def pcaReplayCtes(r: Int, d: Int, eSql: String): String = {
    // one power-iteration round: w = C·v (left fold per row), v = w/|w|
    def rounds(comp: Int, cmat: String): String =
      (1 to r).map { s =>
        s"""
        w${comp}_$s AS MATERIALIZED (
          SELECT c.i,
                 list_sum(list_transform(generate_series(1, $d),
                          j -> c.cl[j] * v.vl[j])) AS wv
          FROM $cmat c CROSS JOIN v${comp}_${s - 1} v),
        v${comp}_$s AS MATERIALIZED (
          SELECT list_transform(wl, x ->
                   x / sqrt(list_sum(list_transform(wl, y -> y*y)))) AS vl
          FROM (SELECT list(wv ORDER BY i) AS wl FROM w${comp}_$s))"""
      }.mkString(",")
    // Rayleigh quotient λ = vᵀ(C·v), both left folds
    def lam(comp: Int, cmat: String): String =
      s"""
        cv$comp AS MATERIALIZED (
          SELECT c.i,
                 list_sum(list_transform(generate_series(1, $d),
                          j -> c.cl[j] * v.vl[j])) AS wv
          FROM $cmat c CROSS JOIN v${comp}_$r v),
        lam$comp AS MATERIALIZED (
          SELECT list_sum(list_transform(generate_series(1, $d),
                   i -> v.vl[i] * w.cvl[i])) AS lam
          FROM v${comp}_$r v
          CROSS JOIN (SELECT list(wv ORDER BY i) AS cvl FROM cv$comp) w)"""
    s"""
      e AS ($eSql),
      gs AS (SELECT unnest(generate_series(1, $d)) AS i),
      nn AS (SELECT count(*) AS n FROM e),
      mu AS MATERIALIZED (
        SELECT gs.i,
               sum((e.ev[gs.i])::DECIMAL(38,30))::DOUBLE / (SELECT n FROM nn) AS m
        FROM e CROSS JOIN gs GROUP BY gs.i),
      mul AS (SELECT list(m ORDER BY i) AS ml FROM mu),
      xx AS MATERIALIZED (
        SELECT p.i, p.j,
               sum((e.ev[p.i] * e.ev[p.j])::DECIMAL(18,14))::DOUBLE
                 / (SELECT n FROM nn) AS ex
        FROM e CROSS JOIN (SELECT a.i, b.i AS j FROM gs a, gs b
                           WHERE b.i >= a.i) p
        GROUP BY p.i, p.j),
      cov AS MATERIALIZED (
        SELECT x.i, x.j, x.ex - mi.m * mj.m AS cv
        FROM (SELECT i, j, ex FROM xx
              UNION ALL
              SELECT j AS i, i AS j, ex FROM xx WHERE j > i) x
        JOIN mu mi ON mi.i = x.i JOIN mu mj ON mj.i = x.j),
      cmat AS MATERIALIZED (SELECT i, list(cv ORDER BY j) AS cl FROM cov GROUP BY i),
      i01 AS (SELECT i FROM cov WHERE i = j ORDER BY cv DESC, i LIMIT 1),
      v1_0 AS (SELECT list_transform(generate_series(1, $d),
                 k -> CASE WHEN k = z.i
                           THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS vl
               FROM i01 z),
      ${rounds(1, "cmat")},
      ${lam(1, "cmat")},
      cov2 AS MATERIALIZED (
        SELECT c.i, c.j,
               c.cv - (SELECT lam FROM lam1) * v.vl[c.i] * v.vl[c.j] AS cv
        FROM cov c CROSS JOIN v1_$r v),
      cmat2 AS MATERIALIZED (SELECT i, list(cv ORDER BY j) AS cl FROM cov2 GROUP BY i),
      i02 AS (SELECT i FROM cov2 WHERE i = j ORDER BY cv DESC, i LIMIT 1),
      v2_0 AS (SELECT list_transform(generate_series(1, $d),
                 k -> CASE WHEN k = z.i
                           THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS vl
               FROM i02 z),
      ${rounds(2, "cmat2")},
      ${lam(2, "cmat2")}
    """
  }
}
