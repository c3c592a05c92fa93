package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorFunctions._
import graft.operators.{BruteForceKNN, IvfAdc, IvfIndex, PQModel, RecallEval}
import Q._

/** IVF approximate-NN query surface under fixed data-derived coarse
  * centroids (embeddings vec_id < 8) — deterministic, so the full
  * build+probe+scan pipeline is DuckDB-oracle-checked. nprobe=2 of 8
  * cells ~ 4x scan reduction; the same operator takes KMeans-trained
  * centroids in production.
  */
object IvfQueries {

  private val NCELLS = 8
  private val NPROBE = 2
  private val K = 5
  private val KSHORT = 3 * K

  /** Data-derived fixed coarse centroids (embeddings vec_id < NCELLS). */
  private def fixedCentroids(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): Array[Array[Double]] =
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < NCELLS)
      .orderBy(col("vec_id"))
      .select(toDouble(col("embedding")))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** A fresh index path inside a temp dir that is deleted when the JVM
    * exits.
    */
  private def tempIndexPath(prefix: String): String =
    org.apache.spark.GraftSparkInternals.createTempDir(prefix).getPath + "/index"

  /** One cell-partitioned index build per sf dir (immutable artifact —
    * reuse across query invocations is free; same pattern as
    * [[HnswQueries]]'s shared build).
    */
  private def sharedIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cents: Array[Array[Double]]
  ): String =
    Artifacts.get("ivf_index", dir) {
      val emb = t(spark, dir, "embeddings")
        .select(
          col("vec_id"), toDouble(col("embedding")).as("vec"), col("label"))
      val path = tempIndexPath("graft-ivf")
      IvfIndex.build(
        spark, emb, "vec_id", "vec", cents, path, extraCols = Seq("label"))
      path
    }

  /** Build a MAINTAINED index at a fresh path: built from 4/5 of the
    * corpus, the remaining fifth upserted (appended at gen 1 + tombstoned
    * at gen 1), then every vec_id % 7 == 0 deleted (tombstoned at gen 2).
    * The live corpus is exactly {vec_id % 7 != 0} — deterministic, so the
    * full build/append/mask/search path is oracle-checked.
    */
  private def buildMaintained(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cents: Array[Array[Double]],
      prefix: String
  ): String = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val path = tempIndexPath(prefix)
    IvfIndex.build(
      spark, emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "vec", cents, path)
    IvfIndex.upsert(
      spark, path, emb.filter(col("vec_id") % 5 === 0), "vec_id", "vec", cents)
    IvfIndex.delete(
      spark, path, emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
    path
  }

  /** The maintained index per sf dir ([[buildMaintained]]). */
  private def maintainedIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cents: Array[Array[Double]]
  ): String =
    Artifacts.get("ivf_maintained", dir)(
      buildMaintained(spark, dir, cents, "graft-ivf-maint"))

  /** ann_full's maintained SQ-coded artifact per sf dir: TRAIN the codec
    * on the standing 4/5 corpus (frozen before the wave — the production
    * ordering) → ENCODE → BUILD cell-partitioned with (code, label)
    * riding the index → UPSERT the 1/5 wave under the frozen codec
    * (gen-1 append) → DELETE vec_id % 7 == 0 (gen-2 tombstones; live =
    * % 7 != 0 exactly). Memoized like maintainedIndex, so the
    * benched query measures SERVING over the materialized stages — the
    * declared hnsw/ivf family split.
    */
  private def annFullArtifact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      emb: org.apache.spark.sql.DataFrame,
      cents: Array[Array[Double]]
  ): (graft.operators.SQModel, String) =
    Artifacts.get("ann_full", dir) {
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val wave = emb.filter(col("vec_id") % 5 === 0)
      val model = graft.operators.ScalarQuantizer.train(base, "vec")
      def coded(df: org.apache.spark.sql.DataFrame) =
        df.join(
          graft.operators.ScalarQuantizer
            .encodePartitioned(df, "vec_id", "vec", model),
          "vec_id")
      val path = tempIndexPath("graft-ann-full")
      IvfIndex.build(spark, coded(base), "vec_id", "vec", cents, path,
        extraCols = Seq("code", "label"))
      IvfIndex.upsert(spark, path, coded(wave), "vec_id", "vec", cents,
        extraCols = Seq("code", "label"))
      IvfIndex.delete(spark, path,
        emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")))
      (model, path)
    }

  /** ivf_split_search's rebalanced artifact per sf dir: build under the
    * fixed centroids, find the HOTTEST cell (max members, tie → smallest
    * cell id), split it into two sub-cells whose centroids are the
    * cell's two smallest-id members (deterministic and data-derived,
    * like fixedCentroids), retire the old directory. Returns the KEYED
    * centroid table [[IvfIndex.splitCell]] hands back (old cells minus
    * the split one, plus cells NCELLS+i) and the index path. Memoized —
    * the benched query measures probe+search over the rebalanced index.
    */
  private def splitIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cents: Array[Array[Double]]
  ): (org.apache.spark.sql.DataFrame, String) =
    Artifacts.get("ivf_split", dir) {
      import spark.implicits._
      val emb = t(spark, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
      val path = tempIndexPath("graft-ivf-split")
      IvfIndex.build(spark, emb, "vec_id", "vec", cents, path)
      val hot = IvfIndex.load(spark, path)
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("cell"))
        .limit(1).head().getInt(0)
      val subs = IvfIndex.load(spark, path)
        .filter(col("cell") === hot)
        .orderBy(col("id")).limit(2)
        .select(col("vec")).collect()
        .map(_.getSeq[Double](0).toArray)
      val centsDf = cents.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cvec")
      val newCents = IvfIndex
        .splitCell(spark, path, centsDf, hot, subs, startCell = NCELLS)
        .localCheckpoint()
      (newCents, path)
    }

  /** ivf_knn_compact's artifact per sf dir: the SAME maintenance
    * sequence as [[maintainedIndex]] followed by a MAJOR COMPACTION —
    * live view rewritten at gen 0, log dropped. Its query shares
    * ivf_knn_upsert's oracle verbatim: compaction is result-invariant by
    * contract, and the oracle (not just a spec) now proves it.
    */
  private def compactedIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      cents: Array[Array[Double]]
  ): String =
    Artifacts.get("ivf_compacted", dir) {
      val path = buildMaintained(spark, dir, cents, "graft-ivf-compact")
      IvfIndex.compact(spark, path)
      path
    }

  /** The probed-search oracle body shared by the round-12 maintenance
    * rows (`liveFilter` = the live-corpus predicate on the candidate
    * side; "TRUE" for a never-deleted index).
    */
  private def probedSearchSql(liveFilter: String): String = s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id
               WHERE $liveFilter),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM cd)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """

  val all: Seq[GQuery] = Seq(
    GQuery(
      "ivf_knn",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = sharedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .searchPartitioned(spark, index, q, "query_id", "qv", cents, K, NPROBE)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM cd)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // FILTERED IVF: a metadata predicate (label <= 4) composed with the
    // probed search — the cell filter prunes partition directories, the
    // attribute predicate pushes to parquet row groups, so BOTH
    // reductions happen at the scan (the production filtered-ANN shape).
    GQuery(
      "ivf_knn_filtered",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = sharedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .searchPartitionedWith(
            spark, index,
            IvfIndex.probeCells(spark, q, "query_id", "qv", cents, NPROBE),
            "query_id", "qv", K,
            baseFilter = Some(col("label") <= 4))
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev, label
              FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id
               WHERE e.label <= 4),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM cd)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // INDEX MAINTENANCE: search over an index that was built, upserted
    // (cell-partitioned append at gen 1), and deleted from (tombstones at
    // gen 2). The tombstone mask joins the maintenance-sized log against
    // the ALREADY-PRUNED candidates only; the live corpus is exactly
    // {vec_id % 7 != 0}, which the oracle mirrors with a WHERE clause.
    GQuery(
      "ivf_knn_upsert",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = maintainedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .searchPartitioned(spark, index, q, "query_id", "qv", cents, K, NPROBE)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id
               WHERE a.vec_id % 7 <> 0),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM cd)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // ACCURACY EVALUATION as a first-class query: per-query Recall@K of
    // the nprobe=2 probed search against the exact brute-force top-K.
    // Under fixed centroids BOTH rankings are deterministic, so unlike
    // hnsw_recall this one is hash-checked — the evaluation harness
    // itself (join-based hit counting, zero-hit rows kept) is under the
    // oracle, not just the index.
    GQuery(
      "ivf_recall",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = sharedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val approx = IvfIndex
          .searchPartitioned(spark, index, q, "query_id", "qv", cents, K, NPROBE)
        val truth = BruteForceKNN
          .knn(q, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), K)
          .select(col("query_id"), col("neighbor_id"))
        RecallEval.recallAtK(approx, truth, K)
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id),
        ivfr AS (SELECT query_id, neighbor_id FROM (
                   SELECT query_id, neighbor_id,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, neighbor_id) AS rnk
                   FROM cd) WHERE rnk <= $K),
        ex AS (SELECT query_id, neighbor_id FROM (
                 SELECT q.query_id, e.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY ${sqlL2Sq("q.qv", "e.ev")}, e.vec_id) AS rn
                 FROM q CROSS JOIN e) WHERE rn <= $K),
        hits AS (SELECT query_id, count(*)::BIGINT AS c
                 FROM ivfr JOIN ex USING (query_id, neighbor_id)
                 GROUP BY query_id)
        SELECT query_id, (coalesce(c, 0) / $K.0) AS recall
        FROM (SELECT DISTINCT query_id FROM ivfr)
        LEFT JOIN hits USING (query_id)
      """)
    ),
    // THE TUNING CURVE: mean Recall@K at nprobe = 1,2,4,8 in ONE plan —
    // probe ranks computed once, each setting a values-table join
    // (rn <= nprobe); at nprobe = nCells the curve must hit 1.0 (exact).
    // The operational read: how many cells to probe for a recall target.
    GQuery(
      "ivf_recall_curve",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        RecallEval.ivfNprobeCurve(
          IvfIndex.assign(spark, emb, "vec_id", "vec", cents),
          q, "query_id", "qv", cents, Seq(1, 2, 4, 8), K)
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        ranked AS (SELECT query_id, ck AS cell,
                          row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist, ck) AS rn
                   FROM pd),
        np AS (SELECT unnest([1, 2, 4, 8])::BIGINT AS nprobe),
        probes AS (SELECT np.nprobe, r.query_id, r.cell
                   FROM ranked r CROSS JOIN np WHERE r.rn <= np.nprobe),
        cd AS (SELECT p.nprobe, q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN e ON e.vec_id = a.vec_id),
        ar AS (SELECT nprobe, query_id, neighbor_id FROM (
                 SELECT nprobe, query_id, neighbor_id,
                        row_number() OVER (PARTITION BY nprobe, query_id
                                           ORDER BY dist, neighbor_id) AS rnk
                 FROM cd) WHERE rnk <= $K),
        ex AS (SELECT query_id, neighbor_id FROM (
                 SELECT q.query_id, e.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY ${sqlL2Sq("q.qv", "e.ev")}, e.vec_id) AS rn
                 FROM q CROSS JOIN e) WHERE rn <= $K),
        hits AS (SELECT nprobe, query_id, count(*)::BIGINT AS c
                 FROM ar JOIN ex USING (query_id, neighbor_id)
                 GROUP BY nprobe, query_id),
        per AS (SELECT d.nprobe, (coalesce(c, 0) / $K.0) AS recall
                FROM (SELECT DISTINCT nprobe, query_id FROM ar) d
                LEFT JOIN hits ON hits.nprobe = d.nprobe
                             AND hits.query_id = d.query_id)
        SELECT nprobe, count(*)::BIGINT AS n_queries,
               ${sqlAvg("recall")} AS mean_recall
        FROM per GROUP BY nprobe
      """)
    ),
    // EXACT range search THROUGH the IVF index: triangle-inequality cell
    // pruning (skip cells with ||q−c|| > r + rmax(cell)) + exact verify,
    // so the result is identical to the brute-force scan and the oracle
    // is the plain cross-join range SQL — no IVF mirror needed. The index
    // buys the scan cut; correctness never depends on the probe choice.
    GQuery(
      "ivf_range",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = sharedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .rangeSearchPartitioned(
            spark, index, q, "query_id", "qv", cents, 1.25)
          .select(
            col("query_id"), col("neighbor_id"),
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
    // EXACT top-k THROUGH the IVF index — the kNN twin of ivf_range:
    // phase 1 probes nprobe cells for a kth-distance upper bound, phase 2
    // scans only the cells the triangle inequality cannot rule out, then
    // re-ranks exactly. Bit-identical to brute force (the oracle is the
    // plain cross-join kNN SQL — no IVF mirror needed); the index buys a
    // scan cut that grows with cluster tightness, and on data where the
    // bound admits everything the query degrades to a verified full scan,
    // never to a wrong answer.
    GQuery(
      "ivf_exact_knn",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = sharedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .exactSearchPartitioned(
            spark, index, q, "query_id", "qv", cents, K, NPROBE)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
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
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // IVF index introspection: per-cell occupancy and mean quantization
    // distortion (L2² to the assigned centroid). Cell skew is THE
    // operational concern for IVF at scale — a hot cell caps probe
    // pruning — so the index exposes it as a first-class query, like
    // hnsw_graph_stats for the graph index.
    GQuery(
      "ivf_cell_stats",
      (spark, dir) => {
        import spark.implicits._
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val centsDf = cents.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "cvec")
        IvfIndex.assign(spark, emb, "vec_id", "vec", cents)
          .join(broadcast(centsDf), "cell")
          .groupBy(col("cell"))
          .agg(
            count(lit(1)).as("n_vectors"),
            round(davg(graft.functions.VectorExpressions
              .l2SqFast(col("vec"), col("cvec"))), 6).as("avg_distortion")
          )
          .select(
            col("cell").cast("long").as("cell"),
            col("n_vectors"), col("avg_distortion")
          )
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell, dist FROM (
                       SELECT vec_id, ck, dist,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1)
        SELECT cell::BIGINT AS cell, count(*)::BIGINT AS n_vectors,
               round(${sqlAvg("dist")}, 6) AS avg_distortion
        FROM assigned GROUP BY cell
      """)
    ),
    // IVFADC (Jégou et al. 2011 §IV): coarse cells + PQ codes of the
    // RESIDUAL vector-minus-centroid, searched via one per-(query, cell)
    // LUT and M array lookups per candidate. Fixed centroids (vec_id<8)
    // and a fixed codebook (vec_id<4 subspace slices) keep the whole
    // pipeline deterministic, so DuckDB mirrors it exactly: residual
    // subtraction element-wise, per-subspace sums in j order, m-ordered
    // outer sum — bit-compatible with the native expressions.
    GQuery(
      "ivfadc_knn",
      (spark, dir) => {
        val (emb, cents, model, index) = ivfadcSetup(spark, dir)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfAdc
          .search(spark, index, q, "query_id", "qv", cents, model, K, NPROBE)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $ivfadcCtes
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // IVFADC+R (Jégou §V): ADC shortlist of 3K candidates, exact-L2²
    // refine on the shortlist only, true top-K kept. The refine join
    // touches |Q|·3K rows — the only stage that reads raw vectors.
    GQuery(
      "ivfadc_rerank",
      (spark, dir) => {
        val (emb, cents, model, index) = ivfadcSetup(spark, dir)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfAdc
          .searchRerank(
            spark, index, q, "query_id", "qv", cents, model,
            K, KSHORT, NPROBE, emb, "vec_id", "vec")
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $ivfadcCtes,
        short AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= $KSHORT),
        x AS (SELECT s.query_id, s.neighbor_id,
                     ${sqlL2Sq("q.qv", "e.ev")} AS dist
              FROM short s
              JOIN q ON q.query_id = s.query_id
              JOIN e ON e.vec_id = s.neighbor_id),
        rr AS (SELECT query_id, neighbor_id, dist,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, neighbor_id) AS rnk
               FROM x)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM rr WHERE rnk <= $K
      """)
    ),
    // OPQ-rotated IVFADC (Ge 2013 on Jégou §IV): residuals pass through
    // the fixed signed-permutation rotation (orthonormal — distances
    // preserved, SQL-expressible) before PQ, on both the stored codes and
    // the query LUTs. Same fixed codebooks, same LUT-ADC search; the
    // oracle derives from the SAME CTE chain as ivfadc_knn with the
    // rotation injected, so the two cannot drift. The learned-R OPQ path
    // keeps its own spec gates (OpqSpec).
    GQuery(
      "ivfadc_opq_knn",
      (spark, dir) => {
        val (emb, cents, model, _) = ivfadcSetup(spark, dir)
        val rot = Some((c: org.apache.spark.sql.Column) =>
          transform(sequence(lit(0), lit(63)), p =>
            when(p % 5 === 0, lit(-1.0)).otherwise(lit(1.0)) *
              element_at(c, p * 37 % 64 + 1)))
        val index = IvfAdc.encode(
          spark, emb, "vec_id", "vec", cents, model, rot)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfAdc
          .search(
            spark, index, q, "query_id", "qv", cents, model, K, NPROBE, rot)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      Some(s"""
        WITH $ivfadcOpqCtes
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // IVF-SQ: cell-routed search over SCALAR-quantized codes — the third
    // compressed-IVF layout next to ivfadc (PQ residuals) and ivf_knn
    // (raw vectors). SQ training is a deterministic min/max aggregate, so
    // unlike IVFADC's fixed codebooks this pipeline is oracle-checked end
    // to end INCLUDING training: train → 8-bit encode → cell assignment →
    // probe → decode-distance top-k all hash-match. Per vector the index
    // carries D bytes instead of D doubles (8× cut); probes bound the
    // candidate scan exactly as in ivf_knn.
    GQuery(
      "ivf_sq_knn",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val model = graft.operators.ScalarQuantizer.train(emb, "vec")
        val codes = graft.operators.ScalarQuantizer
          .encodePartitioned(emb, "vec_id", "vec", model)
        val index = IvfIndex
          .assign(spark, emb, "vec_id", "vec", cents)
          .select(col("id"), col("cell"))
          .join(codes, col("id") === col("vec_id"))
          .select(
            col("cell"),
            col("id").as("neighbor_id"),
            graft.operators.ScalarQuantizer
              .decodeCol(model, col("code")).as("dv")
          )
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val probes = IvfIndex
          .probeCells(spark, q, "query_id", "qv", cents, NPROBE)
        val fast = graft.functions.VectorExpressions
        val pairs = probes
          .join(index, "cell")
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
        WITH ${SQQueries.sqCtes},
        cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id < $NCELLS),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "dec.dv")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN dec ON dec.vec_id = a.vec_id),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM cd)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // MAJOR COMPACTION result-invariance under the ORACLE: the same
    // maintenance sequence as ivf_knn_upsert (build 4/5 → gen-1 upsert →
    // gen-2 delete) followed by IvfIndex.compact — live view rewritten
    // at gen 0, tombstone log dropped, masking join gone from the plan.
    // The oracle is ivf_knn_upsert's verbatim (live = vec_id % 7 != 0):
    // a compaction that moved, dropped or resurrected one row would
    // hash-mismatch. The LSM lifecycle (append → mask → rewrite) is now
    // oracle-covered at every stage.
    GQuery(
      "ivf_knn_compact",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = compactedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .searchPartitioned(spark, index, q, "query_id", "qv", cents, K, NPROBE)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(probedSearchSql("a.vec_id % 7 <> 0"))
    ),
    // ANN PROBE SELECTION forced down the 100-TB path with its own green
    // row (the dedup_clusters_distributed discipline): probeCellsAnn
    // replaces the exact |Q|·nCells·D probe scoring with an O(log nCells)
    // walk over a per-executor deterministic centroid HNSW — the route a
    // billion-vector IVF (64k-1M cells) must take. At efSearch >= nCells
    // the traversal is exhaustive, so the probe set — and therefore the
    // whole search — matches the exact path bit-for-bit, and ivf_knn's
    // oracle checks THIS plan end to end.
    GQuery(
      "ivf_knn_annprobe",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val index = sharedIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .searchPartitionedWith(
            spark, index,
            IvfIndex.probeCellsAnn(
              spark, q, "query_id", "qv", cents, NPROBE),
            "query_id", "qv", K)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(probedSearchSql("TRUE"))
    ),
    // CELL-SPLIT REBALANCING end to end (the splitCell maintenance move,
    // previously spec-only): the HOTTEST cell caps probe pruning — every
    // query probing it scans its whole bag — so the operator splits it
    // into two sub-cells (centroids = the cell's two smallest-id
    // members, deterministic) under FRESH cell ids and retires the old
    // directory; search then runs off the KEYED centroid table
    // (probeCellsTable) over the rebalanced partition layout. The whole
    // move — hot-cell argmax, sub-centroid choice, O(|hot cell|)
    // re-assignment, keyed probes, pruned search — replays in SQL, so
    // the maintenance path is oracle-checked, not just spec-gated.
    GQuery(
      "ivf_split_search",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val cents = fixedCentroids(spark, dir)
        val (newCents, path) = splitIndex(spark, dir, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        IvfIndex
          .searchPartitionedWith(
            spark, path,
            IvfIndex.probeCellsTable(q, "query_id", "qv", newCents, NPROBE),
            "query_id", "qv", K)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk"))
      },
      Some(s"""
        WITH cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        hot AS (SELECT cell AS hc FROM (
                  SELECT cell, count(*) AS n FROM assigned GROUP BY cell
                  ORDER BY n DESC, cell LIMIT 1)),
        subs AS (SELECT row_number() OVER (ORDER BY m.vec_id) - 1 AS i,
                        e.ev AS cv
                 FROM (SELECT a.vec_id FROM assigned a CROSS JOIN hot
                       WHERE a.cell = hot.hc
                       ORDER BY a.vec_id LIMIT 2) m
                 JOIN e ON e.vec_id = m.vec_id),
        cents2 AS (SELECT cent.ck AS cell, cent.cv
                   FROM cent CROSS JOIN hot WHERE cent.ck <> hot.hc
                   UNION ALL
                   SELECT $NCELLS + i AS cell, cv FROM subs),
        subassign AS (SELECT vec_id, cell FROM (
                        SELECT a.vec_id, $NCELLS + s.i AS cell,
                               row_number() OVER (PARTITION BY a.vec_id
                                 ORDER BY ${sqlL2Sq("e.ev", "s.cv")}, s.i) AS rn
                        FROM assigned a CROSS JOIN hot
                        JOIN e ON e.vec_id = a.vec_id
                        CROSS JOIN subs s
                        WHERE a.cell = hot.hc) WHERE rn = 1),
        re AS (SELECT a.vec_id, a.cell
               FROM assigned a CROSS JOIN hot WHERE a.cell <> hot.hc
               UNION ALL
               SELECT vec_id, cell FROM subassign),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, c2.cell, ${sqlL2Sq("q.qv", "c2.cv")} AS dist
               FROM q CROSS JOIN cents2 c2),
        probes AS (SELECT query_id, cell FROM (
                     SELECT query_id, cell,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, cell) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, r.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "e.ev")} AS dist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN re r ON r.cell = p.cell
               JOIN e ON e.vec_id = r.vec_id),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM cd)
        SELECT query_id, neighbor_id, round(dist, 6) AS dist, rnk
        FROM r WHERE rnk <= $K
      """)
    ),
    // THE ANN SERVING CAPSTONE (round-12 verdict item 6) — the
    // pipeline_full analog for the vector side, every stage a
    // GREEN-proven piece, composed once: TRAIN the SQ codec on the
    // standing 4/5 corpus (frozen before the wave, the production
    // ordering) → ENCODE → BUILD the cell-partitioned index with codes
    // AND the filter attribute riding as extra columns → UPSERT the 1/5
    // wave under the frozen codec (gen-1 append) → DELETE a batch
    // (gen-2 tombstones; live corpus = vec_id % 7 != 0 exactly) →
    // PROBED search (partition-pruned scan + label pushdown + tombstone
    // mask on pruned candidates only) over the compressed codes to a
    // 3K short-list → EXACT rerank of survivors from raw vectors →
    // Recall@K audit vs exact kNN over the live∩filter corpus.
    // One oracle covers the entire composition, training included.
    // PlanSpec guards that the probe scan stays partition-pruned and
    // the label predicate still reaches it THROUGH the composition.
    GQuery(
      "ann_full",
      (spark, dir) => {
        val fast = graft.functions.VectorExpressions
        val emb = t(spark, dir, "embeddings")
          .select(
            col("vec_id"), toDouble(col("embedding")).as("vec"), col("label"))
        val cents = fixedCentroids(spark, dir)
        val (model, path) = annFullArtifact(spark, dir, emb, cents)
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val (probes, live) = IvfIndex.probesAndPrunedBase(
          spark, path,
          IvfIndex.probeCells(spark, q, "query_id", "qv", cents, NPROBE),
          Some(col("label") <= 4))
        val scored = probes
          .join(live, "cell")
          .withColumn("sdist", fast.l2SqFast(col("qv"),
            graft.operators.ScalarQuantizer.decodeCol(model, col("code"))))
        val short = bestPer(scored, Seq("query_id"), col("sdist"), "id", KSHORT)
          .select(col("query_id"), col("id").as("neighbor_id"))
        val reranked = short
          .join(q, "query_id")
          .join(
            emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")),
            "neighbor_id")
          .withColumn("rdist", fast.l2SqFast(col("qv"), col("bv")))
        val rer = bestPer(reranked, Seq("query_id"), col("rdist"), "neighbor_id", K)
          .withColumn("rnk", col("rnk").cast("long"))
        val truth = BruteForceKNN
          .knn(q,
            emb.filter(col("vec_id") % 7 =!= 0 && col("label") <= 4)
              .select(col("vec_id").as("neighbor_id"), col("vec").as("bv")),
            K)
          .select(col("query_id"), col("neighbor_id"))
        val rec = RecallEval.recallAtK(rer, truth, K)
        rer
          .join(rec, "query_id")
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"), col("rnk"), col("recall"))
      },
      Some(s"""
        WITH
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev, label
              FROM embeddings),
        js AS (SELECT unnest(generate_series(1, 64)) AS j),
        stats AS (SELECT j, min(ev[j]) AS lo, max(ev[j]) AS hi
                  FROM e CROSS JOIN js WHERE vec_id % 5 <> 0 GROUP BY j),
        st AS (SELECT list(lo ORDER BY j) AS lo, list(hi ORDER BY j) AS hi
               FROM stats),
        live AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
        enc AS (
          SELECT live.vec_id,
                 list_transform(generate_series(1, 64), j ->
                   CASE WHEN st.hi[j] <= st.lo[j] THEN 0.0
                        ELSE least(255.0, greatest(0.0,
                          floor((live.ev[j] - st.lo[j])
                                / (st.hi[j] - st.lo[j]) * 255 + 0.5)))
                   END) AS code
          FROM live CROSS JOIN st),
        dec AS (
          SELECT enc.vec_id,
                 list_transform(generate_series(1, 64), j ->
                   st.lo[j] + enc.code[j] / 255.0 * (st.hi[j] - st.lo[j])) AS dv
          FROM enc CROSS JOIN st),
        cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id < $NCELLS),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        cd AS (SELECT q.query_id, l.vec_id AS neighbor_id,
                      ${sqlL2Sq("q.qv", "dec.dv")} AS sdist
               FROM q
               JOIN probes p ON p.query_id = q.query_id
               JOIN assigned a ON a.cell = p.cell
               JOIN live l ON l.vec_id = a.vec_id
               JOIN dec ON dec.vec_id = a.vec_id
               WHERE l.label <= 4),
        short AS (SELECT query_id, neighbor_id FROM (
                    SELECT query_id, neighbor_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY sdist, neighbor_id) AS rn
                    FROM cd) WHERE rn <= $KSHORT),
        x AS (SELECT s.query_id, s.neighbor_id,
                     ${sqlL2Sq("q.qv", "e.ev")} AS dist
              FROM short s
              JOIN q ON q.query_id = s.query_id
              JOIN e ON e.vec_id = s.neighbor_id),
        rr AS (SELECT query_id, neighbor_id, dist,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, neighbor_id) AS rnk
               FROM x),
        topk AS (SELECT * FROM rr WHERE rnk <= $K),
        ex AS (SELECT query_id, neighbor_id FROM (
                 SELECT q.query_id, l.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY ${sqlL2Sq("q.qv", "l.ev")}, l.vec_id) AS rn
                 FROM q CROSS JOIN live l WHERE l.label <= 4)
               WHERE rn <= $K),
        hits AS (SELECT query_id, count(*)::BIGINT AS c
                 FROM topk JOIN ex USING (query_id, neighbor_id)
                 GROUP BY query_id)
        SELECT t.query_id, t.neighbor_id, round(t.dist, 6) AS dist, t.rnk,
               (coalesce(h.c, 0) / $K.0) AS recall
        FROM topk t LEFT JOIN hits h USING (query_id)
      """)
    )
  )

  /** Shared IVFADC fixture: embeddings as doubles, fixed coarse centroids
    * (vec_id < 8), fixed 4-codeword codebooks (vec_id < 4 subspace
    * slices), residual-code index.
    */
  private def ivfadcSetup(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): (org.apache.spark.sql.DataFrame, Array[Array[Double]], PQModel,
      org.apache.spark.sql.DataFrame) = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val cents = fixedCentroids(spark, dir)
    val cbRows = emb
      .filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray)
    val model = PQModel(
      8, 4, 64,
      Array.tabulate(8)(mi =>
        cbRows.map(v => java.util.Arrays.copyOfRange(v, mi * 8, (mi + 1) * 8)))
    )
    val index = IvfAdc.encode(spark, emb, "vec_id", "vec", cents, model)
    (emb, cents, model, index)
  }

  /** The IVFADC oracle CTE chain through `r` (ADC distances ranked per
    * query) — shared by ivfadc_knn and ivfadc_rerank.
    */
  /** `rot` wraps a residual-list SQL expression: identity for plain
    * IVFADC, the fixed signed permutation for the OPQ-rotated variant —
    * one CTE chain serves both oracles, so they cannot drift.
    */
  private def ivfadcCtesWith(rot: String => String): String = s"""cent AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                      FROM embeddings WHERE vec_id < $NCELLS),
        cb AS (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < 4),
        ms AS (SELECT unnest(generate_series(0, 7)) AS m),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        ad AS (SELECT e.vec_id, cent.ck, ${sqlL2Sq("e.ev", "cent.cv")} AS dist
               FROM e CROSS JOIN cent),
        assigned AS (SELECT vec_id, ck AS cell FROM (
                       SELECT vec_id, ck,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist, ck) AS rn
                       FROM ad) WHERE rn = 1),
        res AS (SELECT e.vec_id, a.cell,
                       ${rot("list_transform(generate_series(1, 64), j -> e.ev[j] - cent.cv[j])")} AS rv
                FROM e JOIN assigned a ON a.vec_id = e.vec_id
                JOIN cent ON cent.ck = a.cell),
        rd AS (SELECT res.vec_id, ms.m, cb.ck,
                      list_sum(list_transform(generate_series(1, 8),
                        j -> (res.rv[ms.m*8+j] - cb.cv[ms.m*8+j])
                             * (res.rv[ms.m*8+j] - cb.cv[ms.m*8+j]))) AS dist
               FROM res CROSS JOIN ms CROSS JOIN cb),
        enc AS (SELECT vec_id, m, ck AS code FROM (
                  SELECT vec_id, m, ck,
                         row_number() OVER (PARTITION BY vec_id, m
                                            ORDER BY dist, ck) AS rn
                  FROM rd) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 10 = 0),
        pd AS (SELECT q.query_id, cent.ck, ${sqlL2Sq("q.qv", "cent.cv")} AS dist
               FROM q CROSS JOIN cent),
        probes AS (SELECT query_id, ck AS cell FROM (
                     SELECT query_id, ck,
                            row_number() OVER (PARTITION BY query_id
                                               ORDER BY dist, ck) AS rn
                     FROM pd) WHERE rn <= $NPROBE),
        qres AS (SELECT p.query_id, p.cell,
                        ${rot("list_transform(generate_series(1, 64), j -> q.qv[j] - cent.cv[j])")} AS qrv
                 FROM probes p
                 JOIN q ON q.query_id = p.query_id
                 JOIN cent ON cent.ck = p.cell),
        qd AS (SELECT qres.query_id, qres.cell, ms.m, cb.ck,
                      list_sum(list_transform(generate_series(1, 8),
                        j -> (qres.qrv[ms.m*8+j] - cb.cv[ms.m*8+j])
                             * (qres.qrv[ms.m*8+j] - cb.cv[ms.m*8+j]))) AS sdist
               FROM qres CROSS JOIN ms CROSS JOIN cb),
        adc AS (SELECT qd.query_id, a.vec_id AS neighbor_id,
                       list_sum(list(qd.sdist ORDER BY qd.m)) AS dist
                FROM assigned a
                JOIN enc ON enc.vec_id = a.vec_id
                JOIN qd ON qd.cell = a.cell AND qd.m = enc.m
                       AND qd.ck = enc.code
                GROUP BY 1, 2),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY dist, neighbor_id) AS rnk
              FROM adc)"""

  private lazy val ivfadcCtes = ivfadcCtesWith(identity)

  /** The pq_rotated signed permutation, applied to RESIDUAL lists (1-based
    * DuckDB indexing): out[p+1] = sign(p) * in[(p*37) % 64 + 1].
    */
  private def sqlRot(inner: String): String =
    s"""list_transform(generate_series(0, 63), p ->
          (CASE WHEN p % 5 = 0 THEN -1.0 ELSE 1.0 END)
            * ($inner)[(p*37) % 64 + 1])"""

  private lazy val ivfadcOpqCtes = ivfadcCtesWith(sqlRot)
}
