package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators._
import Q._

/** HNSW query surface (SURVEY.md §3.1-3.2, M4/M5). The graph build is
  * seeded-stochastic, so these have no SQL oracle (driver records rows-only
  * checks); accuracy is gated by the ScalaTest recall suite instead — the
  * reference's own method (py/hnsw.ipynb cell-6).
  */
object HnswQueries {

  private val K = 10

  private def embAndQueries(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val q = emb
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("vec").as("qv"))
    (emb, q)
  }

  /** Exact brute-force ground truth per sf dir (|Q|·K rows — tiny,
    * localCheckpoint-materialized): the recall EVALUATION input shared by
    * hnsw_recall and hnsw_ef_curve, so the eval harness doesn't re-pay a
    * corpus scan per query entry. The measured operators (build, per-ef
    * searches) are untouched.
    */
  private def sharedExact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame =
    Artifacts.get("hnsw_exact", dir) {
      val (emb, q) = embAndQueries(spark, dir)
      BruteForceKNN.knn(
        q, emb.select(col("vec_id").as("neighbor_id"), col("vec").as("bv")), K
      ).select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
    }

  /** Default bench shard count, and the production-scale one: sharding is
    * exactly what degrades HNSW recall (each shard searches 1/N of the
    * corpus and the global merge keeps the best k — SURVEY §7.3.1), so the
    * bench carries BOTH counts and the spec suite gates recall at the high
    * one.
    */
  private val DefaultShards = 4
  private val HighShards = 16

  /** Every HNSW artifact in [[Artifacts]]. The shared builds make every
    * hnsw_* entry but hnsw_build search-only; hnsw_build drops all of
    * them for its dir, so it times a cold build.
    */
  private val HnswArtifacts = Seq(
    "hnsw_build_det", s"hnsw_build_s$DefaultShards", s"hnsw_build_s$HighShards",
    "hnsw_build_clustered", "hnsw_build_pq", "hnsw_search", "hnsw_exact",
    "hnsw_replay")

  /** Deterministic-level build (md5-coin level draws, paper formula): the
    * hash-checkable half of the HNSW build.
    */
  private def sharedDetBuild(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): DistributedHnsw.Shards =
    Artifacts.get("hnsw_build_det", dir) {
      val (emb, _) = embAndQueries(spark, dir)
      val s = DistributedHnsw.build(
        emb, "vec_id", "vec",
        HnswParams(m = 16, efConstruction = 100, deterministicLevels = true),
        DefaultShards, seed = 42
      )
      s.edges.cache().count()
      s
    }

  private def sharedBuild(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      numShards: Int = DefaultShards
  ): DistributedHnsw.Shards =
    Artifacts.get(s"hnsw_build_s$numShards", dir) {
      val (emb, _) = embAndQueries(spark, dir)
      val s = DistributedHnsw.build(
        emb, "vec_id", "vec",
        HnswParams(m = 16, efConstruction = 100),
        numShards, seed = 42
      )
      s.edges.cache().count()
      s
    }

  /** Shared CLUSTER-sharded build per sf dir (SPANN-style: shards are
    * coarse cells under the fixed data-derived centroids, so routed
    * search can probe a subset). Centroids = embeddings vec_id < 8, the
    * same fixed set the IVF queries use.
    */
  private def sharedClusteredBuild(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): (DistributedHnsw.Shards, Array[Array[Double]]) =
    Artifacts.get("hnsw_build_clustered", dir) {
      val (emb, _) = embAndQueries(spark, dir)
      val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
      val s = DistributedHnsw.buildClustered(
        emb, "vec_id", "vec",
        HnswParams(m = 16, efConstruction = 100), cents, seed = 42)
      s.edges.cache().count()
      (s, cents)
    }

  /** Shared PQ-compressed build per sf dir: the index whose shard artifact
    * carries the persisted code table (seeded codebooks, so rebuilds are
    * deterministic). Compressed search walks resident graphs replayed
    * from the codes — the path hnsw_knn_pq benches.
    */
  private def sharedPqBuild(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): (DistributedHnsw.Shards, PQCompression) =
    Artifacts.get("hnsw_build_pq", dir) {
      val (emb, _) = embAndQueries(spark, dir)
      val comp = new PQCompression(
        ProductQuantizer.train(emb, "vec", m = 8, k = 64, seed = 42))
      val s = DistributedHnsw.build(
        emb, "vec_id", "vec",
        HnswParams(m = 16, efConstruction = 100),
        DefaultShards, seed = 42, compression = Some(comp)
      )
      s.edges.cache().count()
      (s, comp)
    }

  /** The hnsw_*replay* family's deterministic layered artifact per sf dir
    * — immutable and bit-rebuildable (md5 levels + exact edges), so the
    * benched queries measure the SEARCH replay, the family's declared
    * serving split.
    */
  private def sharedReplay(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): HnswReplay.LayeredIndex =
    Artifacts.get("hnsw_replay", dir) {
      val (emb, _) = embAndQueries(spark, dir)
      HnswReplay.buildLayered(emb, "vec_id", "vec")
    }

  val all: Seq[GQuery] = Seq(
    // M5 build half: cold index construction, measured on its own — the
    // shared-build memo makes every other hnsw_* entry search-only, so
    // this is the one place build cost is visible to the bench.
    GQuery(
      "hnsw_build",
      (spark, dir) => {
        HnswArtifacts.foreach(Artifacts.drop(_, dir))
        sharedBuild(spark, dir).edges
          .select(col("shard"), col("layer"), col("src"), col("dst"))
      },
      None
    ),
    // M5 search half: batch search over the prebuilt shard tables.
    GQuery(
      "hnsw_knn",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val shards = sharedBuild(spark, dir)
        val res = DistributedHnsw
          .search(shards, q, "query_id", "qv", K)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
        // memoize THIS result for hnsw_recall (replacing any prior run's)
        Artifacts.drop("hnsw_search", dir)
        Artifacts.get("hnsw_search", dir)(res.cache())
      },
      None
    ),
    // M5 search at the production-scale shard count: same query batch over
    // a 16-shard build, so BENCH records how shard fan-out changes search
    // cost (and HnswSpec gates Recall@10 >= 0.95 at this count — more
    // shards = more parallelism AND the recall risk, measured, not
    // assumed). First rep pays the 16-shard build; the median reflects
    // search over the memoized artifact.
    GQuery(
      "hnsw_knn_s16",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val shards = sharedBuild(spark, dir, HighShards)
        DistributedHnsw
          .search(shards, q, "query_id", "qv", K)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      None
    ),
    // ROUTED search over cluster shards (SPANN-style): shards are coarse
    // cells, each query probes only its 3 nearest of 8 shards — the
    // nShards/nProbe fan-out cut that hash sharding cannot offer (hash
    // shards all look alike; every one must be searched). Rows-only like
    // all hnsw_* entries; HnswSpec gates all-probe == fan-out exactly
    // plus the monotone recall/probe curve.
    GQuery(
      "hnsw_knn_routed",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val (shards, cents) = sharedClusteredBuild(spark, dir)
        DistributedHnsw
          .searchRouted(shards, q, "query_id", "qv", K, cents, nProbeShards = 3)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      None
    ),
    // Attribute-filtered graph search (the HNSW half of filtered ANN —
    // the IVF half is ivf_knn_filtered): the layer-0 walk routes through
    // every node but only label<=4 ids surface, with efSearch over-fetch
    // compensating for the ~50% selectivity. Seeded-stochastic like all
    // hnsw_* entries: rows-only here; exact-reduction + subset + recall
    // invariants are HnswSpec-gated.
    GQuery(
      "hnsw_knn_filtered",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val shards = sharedBuild(spark, dir)
        val allowed = t(spark, dir, "embeddings")
          .filter(col("label") <= 4).select(col("vec_id"))
        DistributedHnsw
          .searchFiltered(shards, q, "query_id", "qv", K, allowed,
            efSearch = 200)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      None
    ),
    // Index-lifecycle DELETE path: every 7th corpus id is tombstoned and
    // the same query batch runs with deleted ids as routable-but-
    // unreturnable waypoints (graph untouched — the steady state between
    // compactions), efSearch over-fetch covering the ~14% loss. Rows-only
    // like all hnsw_* entries; HnswSpec gates no-deleted-id-surfaces,
    // empty-tombstone == search equality, post-compaction equivalence,
    // and recall vs exact kNN over the survivors.
    GQuery(
      "hnsw_knn_deleted",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val shards = sharedBuild(spark, dir)
        val tomb = t(spark, dir, "embeddings")
          .filter(col("vec_id") % 7 === 0).select(col("vec_id"))
        DistributedHnsw
          .searchWithTombstones(shards, q, "query_id", "qv", K, tomb,
            efSearch = 200)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      None
    ),
    // M5 compressed search: the same batch over a PQ-compressed build —
    // distances are asymmetric query-to-code against the PERSISTED shard
    // code table (~M shorts/vector on the wire instead of D doubles;
    // nothing re-encodes at search time). Seeded-stochastic like the
    // other hnsw_* entries: rows-only here, recall gated in HnswSpec.
    GQuery(
      "hnsw_knn_pq",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val (shards, comp) = sharedPqBuild(spark, dir)
        DistributedHnsw
          .search(shards, q, "query_id", "qv", K, compression = Some(comp))
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 6).as("dist"),
            col("rnk").cast("long").as("rnk")
          )
      },
      None
    ),
    // D8: per-query Recall@10 of the sharded HNSW vs exact brute force.
    // Scores the memoized hnsw_knn result when present instead of paying
    // a redundant second shard sweep; run before hnsw_knn, it memoizes
    // its own uncached search plan, which re-runs the sweep every time.
    GQuery(
      "hnsw_recall",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val approx = Artifacts.get("hnsw_search", dir) {
          val shards = sharedBuild(spark, dir)
          DistributedHnsw.search(shards, q, "query_id", "qv", K)
        }
        approx
          .select(col("query_id"), col("neighbor_id"))
          .join(sharedExact(spark, dir), Seq("query_id", "neighbor_id"))
          .groupBy(col("query_id"))
          .agg((count(lit(1)) / K.toDouble).as("recall"))
      },
      None
    ),
    // The ef/recall tradeoff curve — HNSW's operating knob, measured the
    // way ivf_recall_curve measures nprobe: one exact ground truth, one
    // search per efSearch setting over the SHARED prebuilt index, overall
    // Recall@K per setting. Monotonicity + the ef=200 floor are gated in
    // HnswSpec (seeded-stochastic build -> rows-only here).
    GQuery(
      "hnsw_ef_curve",
      (spark, dir) => {
        import spark.implicits._
        val (_, q) = embAndQueries(spark, dir)
        val shards = sharedBuild(spark, dir)
        val exact = sharedExact(spark, dir)
        val denom = exact.count().toDouble
        // one multi-ef search: one resident walk + one descent per query
        // serve every setting (the descent routes with ef=1 regardless of
        // efSearch — re-searching per setting paid it ×3, the r13 cost);
        // bround == the previous rint half-even rounding
        val efs = Seq(10, 50, 200)
        val matched = DistributedHnsw
          .searchEfCurve(shards, q, "query_id", "qv", K, efs)
          .select(col("ef"), col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"))
          .groupBy(col("ef"))
          .agg(bround(count(lit(1)) / denom, 4).as("recall"))
        efs.map(_.toLong).toDF("ef")
          .join(matched, Seq("ef"), "left")
          .select(col("ef"),
            coalesce(col("recall"), lit(0.0)).as("recall"))
      },
      None
    ),
    // The hash-checkable half of the HNSW build: under deterministicLevels
    // the per-node level is the engine's md5 coin over the global id fed
    // through the paper formula floor(-ln(u)·mL), so the (shard, level)
    // census of the BUILT index — read from the index's own levels table,
    // not recomputed — replays exactly in SQL. The edge set still depends
    // on the sequential heap walk (rows-only by design); levels are the
    // structural invariant that moves to hash-checked. HnswSpec gates that
    // det-build recall matches the JVM-RNG build's gate.
    GQuery(
      "hnsw_level_stats",
      (spark, dir) => {
        val shards = sharedDetBuild(spark, dir)
        shards.levels.get
          .groupBy(
            col("shard").cast("long").as("shard"),
            col("level").cast("long").as("level"))
          .agg(count(lit(1)).as("n_nodes"))
      },
      Some("""
        SELECT vec_id % 4 AS shard,
               CAST(floor(-ln((('0x' || substr(md5(vec_id::VARCHAR || ':hnswlvl:42'), 1, 14))::BIGINT % 1000000 + 1) / 1000001.0)
                          * (1.0 / ln(16.0))) AS BIGINT) AS level,
               count(*) AS n_nodes
        FROM embeddings
        GROUP BY 1, 2
      """)
    ),
    // E7: graph introspection over the edge table — per-layer node and
    // edge counts (trivial aggregates over the build artifact).
    GQuery(
      "hnsw_graph_stats",
      (spark, dir) => {
        val shards = sharedBuild(spark, dir)
        shards.edges
          .groupBy(col("shard"), col("layer"))
          .agg(
            countDistinct(col("src")).as("n_nodes"),
            count(lit(1)).as("n_edges")
          )
      },
      None
    ),
    // HNSW SEARCH hash-checked (the round-12 "hash-checked given index"
    // row): the greedy-descent + layer-0 beam algorithm runs over a
    // DETERMINISTIC layered graph both engines reconstruct — md5-coin
    // levels (the hnsw_level_stats formula; coin granularity statically
    // caps the unroll at level 4) and idealized exact top-m per-layer
    // edges — so the full search trajectory replays as unrolled SQL.
    // The production heap-walk build stays rows-only by declared design;
    // THIS row pins the search semantics (entry argmax, per-layer
    // argmin ties, beam dedup + (dist,id) cut, final top-k) against an
    // independent engine.
    GQuery(
      "hnsw_knn_replay",
      (spark, dir) => {
        val (_, q) = embAndQueries(spark, dir)
        val idx = sharedReplay(spark, dir)
        HnswReplay
          .searchReplay(idx, q, "query_id", "qv", k = K,
            ef = 16, greedyRounds = 2, beamRounds = 4)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH
        ${replayGraphCtes("id % 10 = 0")},
        ${replayBeamCtes("b", 16)},
        fin AS (
          SELECT qid, cid, dist,
                 row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk
          FROM (SELECT b.qid, b.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                FROM b4 b JOIN e ee ON ee.id = b.cid
                JOIN q qq ON qq.qid = b.qid))
        SELECT qid AS query_id, cid AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM fin WHERE rnk <= $K
        """)
    ),
    // RECALL-vs-ef OPERATING CURVE over the replay index — the suite's
    // first ef curve whose index AND every search are hash-checked
    // (hnsw_ef_curve measures the heap-walk index, rows-only by
    // design). The greedy descent is ef-independent and runs once;
    // each ef re-runs only the layer-0 beam. Mean Recall@10 vs the
    // exact kNN over the same queries, decimal-routed like
    // ivf_recall_curve.
    GQuery(
      "hnsw_replay_ef_curve",
      (spark, dir) => {
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val q20 = emb
          .filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val idx = sharedReplay(spark, dir)
        val curve = HnswReplay.replayEfCurve(
          idx, q20, "query_id", "qv", K, Seq(10, 16, 32),
          greedyRounds = 2, beamRounds = 4)
        val truth = sharedExact(spark, dir) // %10 superset of %20
        val hits = curve
          .select(col("ef"), col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id"))
          .groupBy(col("ef"), col("query_id"))
          .agg(count(lit(1)).as("c"))
        curve
          .select(col("ef"), col("query_id")).distinct()
          .join(hits, Seq("ef", "query_id"), "left")
          .withColumn("recall",
            coalesce(col("c"), lit(0L)) / lit(K.toDouble))
          .groupBy(col("ef"))
          .agg(
            count(lit(1)).as("n_queries"),
            davg(col("recall")).as("mean_recall"))
      },
      Some {
        val perEf = Seq(10, 16, 32).map { ef =>
          s"""
        ${replayBeamCtes(s"b$ef", ef)},
        fin$ef AS (
          SELECT $ef::BIGINT AS ef, qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk
            FROM (SELECT b.qid, b.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                  FROM b${ef}4 b JOIN e ee ON ee.id = b.cid
                  JOIN q qq ON qq.qid = b.qid))
          WHERE rnk <= $K)"""
        }.mkString(",")
        s"""
        WITH
        ${replayGraphCtes("id % 20 = 0")},
        $perEf,
        allr AS (SELECT * FROM fin10 UNION ALL
                 SELECT * FROM fin16 UNION ALL
                 SELECT * FROM fin32),
        ex AS (SELECT qid, cid FROM (
                 SELECT q.qid, e.id AS cid,
                        row_number() OVER (PARTITION BY q.qid
                          ORDER BY ${sqlL2Sq("q.qv", "e.v")}, e.id) AS rn
                 FROM q CROSS JOIN e) WHERE rn <= $K),
        hits AS (SELECT ef, qid, count(*)::BIGINT AS c
                 FROM allr JOIN ex USING (qid, cid)
                 GROUP BY ef, qid),
        per AS (SELECT d.ef, (coalesce(c, 0) / $K.0) AS recall
                FROM (SELECT DISTINCT ef, qid FROM allr) d
                LEFT JOIN hits ON hits.ef = d.ef AND hits.qid = d.qid)
        SELECT ef, count(*)::BIGINT AS n_queries,
               ${sqlAvg("recall")} AS mean_recall
        FROM per GROUP BY ef
        """
      }
    ),
    // The reference's HEADLINE combination — HNSW searched with PQ
    // distances (py/vector_compression.py PQCompression wired into the
    // hnsw walk) — hash-checked given the reconstructible index:
    // greedy descent AND layer-0 beam score by asymmetric PQ distance
    // off the fixed 8×8×16 codebook (the walk reads only the code
    // table, never a raw vector), final top-k = exact rerank of the ef
    // survivors (ADC+R). hnsw_knn_pq benches the production compressed
    // path rows-only; THIS row pins the compressed-search semantics
    // against an independent engine with the same m-ordered LUT-sum
    // arithmetic the pq_adc_topk oracle established.
    GQuery(
      "hnsw_replay_pq",
      (spark, dir) => {
        val (emb, q) = embAndQueries(spark, dir)
        val idx = sharedReplay(spark, dir)
        val model = replayFixedModel(spark, dir)
        val codes = emb.select(
          col("vec_id").as("cid"),
          ProductQuantizer.encodeCol(model, col("vec")).as("code"))
        HnswReplay
          .searchReplayAdc(idx, codes, model, q, "query_id", "qv",
            k = K, ef = 16, greedyRounds = 2, beamRounds = 4)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some {
        val adcGreedy = (for {
          (l, i) <- (4 to 1 by -1).flatMap(l => Seq(l, l)).zipWithIndex
        } yield adcStepCte(s"a${i + 1}", if (i == 0) "c0" else s"a$i", l, "1"))
          .mkString(",")
        val adcBeam = (1 to 4)
          .map(i => adcStepCte(
            s"p$i", if (i == 1) "a8" else s"p${i - 1}", 0, "16"))
          .mkString(",")
        s"""
        WITH
        ${replayBaseCtes("id % 10 = 0")},
        $replayAdcCtes,
        $adcGreedy,
        $adcBeam,
        fin AS (
          SELECT qid, cid, dist,
                 row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk
          FROM (SELECT b.qid, b.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                FROM p4 b JOIN e ee ON ee.id = b.cid
                JOIN q qq ON qq.qid = b.qid))
        SELECT qid AS query_id, cid AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM fin WHERE rnk <= $K
        """
      }
    ),
    // The hnswlib FILTER contract, hash-checked (round-12 verdict gap 3:
    // "filtered/tombstoned HNSW search semantics are spec-only"): the
    // walk routes THROUGH disallowed nodes (greedy descent + layer-0
    // routing beam completely unfiltered — severing disallowed waypoints
    // would cut paths), while the RESULT set admits only allowed ids —
    // here label-even vectors, an attribute predicate over the metadata
    // column, the filtered-ANN serving shape. Eligible set = every node
    // the layer-0 walk touched (union of the per-round scored candidate
    // sets), exact (dist, id) top-k of its allowed members. The
    // production path is DistributedHnsw.searchFiltered (rows-only +
    // recall gates); THIS row pins the route-through/only-allowed-enter-W
    // semantics against an independent engine.
    GQuery(
      "hnsw_replay_filtered",
      (spark, dir) => {
        val embT = t(spark, dir, "embeddings")
        val emb = embT.select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val q = emb
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val idx = sharedReplay(spark, dir)
        val allowed = embT.filter(col("label") % 2 === 0).select(col("vec_id"))
        HnswReplay
          .searchReplayFiltered(idx, q, "query_id", "qv", allowed,
            k = K, ef = 16, greedyRounds = 2, beamRounds = 4)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH
        ${replayGraphCtes("id % 10 = 0")},
        ${replayBeamVisCtes(16)},
        alw AS (SELECT vec_id AS id FROM embeddings WHERE label % 2 = 0),
        fin AS (
          SELECT qid, cid, dist,
                 row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk
          FROM (SELECT v.qid, v.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                FROM vis v
                JOIN alw a ON a.id = v.cid
                JOIN e ee ON ee.id = v.cid
                JOIN q qq ON qq.qid = v.qid))
        SELECT qid AS query_id, cid AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM fin WHERE rnk <= $K
        """)
    ),
    // The DELETE half of the same contract — tombstoned ids stay
    // ROUTABLE waypoints in the walk (the index graph is untouched
    // between compactions) but can never surface in results: identical
    // traversal to hnsw_replay_filtered with the flag inverted (anti
    // instead of semi — sparse deletes ship |tombstones| rows, never an
    // N-row allow list). Production: DistributedHnsw.searchWithTombstones.
    GQuery(
      "hnsw_replay_deleted",
      (spark, dir) => {
        val (emb, q) = embAndQueries(spark, dir)
        val idx = sharedReplay(spark, dir)
        val tomb = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
        HnswReplay
          .searchReplayDeleted(idx, q, "query_id", "qv", tomb,
            k = K, ef = 16, greedyRounds = 2, beamRounds = 4)
          .select(
            col("query_id"), col("neighbor_id"),
            round(col("dist"), 4).as("dist"), col("rnk"))
      },
      Some(s"""
        WITH
        ${replayGraphCtes("id % 10 = 0")},
        ${replayBeamVisCtes(16)},
        fin AS (
          SELECT qid, cid, dist,
                 row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rnk
          FROM (SELECT v.qid, v.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                FROM vis v
                JOIN e ee ON ee.id = v.cid
                JOIN q qq ON qq.qid = v.qid
                WHERE v.cid % 7 != 0))
        SELECT qid AS query_id, cid AS neighbor_id,
               round(dist, 4) AS dist, rnk
        FROM fin WHERE rnk <= $K
        """)
    ),
    // SELECTIVITY-vs-recall operating curve for filtered ANN — the
    // tuning table the filter contract needs before freezing ef for a
    // filtered serving tier (the tighter the predicate, the fewer
    // allowed nodes the fixed-budget walk touches; this measures how
    // recall@10 degrades as the allow-fraction shrinks). The walk runs
    // ONCE (the visited set is allow-independent — routing is
    // unfiltered by contract); each selectivity p ∈ {25, 50, 75}%
    // (md5-coin allow-list, engine-portable) is a pure cut of the SAME
    // visited set, scored against the exact allowed-only kNN. Mean
    // recall decimal-routed; the 9th measured knob curve and the first
    // over the filter contract.
    //
    // r15: the allow lists are NESTED (md5 % 100 < 25 ⊂ < 50 ⊂ < 75) and
    // the coin is a pure function of the id, so the three per-pct
    // subtrees (each its own brute-force exact kNN + its own window over
    // the visited set) collapse into ONE tagged pass each side: the
    // corpus is scanned once at the widest cut with its md5 bucket
    // carried, and each pct is a null-gated TopK heap (TopKAgg skips
    // nulls; (dist, id) heap order == the row_number (d, cid) order it
    // replaces) — one distance pass instead of three, no windows, same
    // rows bit for bit.
    GQuery(
      "hnsw_replay_filter_curve",
      (spark, dir) => {
        import graft.functions.TopKAgg.topK
        import graft.functions.VectorExpressions.l2SqFast
        val emb = t(spark, dir, "embeddings")
          .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
        val q20 = emb
          .filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("query_id"), col("vec").as("qv"))
        val idx = sharedReplay(spark, dir)
        val vis = HnswReplay
          .visitedLayer0(
            idx,
            q20.select(col("query_id").as("qid"), col("qv")),
            ef = 16, greedyRounds = 2, beamRounds = 4)
          .localCheckpoint()
        val pcts = Seq(25L, 50L, 75L)
        def bkt(idCol: org.apache.spark.sql.Column) =
          graft.operators.Dedup.md5Long(
            concat_ws(":", lit("fsel"), idCol.cast("string"))) % 100
        def tks(d: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
          pcts.zipWithIndex.map { case (p, i) =>
            topK(when(col("bkt") < p, d), id, K).as(s"tk$i")
          }
        def cuts(heaped: org.apache.spark.sql.DataFrame) = heaped
          .select(
            col("qid"),
            explode(array(pcts.zipWithIndex.map { case (p, i) =>
              struct(lit(p).as("pct"), col(s"tk$i.id").as("ids"))
            }: _*)).as("x"))
          .select(col("x.pct").as("pct"), col("qid"),
            explode(col("x.ids")).as("cid"))
        val fin = cuts(vis
          .withColumn("bkt", bkt(col("cid")))
          .groupBy(col("qid"))
          .agg(tks(col("d"), col("cid")).head,
            tks(col("d"), col("cid")).tail: _*))
        val exact = cuts(emb
          .withColumn("bkt", bkt(col("vec_id")))
          .filter(col("bkt") < pcts.max)
          .join(broadcast(q20.select(col("query_id").as("qid"), col("qv"))))
          .withColumn("d", l2SqFast(col("qv"), col("vec")))
          .groupBy(col("qid"))
          .agg(tks(col("d"), col("vec_id")).head,
            tks(col("d"), col("vec_id")).tail: _*))
        val hits = fin
          .join(exact, Seq("pct", "qid", "cid"))
          .groupBy(col("pct"), col("qid"))
          .agg(count(lit(1)).as("c"))
        q20.select(col("query_id").as("qid")).distinct()
          .crossJoin(spark.createDataFrame(
            pcts.map(Tuple1(_))).toDF("pct"))
          .join(hits, Seq("pct", "qid"), "left")
          .withColumn("recall", coalesce(col("c"), lit(0L)) / lit(K.toDouble))
          .groupBy(col("pct"))
          .agg(
            count(lit(1)).as("n_queries"),
            davg(col("recall")).as("mean_recall"))
          .select(
            col("pct").as("allow_pct"), col("n_queries"),
            round(col("mean_recall"), 6).as("mean_recall"))
      },
      Some {
        val md5Allow =
          "(('0x' || substr(md5('fsel:' || id::VARCHAR), 1, 14))::BIGINT % 100)"
        val perPct = Seq(25, 50, 75).map { p =>
          s"""
        alw$p AS MATERIALIZED (SELECT id FROM e WHERE $md5Allow < $p),
        fin$p AS (
          SELECT qid, cid FROM (
            SELECT v.qid, v.cid,
                   row_number() OVER (PARTITION BY v.qid
                                      ORDER BY ${sqlL2Sq("qq.qv", "ee.v")}, v.cid)
                     AS rnk
            FROM vis v
            JOIN alw$p a ON a.id = v.cid
            JOIN e ee ON ee.id = v.cid
            JOIN q qq ON qq.qid = v.qid)
          WHERE rnk <= $K),
        ex$p AS (
          SELECT qid, id FROM (
            SELECT q.qid, eb.id,
                   row_number() OVER (PARTITION BY q.qid
                                      ORDER BY ${sqlL2Sq("q.qv", "eb.v")}, eb.id)
                     AS rn
            FROM q CROSS JOIN (SELECT e.id, e.v FROM e
                               JOIN alw$p a ON a.id = e.id) eb)
          WHERE rn <= $K),
        hit$p AS (SELECT f.qid, count(*)::BIGINT AS c
                  FROM fin$p f JOIN ex$p x
                    ON x.qid = f.qid AND x.id = f.cid
                  GROUP BY f.qid),
        per$p AS (SELECT d.qid, coalesce(c, 0) / $K.0 AS recall
                  FROM (SELECT DISTINCT qid FROM q) d
                  LEFT JOIN hit$p h ON h.qid = d.qid),
        cen$p AS (SELECT $p::BIGINT AS allow_pct,
                         count(*)::BIGINT AS n_queries,
                         round(${sqlAvg("recall")}, 6) AS mean_recall
                  FROM per$p)"""
        }.mkString(",")
        s"""
        WITH
        ${replayGraphCtes("id % 20 = 0")},
        ${replayBeamVisCtes(16)},
        $perPct
        SELECT * FROM cen25 UNION ALL SELECT * FROM cen50
        UNION ALL SELECT * FROM cen75
        """
      }
    )
  )

  /** Shared DuckDB CTE block for the replay oracles: embeddings as
    * doubles, md5-coin levels (the hnsw_level_stats draw), idealized
    * exact top-m per-layer edges, entry point, the query set, and the
    * unrolled ef-independent greedy descent c0..c8.
    */
  /** Layered artifact + query set + entry seed (no greedy chain): e, lv,
    * ed0..ed4, ep, q, c0.
    */
  private def replayBaseCtes(queryPred: String): String = {
    def edgeCte(l: Int, deg: Int) = s"""
        ed$l AS MATERIALIZED (
          SELECT src, dst FROM (
            SELECT a.id AS src, b.id AS dst,
                   row_number() OVER (PARTITION BY a.id
                                      ORDER BY ${sqlL2Sq("a.v", "b.v")}, b.id) AS rn
            FROM lv a JOIN lv b ON b.id != a.id
            WHERE a.level >= $l AND b.level >= $l)
          WHERE rn <= $deg)"""
    s"""
        e AS MATERIALIZED (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                           FROM embeddings),
        lv AS MATERIALIZED (
          SELECT id, v,
                 CAST(floor(-ln((('0x' || substr(md5(id::VARCHAR || ':hnswlvl:42'), 1, 14))::BIGINT % 1000000 + 1) / 1000001.0)
                            * (1.0 / ln(16.0))) AS INT) AS level
          FROM e),
        ${edgeCte(0, 16)},
        ${(1 to 4).map(edgeCte(_, 8)).mkString(",")},
        ep AS MATERIALIZED (SELECT id AS cid FROM lv
                            ORDER BY level DESC, id LIMIT 1),
        q AS MATERIALIZED (SELECT id AS qid, v AS qv FROM e
                           WHERE $queryPred),
        c0 AS MATERIALIZED (SELECT qid, cid FROM q CROSS JOIN ep)"""
  }

  private def replayGraphCtes(queryPred: String): String = {
    val greedy = (for {
      (l, i) <- (4 to 1 by -1).flatMap(l => Seq(l, l)).zipWithIndex
    } yield replayStepCte(s"c${i + 1}", if (i == 0) "c0" else s"c$i", l, "1"))
      .mkString(",")
    s"""
        ${replayBaseCtes(queryPred)},
        $greedy"""
  }

  /** One greedy/beam step: candidates = prev ∪ their layer-`l`
    * neighbors, (dist, cid)-ranked, keep the top `keep`.
    */
  private def replayStepCte(
      name: String, prev: String, l: Int, keep: String): String = s"""
        $name AS MATERIALIZED (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
            FROM (
              SELECT cand.qid, cand.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
              FROM (SELECT s.qid, s.cid FROM $prev s
                    UNION
                    SELECT s.qid, ed.dst AS cid
                    FROM $prev s JOIN ed$l ed ON ed.src = s.cid) cand
              JOIN e ee ON ee.id = cand.cid
              JOIN q qq ON qq.qid = cand.qid))
          WHERE rn <= $keep)"""

  /** The 4-round layer-0 beam chain with the per-round EXPANDED sets
    * exposed (`vx1..vx4` = prev ∪ its layer-0 neighbors, `vb1..vb4` the
    * ef-cut routing beams) plus `vis` = ∪ vx_i — every node the walk
    * touched, the eligible set the filtered/tombstoned replays cut
    * their allowed top-k from. Routing is UNFILTERED by construction.
    */
  private def replayBeamVisCtes(ef: Int): String =
    (1 to 4).map { i =>
      val prev = if (i == 1) "c8" else s"vb${i - 1}"
      s"""
        vx$i AS MATERIALIZED (
          SELECT s.qid, s.cid FROM $prev s
          UNION
          SELECT s.qid, ed.dst AS cid
          FROM $prev s JOIN ed0 ed ON ed.src = s.cid),
        vb$i AS MATERIALIZED (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
            FROM (SELECT x.qid, x.cid, ${sqlL2Sq("qq.qv", "ee.v")} AS dist
                  FROM vx$i x JOIN e ee ON ee.id = x.cid
                  JOIN q qq ON qq.qid = x.qid))
          WHERE rn <= $ef)"""
    }.mkString(",") + s""",
        vis AS (SELECT qid, cid FROM vx1 UNION SELECT qid, cid FROM vx2
                UNION SELECT qid, cid FROM vx3 UNION SELECT qid, cid FROM vx4)"""

  /** The 4-round layer-0 beam chain `<prefix>1..<prefix>4` at width
    * `ef`, seeded from the greedy descent's c8.
    */
  private def replayBeamCtes(prefix: String, ef: Int): String =
    (1 to 4)
      .map(i => replayStepCte(
        s"$prefix$i", if (i == 1) "c8" else s"$prefix${i - 1}", 0, ef.toString))
      .mkString(",")

  // ── hnsw_replay_pq: the compressed replay's fixed-codebook ADC ──
  // Same shape as the PQQueries/knn_graph_search_pq convention: M=8
  // subspaces of 8 dims, K=16 codewords = slices of the first 16
  // embedding rows — data-derived and deterministic on both engines.
  // defs, not vals: `val all` above initializes eagerly at object
  // construction, before later vals would be assigned
  private def RPQM = 8
  private def RPQDP = 8
  private def RPQK = 16

  private def replayFixedModel(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): PQModel = {
    val rows = t(spark, dir, "embeddings")
      .filter(col("vec_id") < RPQK)
      .orderBy(col("vec_id"))
      .select(toDouble(col("embedding")))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    PQModel(
      RPQM, RPQK, rows(0).length,
      Array.tabulate(RPQM)(mi =>
        rows.map(v =>
          java.util.Arrays.copyOfRange(v, mi * RPQDP, (mi + 1) * RPQDP))))
  }

  /** PQ code + query-LUT CTEs over the replay base (`e`, `q` in scope):
    * renc = per-(node, subspace) nearest codeword (the pq_encode argmin),
    * rqd = per-(query, subspace, codeword) partial distance — the LUT the
    * ADC steps sum in m order, the same arithmetic as the pq_adc_topk
    * oracle.
    */
  private def replayAdcCtes: String = s"""
        rcent AS MATERIALIZED (SELECT vec_id AS ck, embedding::DOUBLE[] AS cv
                 FROM embeddings WHERE vec_id < $RPQK),
        rms AS (SELECT unnest(generate_series(0, ${RPQM - 1})) AS m),
        rdists AS MATERIALIZED (
          SELECT e.id AS vid, rms.m, rcent.ck,
                 list_sum(list_transform(generate_series(1, $RPQDP),
                   j -> (e.v[rms.m*$RPQDP+j] - rcent.cv[rms.m*$RPQDP+j])
                        * (e.v[rms.m*$RPQDP+j] - rcent.cv[rms.m*$RPQDP+j]))) AS dist
          FROM e CROSS JOIN rms CROSS JOIN rcent),
        renc AS MATERIALIZED (
          SELECT vid, m, ck AS code FROM (
            SELECT vid, m, ck,
                   row_number() OVER (PARTITION BY vid, m
                                      ORDER BY dist, ck) AS rn
            FROM rdists) WHERE rn = 1),
        rqd AS MATERIALIZED (
          SELECT q.qid, rms.m, rcent.ck,
                 list_sum(list_transform(generate_series(1, $RPQDP),
                   j -> (q.qv[rms.m*$RPQDP+j] - rcent.cv[rms.m*$RPQDP+j])
                        * (q.qv[rms.m*$RPQDP+j] - rcent.cv[rms.m*$RPQDP+j]))) AS sdist
          FROM q CROSS JOIN rms CROSS JOIN rcent)"""

  /** One ADC-scored greedy/beam step: candidates = prev ∪ their layer-`l`
    * neighbors, (ADC dist, cid)-ranked via the renc⋈rqd LUT sum, keep the
    * top `keep`.
    */
  private def adcStepCte(
      name: String, prev: String, l: Int, keep: String): String = s"""
        $name AS MATERIALIZED (
          SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
            FROM (
              SELECT cand.qid, cand.cid,
                     list_sum(list(rqd.sdist ORDER BY rqd.m)) AS dist
              FROM (SELECT s.qid, s.cid FROM $prev s
                    UNION
                    SELECT s.qid, ed.dst AS cid
                    FROM $prev s JOIN ed$l ed ON ed.src = s.cid) cand
              JOIN renc ON renc.vid = cand.cid
              JOIN rqd ON rqd.qid = cand.qid AND rqd.m = renc.m
                      AND rqd.ck = renc.code
              GROUP BY cand.qid, cand.cid))
          WHERE rn <= $keep)"""
}
