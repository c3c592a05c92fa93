package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HNSW SEARCH semantics, hash-checked (round-12 verdict item 2): the
  * production sharded build (ref: py/hnsw.py:300-390) is rows-only
  * because its edge set depends on a sequential heap walk — but the
  * SEARCH algorithm (greedy upper-layer descent + ef-bounded beam at
  * layer 0, py/hnsw.py:240-277) is independently auditable by running
  * it over a DETERMINISTIC layered graph both engines can reconstruct:
  *
  *   - levels: the engine's md5 coin over the global id fed through the
  *     paper formula floor(−ln(u)·mL) — the exact draw
  *     [[HnswParams.deterministicLevels]] uses, already SQL-proven by
  *     hnsw_level_stats. The coin's 10⁶ granularity bounds u ≥ 1/1000001,
  *     so level ≤ floor(ln(1000001)·mL) = 4 at m=16 — a STATIC unroll
  *     bound, independent of corpus size.
  *   - edges at layer l: each layer-l node's exact top-m (top-m0 at
  *     layer 0) neighbors among layer-l nodes, (dist, id)-ascending —
  *     the idealized HNSW graph (what the heap walk approximates).
  *   - search: from the max-level node (tie → smallest id), G greedy
  *     argmin rounds per layer from the top layer down to 1, then an
  *     R-round synchronized beam of width ef at layer 0 (the bounded
  *     replay contract knn_graph_search established), final exact top-k.
  *
  * Every stage is (dist, id)-deterministic and replays as unrolled SQL,
  * so the full search trajectory is oracle-checkable — "hash-checked
  * given index". Scale shape: the per-layer exact-kNN edge build is the
  * AUDIT-scale half (the same bounded-heap TypedImperativeAggregate as
  * knn_bruteforce — quadratic by nature, run at audit slices); the
  * search replay walks the index as one broadcast [[LocalGraph]], under
  * the same [[LocalGraph.MaxAuditNodes]] cap. The production build and
  * search stay [[DistributedHnsw]].
  */
object HnswReplay {

  /** Static max level: u ≥ 1/1000001 ⇒ −ln(u)·(1/ln 16) ≤ 4.983. */
  val MaxLevel = 4

  /** The md5-coin level draw — bit-identical to
    * [[HnswParams.deterministicLevels]]'s KMeans.md5Coin path and to the
    * hnsw_level_stats oracle SQL.
    */
  def levelCol(id: Column, seed: Long, m: Int): Column = {
    val u =
      (Dedup.md5Long(concat(id.cast("string"), lit(s":hnswlvl:$seed")))
        % 1000000L + 1L).cast("double") / lit(1000001.0)
    floor(-log(u) * lit(1.0 / math.log(m.toDouble))).cast("int")
  }

  /** Idealized per-layer edges in ONE pass: broadcast the node matrix
    * and levels of [[LocalGraph.layeredNodes]], then each base row
    * computes its distance row once and selects top-m (top-m0 at layer
    * 0) per layer it occupies, ties (dist, id)-ascending. Distance is the
    * same ascending-index sequential sum as L2SqExpr / the oracle's
    * list_sum, so ranks are bit-reproducible across engines. Returns
    * (layer, src, dst).
    */
  private def idealEdges(
      base: DataFrame,
      nodes: LocalGraph,
      levels: Array[Int],
      m: Int,
      m0: Int
  ): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    require(nodes.ids.nonEmpty, "idealEdges on empty input")
    val bc = spark.sparkContext.broadcast((nodes, levels))
    base.select(col("id"), col("vec"), col("level"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        val (g, lvls) = bc.value
        val ids = g.ids
        val n = ids.length
        it.flatMap { case (sid, svecSeq, slvl) =>
          val dist = Array.tabulate(n)(g.l2(svecSeq.toArray))
          (0 to math.min(slvl, MaxLevel)).iterator.flatMap { l =>
            val deg = if (l == 0) m0 else m
            // candidate indices at this layer, id-ascending, excl. self
            val cand = Array.newBuilder[Int]
            var j2 = 0
            while (j2 < n) {
              if (lvls(j2) >= l && ids(j2) != sid) cand += j2
              j2 += 1
            }
            val cs = cand.result()
            // top-deg by (dist, id): ids ascending within equal dist is
            // preserved by a stable sort over the id-ascending candidates
            val sorted = cs.sortBy(dist(_)) // scala sortBy is stable
            sorted.iterator.take(deg).map(j3 => (l, sid, ids(j3)))
          }
        }
      }
      .toDF("layer", "src", "dst")
  }

  /** The deterministic layered index as an immutable artifact:
    * (id, vec, level) plus the idealized per-layer edge table, both
    * localCheckpoint-materialized — rebuildable bit-identically from
    * the corpus (levels are md5 coins, edges exact top-m), so it can be
    * memoized per sf dir like the hnsw family's shared builds.
    *
    * `local` is the same artifact as one broadcast [[LocalGraph]] (ids,
    * flat vector matrix, per-layer adjacency) — legal at this component's
    * declared audit scale ([[LocalGraph.MaxAuditNodes]]); the node matrix
    * is the one the edge build collected, so a build collects the base
    * table once. It turns every |Q|-bounded search walk into ONE narrow
    * mapPartitions pass instead of 10+ rounds of tiny joins/windows
    * (guide §1.2 step 1: fix the distributed algorithm before anything
    * else — the replay walks were paying per-round scheduling/shuffle
    * machinery on kilobyte frontiers).
    */
  final case class LayeredIndex(base: DataFrame, edges: DataFrame)(nodes: LocalGraph) {
    @transient private[operators] lazy val local: Broadcast[LocalGraph] =
      LocalGraph.layered(nodes, edges)
  }

  def buildLayered(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      m0: Int = 16,
      seed: Long = 42,
      mLevels: Int = 16
  ): LayeredIndex = {
    val base = emb
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("level", levelCol(col("id"), seed, mLevels))
      .localCheckpoint()
    val (nodes, levels) = LocalGraph.layeredNodes(base)
    LayeredIndex(base, idealEdges(base, nodes, levels, m, m0).localCheckpoint())(nodes)
  }

  /** Deterministic layered search replay over a prebuilt [[LayeredIndex]]:
    * [[replayEfCurve]] at one ef. Returns (query_id, neighbor_id, dist,
    * rnk) with rnk ≤ k per query.
    */
  def searchReplay(
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame =
    replayEfCurve(idx, queries, qidCol, qvecCol, k, Seq(ef), greedyRounds,
      beamRounds).drop("ef")

  /** Recall-vs-ef operating curve over the SAME artifact: the greedy
    * descent is ef-independent, so it runs ONCE per query and each ef
    * setting re-runs only the layer-0 beam — all inside ONE narrow
    * mapPartitions pass over the queries against the broadcast index.
    * Returns one (query_id, neighbor_id, dist, rnk, ef) block per
    * setting — the first ef curve in the suite whose index AND searches
    * are fully hash-checkable.
    */
  def replayEfCurve(
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      efs: Seq[Int],
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame = {
    require(efs.distinct.length == efs.length,
      s"replayEfCurve: duplicate efs in ${efs.mkString("[", ", ", "]")}")
    efs.foreach(requireWalk(k, _, beamRounds))
    LocalGraph.perQuery(idx.local, queries, qidCol, qvecCol) { (g, qid, qv) =>
      val dist = g.l2(qv)
      val start = g.greedy(dist, greedyRounds)
      efs.iterator.flatMap { ef =>
        g.beam(dist, start, ef, beamRounds)._1
          .iterator.take(k).zipWithIndex.map { case ((i, d), pos) =>
            (qid, g.ids(i), d, (pos + 1).toLong, ef.toLong)
          }
      }
    }.toDF("query_id", "neighbor_id", "dist", "rnk", "ef")
  }

  /** Attribute-filtered search replay — the hnswlib filter contract
    * ([[DistributedHnsw.searchFiltered]] / LocalGraphSearcher.search's `allow`:
    * route THROUGH disallowed nodes, only allowed ids enter W) pinned by
    * an oracle instead of ScalaTest gates alone. The greedy descent and
    * the layer-0 ROUTING beam are completely unfiltered (severing
    * disallowed waypoints would cut paths and crater recall — the whole
    * point of the contract); the RESULT set is the union of every
    * layer-0 round's scored candidate set (beam ∪ its neighbors — every
    * node the walk touched), restricted to allowed ids, exact
    * (dist, id) top-k.
    *
    * This is the deterministic synchronized spelling of the sequential
    * heap contract: hnswlib admits disallowed nodes to the candidate
    * heap C but never to W; here the rounds-bounded walk touches the
    * same bounded region and W = allowed ∩ visited. With every id
    * allowed it is BIT-IDENTICAL to [[searchReplay]] (a node dropped
    * from a round's ef-cut was beaten by ef nodes that persist through
    * later rounds, so the cumulative-visited top-k equals the final
    * beam's top-k — spec-gated).
    *
    * `negate = false`: `flagIds` is an allow-list (left-semi).
    * `negate = true`: `flagIds` is a tombstone list (left-anti) — the
    * DELETE half: sparse deletes ship |tombstones| rows, never an
    * N-row allow materialization.
    */
  def searchReplayFiltered(
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      flagIds: DataFrame,
      k: Int,
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int,
      negate: Boolean = false
  ): DataFrame = {
    requireWalk(k, ef, beamRounds)
    val qs = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
    val visited = visitedLayer0(idx, qs, ef, greedyRounds, beamRounds)
    val flags = flagIds
      .select(col(flagIds.columns.head).cast("long").as("cid"))
      .distinct()
    val eligible =
      if (negate) visited.join(flags, Seq("cid"), "left_anti")
      else visited.join(flags, Seq("cid"), "left_semi")
    eligible
      .withColumn("rnk",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))))
      .filter(col("rnk") <= k)
      .select(
        col("qid").as("query_id"),
        col("cid").as("neighbor_id"),
        col("d").as("dist"),
        col("rnk").cast("long").as("rnk"))
  }

  /** Every node the layer-0 walk touches, with its exact distance:
    * the union of each round's scored candidate set (beam ∪ its
    * neighbors), deduped — the eligible set W of the filter contract.
    * The routing beam inside is UNFILTERED by construction; one walk
    * serves ANY number of downstream allow-list cuts (the filtered
    * search, the tombstone search, the selectivity curve). Returns
    * (qid, cid, d), d a pure function of (qid, cid).
    */
  def visitedLayer0(
      idx: LayeredIndex,
      qs: DataFrame, // (qid, qv)
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame =
    LocalGraph.perQuery(idx.local, qs, "qid", "qv") { (g, qid, qv) =>
      val dist = g.l2(qv)
      val seen = g.beam(dist, g.greedy(dist, greedyRounds), ef, beamRounds)._2
      seen.entrySet.iterator.asScala.map { e =>
        (qid, g.ids(e.getKey), e.getValue.doubleValue)
      }
    }.toDF("qid", "cid", "d")

  /** Tombstone-excluding search replay — deleted ids stay routable
    * waypoints, never results ([[DistributedHnsw.searchWithTombstones]]).
    */
  def searchReplayDeleted(
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      tombstones: DataFrame,
      k: Int,
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame =
    searchReplayFiltered(
      idx, queries, qidCol, qvecCol, tombstones, k, ef,
      greedyRounds, beamRounds, negate = true)

  /** ADC-compressed search replay over the SAME layered artifact — the
    * reference's headline HNSW+PQ combination (PQCompression wired into
    * the search, ref: py/vector_compression.py:97-135, py/hnsw.py:191-203
    * dispatching distances through the compressor) hash-checked given
    * the reconstructible index: BOTH the greedy descent and the layer-0
    * beam score candidates by asymmetric PQ distance off a per-query LUT
    * — the walk reads only the code table (~M bytes/node), never a raw
    * vector — and the final top-k is an exact-L2² rerank of the last
    * beam's ef survivors (the ADC+R recall-recovery discipline, Jégou
    * et al. 2011 §V, the same contract as
    * [[NNDescent.beamSearchCompressed]]). Under the engine's
    * fixed-codebook convention every stage is (dist, id)-deterministic,
    * so the full compressed trajectory replays as unrolled SQL.
    * Returns (query_id, neighbor_id, dist, rnk) with exact reranked
    * distances.
    */
  def searchReplayAdc(
      idx: LayeredIndex,
      codes: DataFrame, // (cid, code) — PQ codes of every indexed node
      model: PQModel,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame = {
    requireWalk(k, ef, beamRounds)
    val codesBc = queries.sparkSession.sparkContext.broadcast(
      LocalGraph.codesByIndex("searchReplayAdc", idx.local.value,
        codes.select(col("cid"), col("code")), model))
    LocalGraph.perQuery(idx.local, queries, qidCol, qvecCol) { (g, qid, qv) =>
      val lut = model.adcLut(qv)
      val cds = codesBc.value
      val adc = (i: Int) => model.adcFromLut(lut, cds(i))
      val beam = g.beam(adc, g.greedy(adc, greedyRounds), ef, beamRounds)._1
      // exact rerank of the ef survivors — the only raw-vector read
      g.hits(qid, g.rank(beam.map(_._1), g.l2(qv), k))
    }.toDF("query_id", "neighbor_id", "dist", "rnk")
  }

  // Every public search above is spec-pinned equal to its twin in the
  // test-side HnswReplayRelational object.

  /** The walk contract of every search: at beamRounds = 0 the local walks
    * have no layer-0 round to rank while the relational twins NPE — the
    * equality contract only covers >= 1, so both spellings reject the
    * unsupported configuration identically.
    */
  private def requireWalk(k: Int, ef: Int, beamRounds: Int): Unit = {
    require(k <= ef, s"k=$k must be <= ef=$ef")
    require(beamRounds >= 1, s"beamRounds must be >= 1, got $beamRounds")
  }
}
