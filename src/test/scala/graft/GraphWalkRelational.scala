package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TopKAgg.topK
import graft.functions.VectorExpressions.l2SqFast
import graft.operators.{PQModel, ProductQuantizer}

/** Reference twins of the kNN-graph walks in [[graft.operators.NNDescent]]
  * (beam search, raw and compressed) and [[graft.operators.GraphAudit]]
  * (multi-source BFS, Brandes betweenness): the original iterative-join
  * spelling of each walk (a round of joins, distinct and aggregates per
  * hop), kept only for GraphWalkSpec, which pins each local walk equal
  * to its twin row for row.
  */
object GraphWalkRelational {

  /** Relational beam search over a navigable graph (the serving half of
    * the DiskANN story; Subramanya et al. 2019 §3): from a fixed entry
    * node, repeatedly expand every node in each query's current beam
    * through the edge table, score the neighbors, and keep the best
    * `beam` per query — greedy best-first search restructured as
    * BFS-beam so it is PURE JOINS: frontier ⋈ edges (equi on the node
    * id) → ⋈ vectors → bounded-heap top-beam. The graph and corpus stay
    * sharded; queries ride the frontier rows; nothing is broadcast but
    * the per-round frontier (|Q|·beam rows). Small-world graphs reach
    * their fixpoint in O(diameter) ≈ log N rounds — `rounds` bounds it.
    *
    * Monotone by construction: the new beam is top-beam of (old beam ∪
    * expansions), so per-query best-k never regresses with more rounds
    * (spec-gated, with final recall against exact kNN).
    */
  def beamSearchRelational(
      graph: DataFrame, // src long, dst long
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      beam: Int,
      rounds: Int,
      entryId: Long
  ): DataFrame = {
    require(beam >= k, "beam must be at least k")
    require(rounds >= 1, "beamSearch needs at least one expansion round")
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val q = queries.select(
      col(qidCol).cast("long").as("qid"),
      col(qvecCol).cast("array<double>").as("qvec"))

    def scored(cand: DataFrame): DataFrame = // (qid, id) -> + dist
      cand
        .join(v, "id")
        .join(q, "qid")
        .select(col("qid"), col("id"),
          l2SqFast(col("qvec"), col("vec")).as("dist"))

    // a missing entry node silently inner-joins to an empty seed, which
    // would return "no neighbors" for every query — fail loudly instead
    require(
      v.filter(col("id") === entryId).limit(1).count() == 1,
      s"beamSearch: entryId $entryId is not an id in the vector table")
    neighbors(bestPer(
      beamWalk(q, graph, scored, beam, rounds, entryId), "qid", "id", k))
  }

  /** [[beamSearch]] in the DiskANN serving layout: the WALK reads only a
    * PQ code table (~M bytes/node) and per-query dot LUTs — never a raw
    * vector — and the raw corpus is touched once at the end, by an exact
    * rerank of the ≤ |Q|·beam surviving candidates (Subramanya et al.
    * 2019 §3: "compressed vectors guide the search, full-precision
    * vectors re-rank"). At graph scale this is the difference between
    * shipping D·8 bytes and M bytes per expanded node through every
    * round's join — the same codes-not-vectors argument as the persisted
    * HNSW shard code table.
    *
    * ADC distances are approximate, so the walk can locally deviate from
    * the raw-vector walk; the exact rerank restores precision on
    * whatever the compressed beam retained (recall floor spec-gated in
    * NNDescentSpec, alongside the raw path's).
    */
  def beamSearchCompressedRelational(
      graph: DataFrame, // src long, dst long
      codes: DataFrame, // (id long, code array) — the corpus in the walk
      model: PQModel,
      vecs: DataFrame, // raw vectors — read ONLY by the final rerank
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      beam: Int,
      rounds: Int,
      entryId: Long
  ): DataFrame = {
    require(beam >= k, "beam must be at least k")
    require(rounds >= 1, "beamSearchCompressed needs at least one round")
    val c = codes.select(col("id").cast("long").as("id"), col("code"))
    val q = queries
      .select(
        col(qidCol).cast("long").as("qid"),
        col(qvecCol).cast("array<double>").as("qvec"))
      .select(
        col("qid"), col("qvec"),
        ProductQuantizer.lutCol(model, col("qvec")).as("lut"))
      // the LUT table is |Q| rows × M·K doubles — evaluate once, every
      // round's scoring joins it
      .localCheckpoint()

    def scoredAdc(cand: DataFrame): DataFrame = // (qid, id) -> + ADC dist
      cand
        .join(c, "id")
        .join(q.select(col("qid"), col("lut")), "qid")
        .select(col("qid"), col("id"),
          ProductQuantizer.adcFromLutCol(model, col("lut"), col("code")).as("dist"))

    require(
      c.filter(col("id") === entryId).limit(1).count() == 1,
      s"beamSearchCompressed: entryId $entryId is not in the code table")
    val state = beamWalk(q, graph, scoredAdc, beam, rounds, entryId)
    // exact rerank: the ONLY raw-vector read, over ≤ |Q|·beam rows
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val reranked = state
      .select(col("qid"), col("id"))
      .join(v, "id")
      .join(q.select(col("qid"), col("qvec")), "qid")
      .select(col("qid"), col("id"),
        l2SqFast(col("qvec"), col("vec")).as("dist"))
    neighbors(bestPer(reranked, "qid", "id", k))
  }

  /** Distinct undirected edges as (a, b), a < b, self-loops dropped. */
  private def und(edges: DataFrame): DataFrame =
    edges
      .select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Both-direction spelling of [[und]]: one row per (node, neighbor). */
  private def undBoth(edges: DataFrame): DataFrame = {
    val u = und(edges)
    u.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(u.select(col("b").as("id"), col("a").as("nb")))
  }

  /** Exact multi-source BFS over the undirected view: one row per
    * (source, reached node) with the minimal hop ≤ `rounds` — the
    * distance-distribution audit of the graph tier (hop histogram =
    * effective-radius census; Palmer et al. 2002 measure the same curve
    * approximately, here it is exact over a declared source slice, the
    * audit-sampling discipline of eval_dedup_blocking). FRONTIER-based:
    * round t joins only the nodes first reached at t−1 against the
    * adjacency, then anti-joins the visited set, so per-round work is
    * |frontier|·avg-degree, never |visited|·degree; localCheckpoint
    * truncates lineage per round (the [[PageRank]] pattern). Integer
    * state end to end — replays exactly as unrolled SQL.
    *
    * @param sources one column: the BFS source ids
    * @return (s, id, hop) — hop 0 is the source itself
    */
  def multiSourceBfsRelational(
      edges: DataFrame,
      sources: DataFrame,
      rounds: Int
  ): DataFrame = {
    require(rounds >= 1, s"multiSourceBfs needs >= 1 round, got $rounds")
    val adj = undBoth(edges).localCheckpoint()
    var visited = sources
      .select(col(sources.columns.head).cast("long").as("s"))
      .withColumn("id", col("s"))
      .withColumn("hop", lit(0))
      .localCheckpoint()
    var frontier = visited.select(col("s"), col("id"))
    for (t <- 1 to rounds) {
      frontier = frontier
        .join(adj, Seq("id"))
        .select(col("s"), col("nb").as("id"))
        .distinct()
        .join(visited, Seq("s", "id"), "left_anti")
        .localCheckpoint()
      visited = visited
        .unionByName(frontier.withColumn("hop", lit(t)))
        .localCheckpoint()
    }
    visited
  }

  /** Pivot-source betweenness centrality (Brandes 2001, with the pivot
    * sampling of Brandes–Pich 2007 / Bader et al. 2007): exact Brandes
    * forward/backward passes from each source in `sources`, horizon
    * `rounds`, so bw(v) = Σ_s δ_s(v) over the pivot slice — the standard
    * corpus-scale estimator (full Brandes is O(nm); pivots make it
    * O(\|S\|·m) with every pass a keyed join).
    *
    * Forward: BFS levels carrying the shortest-path COUNT σ (integer —
    * σ(w) = Σ σ(v) over hop-(t−1) predecessors). Backward: the
    * dependency recurrence δ(v) = Σ_w (σ_v/σ_w)(1+δ_w) accumulated
    * level by level; each term is a double divided/multiplied
    * identically on every engine and cast to DECIMAL(38,20) inside the
    * sum (the [[PageRank]] decimal-routing discipline), so the whole
    * trajectory is partition-order-exact and replays as unrolled SQL.
    *
    * @return (id, bw) for every node in `ids` (0.0 when never interior);
    *         bw excludes δ_s(s) per Brandes.
    */
  def betweennessBrandesRelational(
      edges: DataFrame,
      sources: DataFrame,
      ids: DataFrame,
      rounds: Int
  ): DataFrame = {
    require(rounds >= 1, s"betweennessBrandes needs >= 1 round, got $rounds")
    val dec = DecimalType(38, 20)
    val adj = undBoth(edges).localCheckpoint()
    val l0 = sources
      .select(col(sources.columns.head).cast("long").as("s"))
      .withColumn("id", col("s"))
      .withColumn("sig", lit(1L))
      .localCheckpoint()
    // forward: levels(t) = (s, id, sig), visited = union of levels
    val levels = scala.collection.mutable.ArrayBuffer(l0)
    var visited = l0.select(col("s"), col("id"))
    for (t <- 1 to rounds) {
      val lt = levels(t - 1)
        .join(adj, Seq("id"))
        .select(col("s"), col("nb").as("id"), col("sig"))
        .join(visited, Seq("s", "id"), "left_anti")
        .groupBy(col("s"), col("id"))
        .agg(sum(col("sig")).as("sig"))
        .localCheckpoint()
      levels += lt
      visited = visited
        .unionByName(lt.select(col("s"), col("id")))
        .localCheckpoint()
    }
    // predecessor DAG edges between consecutive levels:
    // (s, v@t−1, σv, w@t, σw)
    def predEdges(t: Int): DataFrame =
      levels(t - 1)
        .select(col("s"), col("id").as("v"), col("sig").as("sv"))
        .join(adj.select(col("id").as("v"), col("nb").as("w")), Seq("v"))
        .join(
          levels(t).select(
            col("s"), col("id").as("w"), col("sig").as("sw")),
          Seq("s", "w"))
    // backward: δ at the deepest level is 0; each level's δ is the
    // decimal-exact sum of (σv/σw)(1+δw) over its successors
    var delta = levels(rounds)
      .select(col("s"), col("id"), lit(0.0).as("dl"))
    val acc = scala.collection.mutable.ArrayBuffer(delta)
    for (t <- rounds to 1 by -1) {
      val contrib = predEdges(t)
        .join(
          delta.select(col("s"), col("id").as("w"), col("dl")),
          Seq("s", "w"))
        .groupBy(col("s"), col("v").as("id"))
        .agg(
          sum(((col("sv").cast("double") / col("sw")) * (lit(1.0) + col("dl")))
            .cast(dec)).cast("double").as("acc"))
      delta = levels(t - 1)
        .select(col("s"), col("id"))
        .join(contrib, Seq("s", "id"), "left")
        .select(col("s"), col("id"), coalesce(col("acc"), lit(0.0)).as("dl"))
        .localCheckpoint()
      acc += delta
    }
    val all = acc.map(_.filter(col("id") =!= col("s"))).reduce(_.unionByName(_))
    ids
      .select(col(ids.columns.head).cast("long").as("id"))
      .join(
        all.groupBy(col("id"))
          .agg(sum(col("dl").cast(dec)).cast("double").as("bw")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("bw"), lit(0.0)).as("bw"))
  }

  /** The beam walk both beam searches share: from `entryId`, each round
    * expands every node of each query's beam through the edge table,
    * scores the expansion with `scored` ((qid, id) -> + dist), unions the
    * old beam, keeps each id's min distance and the best `beam` per
    * query. Returns the final beam as (qid, id, dist).
    */
  private def beamWalk(
      q: DataFrame, // qid, ...
      graph: DataFrame, // src long, dst long
      scored: DataFrame => DataFrame,
      beam: Int,
      rounds: Int,
      entryId: Long
  ): DataFrame = {
    val edges = graph.select(col("src").as("id"), col("dst"))
    var state = scored(q.select(col("qid"), lit(entryId).as("id")))
    var r = 0
    while (r < rounds) {
      val expanded = state
        .join(edges, "id")
        .select(col("qid"), col("dst").as("id"))
        .distinct()
      state = bestPer(
        scored(expanded)
          .unionAll(state)
          .groupBy(col("qid"), col("id"))
          .agg(min(col("dist")).as("dist")),
        "qid", "id", beam)
        .select(col("qid"), col("id"), col("dist"))
        // each round references the previous state TWICE (expansion +
        // merge), so an unmaterialized lineage grows ~3^rounds; truncate
        // it — the state is |Q|·beam rows, the iterative-algorithm
        // analog of distributedRank's evaluate-once checkpoint
        .localCheckpoint()
      r += 1
    }
    state
  }

  /** The best `k` rows by (dist, id) per `key` — the bounded-heap [[topK]]
    * merge — as (key, id, dist, rnk), rnk 1..k. */
  private def bestPer(df: DataFrame, key: String, id: String, k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(topK(col("dist"), col(id), k).as("tk"))
      .select(col(key), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(
        col(key), col("e.id").as(id), col("e.dist").as("dist"),
        (col("pos") + 1).cast("long").as("rnk"))

  /** A search's (qid, id, dist, rnk) as (query_id, neighbor_id, dist, rnk). */
  private def neighbors(best: DataFrame): DataFrame =
    best.select(
      col("qid").as("query_id"), col("id").as("neighbor_id"),
      col("dist"), col("rnk"))
}
