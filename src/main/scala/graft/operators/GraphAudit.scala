package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}

/** Structural audits of the (kNN) neighbor graph — the measurements a
  * graph-based curation stack publishes next to hubness
  * ([[graft.queries.VectorQueries]] knn_graph_hubness): triangle /
  * clustering-coefficient density (Watts–Strogatz 1998), coreness
  * (Seidman 1983, computed by the h-index fixpoint of Lü et al. 2016),
  * community modularity (Newman–Girvan 2004) and degree assortativity
  * (Newman 2002). All four read the same undirected view of a directed
  * neighbor graph and are aggregation/join-only — no pairwise blowup
  * beyond the degree-bounded wedge join, every accumulation either pure
  * integer or DECIMAL(38,20)-routed, so each replays exactly in the
  * DuckDB oracle.
  *
  * Scale notes (100 TB):
  *  - triangles use the DEGREE-ORDERED orientation (Suri &
  *    Vassilvitskii, WWW 2011): each undirected edge points from the
  *    lexicographically smaller (deg, id) endpoint to the larger, so
  *    every triangle is enumerated exactly once at its lowest-rank
  *    corner and the wedge join fans out Σ outdeg(u)² with
  *    outdeg = O(√m) worst-case — the hub that breaks the naive
  *    neighbor-pair join never materializes its C(deg, 2) wedges;
  *  - coreness is R rounds of one edge⋈state join + one per-node
  *    windowed h-index — linear in edges per round, integer state,
  *    localCheckpoint-truncated lineage;
  *  - modularity/assortativity are single grouping aggregates over the
  *    edge list.
  */
object GraphAudit {

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

  /** Undirected degree per node (0 for isolated universe members). */
  private def degrees(edges: DataFrame, ids: DataFrame): DataFrame =
    ids
      .select(col("id").cast("long").as("id"))
      .join(
        undBoth(edges).groupBy(col("id")).agg(count(lit(1)).as("deg")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))

  /** Exact multi-source BFS over the undirected view: one row per
    * (source, reached node) with the minimal hop ≤ `rounds` — the
    * distance-distribution audit of the graph tier (hop histogram =
    * effective-radius census; Palmer et al. 2002 measure the same curve
    * approximately, here it is exact over a declared source slice, the
    * audit-sampling discipline of eval_dedup_blocking). The undirected
    * graph is collected once into a broadcast [[LocalGraph]] (capped at
    * [[LocalGraph.MaxAuditNodes]] nodes) and each source ROW runs one
    * integer BFS in ONE mapPartitions pass, so the job count does not
    * grow with `rounds`. Integer state end to end — replays exactly as
    * unrolled SQL.
    *
    * @param sources one column: the BFS source ids
    * @return (s, id, hop) — hop 0 is the source itself
    */
  def multiSourceBfs(
      edges: DataFrame,
      sources: DataFrame,
      rounds: Int
  ): DataFrame = {
    require(rounds >= 1, s"multiSourceBfs needs >= 1 round, got $rounds")
    val spark = sources.sparkSession
    import spark.implicits._
    val local = LocalGraph.undirected("multiSourceBfs", edges)
    perSource[(Option[Long], Option[Long], Int)](sources) { it =>
      val g = local.value
      it.flatMap {
        case None => Iterator((None, None, 0))
        case src @ Some(s) =>
          val i = g.indexOf(s)
          if (i < 0) Iterator((src, src, 0))
          else g.levels(i, rounds)._1.iterator.zipWithIndex.flatMap { case (lv, hop) =>
            lv.iterator.map(v => (src, Some(g.ids(v)), hop))
          }
      }
    }.toDF("s", "id", "hop")
  }

  /** The source ids of `sources` (its first column), one mapPartitions
    * pass; a null source is None. */
  private def perSource[T: Encoder](sources: DataFrame)(
      f: Iterator[Option[Long]] => Iterator[T]): Dataset[T] =
    sources.select(col(sources.columns.head).cast("long"))
      .mapPartitions((it: Iterator[Row]) =>
        f(it.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))))

  /** k-truss peeling trajectory (Cohen 2008) — the EDGE-cohesion audit
    * next to [[coreness]]'s node view: round t recomputes every
    * surviving edge's triangle SUPPORT (common-neighbor count) and
    * drops edges with support < k−2; the fixed-round schedule (the
    * [[coreness]] discipline — declared semantics whether or not the
    * peel has converged) emits the (round, n_edges, n_nodes) census.
    * All integer, so the whole trajectory replays as unrolled SQL.
    * Per round: one wedge join (Σ deg² bounded on a kNN graph, where
    * degree is ~2k) + one per-edge count — no global state, no driver
    * collects (censuses are 1-row aggregates unioned into the plan).
    */
  def trussTrajectory(
      edges: DataFrame,
      k: Int,
      rounds: Int
  ): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"trussTrajectory needs >= 1 round, got $rounds")
    var e = und(edges).localCheckpoint()
    def census(r: Int, cur: DataFrame): DataFrame = {
      val nodes = cur.select(col("a").as("id"))
        .unionAll(cur.select(col("b").as("id")))
        .distinct().agg(count(lit(1)).as("n_nodes"))
      cur.agg(count(lit(1)).as("n_edges"))
        .crossJoin(nodes)
        .select(lit(r.toLong).as("rnd"), col("n_edges"), col("n_nodes"))
    }
    val out = Seq.newBuilder[DataFrame]
    out += census(0, e)
    for (r <- 1 to rounds) {
      val sym = e.select(col("a").as("id"), col("b").as("nb"))
        .unionAll(e.select(col("b").as("id"), col("a").as("nb")))
      val sup = e
        .join(sym.select(col("id").as("a"), col("nb").as("c1")), Seq("a"))
        .join(sym.select(col("id").as("b"), col("nb").as("c2")), Seq("b"))
        .filter(col("c1") === col("c2"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("sup"))
      e = e.join(sup, Seq("a", "b"))
        .filter(col("sup") >= k - 2)
        .select(col("a"), col("b"))
        .localCheckpoint()
      out += census(r, e)
    }
    out.result().reduce(_.unionByName(_))
  }

  /** Pivot-source betweenness centrality (Brandes 2001, with the pivot
    * sampling of Brandes–Pich 2007 / Bader et al. 2007): exact Brandes
    * forward/backward passes from each source in `sources`, horizon
    * `rounds`, so bw(v) = Σ_s δ_s(v) over the pivot slice — the standard
    * estimator (full Brandes is O(nm); pivots make it O(\|S\|·m)).
    *
    * Forward: BFS levels carrying the shortest-path COUNT σ (integer —
    * σ(w) = Σ σ(v) over hop-(t−1) predecessors). Backward: the
    * dependency recurrence δ(v) = Σ_w (σv/σw)(1+δw) accumulated
    * level by level; each term is a double divided/multiplied
    * identically on every engine and cast to DECIMAL(38,20) inside the
    * sum (the [[PageRank]] decimal-routing discipline), so the whole
    * trajectory is partition-order-exact and replays as unrolled SQL.
    * Both passes run per source against a broadcast [[LocalGraph]]
    * (capped at [[LocalGraph.MaxAuditNodes]] nodes) in ONE mapPartitions
    * pass ([[LocalGraph.dependencies]]); the per-id decimal sum over
    * sources and the join against `ids` stay relational.
    *
    * @return (id, bw) for every node in `ids` (0.0 when never interior);
    *         bw excludes δ_s(s) per Brandes.
    */
  def betweennessBrandes(
      edges: DataFrame,
      sources: DataFrame,
      ids: DataFrame,
      rounds: Int
  ): DataFrame = {
    require(rounds >= 1, s"betweennessBrandes needs >= 1 round, got $rounds")
    val spark = sources.sparkSession
    import spark.implicits._
    val local = LocalGraph.undirected("betweennessBrandes", edges)
    val all = perSource[(Long, Double)](sources) { it =>
      val g = local.value
      it.flatMap(_.map(g.indexOf).filter(_ >= 0).iterator)
        .flatMap(g.dependencies(_, rounds))
    }.toDF("id", "dl")
    ids
      .select(col(ids.columns.head).cast("long").as("id"))
      .join(
        all.groupBy(col("id"))
          .agg(sum(col("dl").cast(DecimalType(38, 20))).cast("double").as("bw")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("bw"), lit(0.0)).as("bw"))
  }

  /** Per-node triangle count and local clustering coefficient over the
    * undirected view of `edges`.
    *
    * @param edges directed (src, dst) — symmetrized + deduped here
    * @param ids   one row per node id in the universe
    * @return (id, deg, tri, cc) — cc = 2·tri / (deg·(deg−1)), 0 when
    *         deg < 2; both engines divide identical small integers
    */
  def triangleStats(edges: DataFrame, ids: DataFrame): DataFrame = {
    val u = und(edges).localCheckpoint()
    val dg = degrees(edges, ids).localCheckpoint()
    // orient each edge from the smaller (deg, id) endpoint to the larger
    val withDeg = u
      .join(dg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(dg.select(col("id").as("b"), col("deg").as("db")), "b")
    val dir = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .join(dg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("dv"))
      .localCheckpoint()
    // wedges at the lowest-rank corner u: out-neighbor pairs (v, w) with
    // rank(v) < rank(w); a closing oriented edge v→w completes a triangle
    val e1 = dir.select(col("u"), col("v"), col("dv"))
    val e2 = dir.select(
      col("u"), col("v").as("w"), col("dv").as("dw"))
    val tris = e1
      .join(e2, Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .join(
        dir.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"), "leftsemi")
      .select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("tri"))
    dg
      .join(perNode, Seq("id"), "left")
      .select(
        col("id"),
        col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** [[triangleStats]] off a shared [[WedgeStats]] artifact: tri(v) =
    * Σ_{u∈N(v)} c(v,u) / 2 — a triangle at v is counted once by EACH of
    * its two v-incident edges, so the halved incident-edge support sum
    * (always even) is the exact per-node triangle count. Identical
    * output to the orientation-based build without re-paying a wedge
    * join; GraphAuditSpec gates the equality.
    */
  def triangleStats(stats: WedgeStats): DataFrame = {
    val perNode = stats.cn
      .select(explode(array(col("a"), col("b"))).as("id"), col("c"))
      .groupBy(col("id"))
      .agg((sum(col("c")) / 2).cast("long").as("tri"))
    stats.dg
      .join(perNode, Seq("id"), "left")
      .select(
        col("id"),
        col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Coreness by the h-index fixpoint (Lü et al., Nature Comms 2016):
    * c₀(v) = deg(v); c_{t+1}(v) = H{c_t(u) : u ∈ N(v)} where H is the
    * h-index (largest h with ≥ h neighbor values ≥ h). The sequence is
    * non-increasing and converges to the k-core number; `rounds` is a
    * FIXED schedule so the result is deterministic integers whether or
    * not the fixpoint has been reached (GraphAuditSpec pins convergence
    * on the test graphs against an independent peeling loop).
    *
    * @return (id, deg, coreness) — all integer
    */
  def coreness(edges: DataFrame, ids: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"coreness needs >= 1 round, got $rounds")
    val ub = undBoth(edges).localCheckpoint()
    val dg = degrees(edges, ids).localCheckpoint()
    var state = dg.select(col("id"), col("deg").as("c")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      val nbVals = ub
        .join(state.select(col("id").as("nb"), col("c").as("cv")), "nb")
        .select(col("id"), col("cv"))
      // h-index per node: sort neighbor values descending, h = max over
      // positions p of min(p, value_p); ties in cv need no tiebreak (the
      // h value depends only on the sorted multiset) but order by cv
      // desc keeps the window deterministic anyway
      val w = Window.partitionBy(col("id")).orderBy(col("cv").desc)
      val h = nbVals
        .withColumn("p", row_number().over(w))
        .groupBy(col("id"))
        .agg(max(least(col("p").cast("long"), col("cv"))).as("h"))
      state = state
        .select(col("id"))
        .join(h, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("c"))
        .localCheckpoint()
      r += 1
    }
    dg.join(state, "id")
      .select(col("id"), col("deg"), col("c").as("coreness"))
  }

  /** Newman–Girvan modularity of a node→community assignment over the
    * undirected view of `edges`: per community c,
    * q_c = e_c/m − (d_c/(2m))² with e_c the intra-community edge count,
    * d_c the community degree sum, m the total undirected edge count;
    * Q = Σ_c q_c. All inputs to the divisions are exact integers, so
    * both engines compute identical doubles.
    *
    * @param communities (id, community) — every graph node must appear;
    *                    universe members absent from `communities` are
    *                    treated as singleton communities of themselves
    * @return one row per community: (community, n_nodes, e_in, deg_sum, q)
    */
  def modularity(
      edges: DataFrame,
      ids: DataFrame,
      communities: DataFrame
  ): DataFrame = {
    val u = und(edges).localCheckpoint()
    val comm = ids
      .select(col("id").cast("long").as("id"))
      .join(
        communities.select(
          col("id").cast("long").as("id"),
          col("community").cast("long").as("community")),
        Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("community"), col("id")).as("community"))
      .localCheckpoint()
    val m = u.count()
    require(m > 0, "modularity needs at least one edge")
    val dg = degrees(edges, comm.select(col("id")))
      .join(comm, "id")
    val dsum = dg
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val ein = u
      .join(comm.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(comm.select(col("id").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_in"))
    dsum
      .join(ein, Seq("community"), "left")
      .select(
        col("community"),
        col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        col("deg_sum"),
        (coalesce(col("e_in"), lit(0L)).cast("double") / lit(m.toDouble) -
          (col("deg_sum").cast("double") / lit(2.0 * m)) *
            (col("deg_sum").cast("double") / lit(2.0 * m))).as("q"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): for every
    * non-adjacent pair (a, b) sharing ≥ 1 neighbor,
    * score = Σ_{v ∈ N(a)∩N(b)} 1/ln(deg v) — the "missing edge" audit of
    * the kNN graph (pairs the graph builder should have connected:
    * candidates for graph repair, or near-dup pairs the kNN recall
    * missed). Common neighbors of degree > `maxHubDeg` are excluded from
    * the wedge: they contribute ~1/ln(huge) ≈ 0 signal yet C(deg, 2)
    * quadratic wedges — the same hot-key discipline as the dedup df
    * caps, declared as part of the operator (a common neighbor has
    * deg ≥ 2, so ln never hits 0). Per-term 1/ln routes through
    * DECIMAL(38,20) before the sum; ranking compares unrounded doubles
    * with the (score DESC, a, b) total order.
    *
    * Scale: wedge fan-out Σ_{v, deg≤cap} deg(v)² — bounded per node by
    * the cap, linear in edges otherwise; the existing-edge anti-join and
    * the top-N TakeOrdered never materialize more than the wedge table.
    *
    * @return top `topN` rows (a, b, n_common, score), a < b
    */
  def adamicAdar(
      edges: DataFrame,
      ids: DataFrame,
      topN: Int,
      maxHubDeg: Long = 10000L
  ): DataFrame = {
    require(topN >= 1, s"adamicAdar: topN must be >= 1, got $topN")
    val dec = DecimalType(38, 20)
    val u = und(edges).localCheckpoint()
    val dg = degrees(edges, ids).localCheckpoint()
    val ub = u.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(u.select(col("b").as("id"), col("a").as("nb")))
    val mid = ub
      .join(dg.filter(col("deg") <= maxHubDeg)
        .select(col("id"), col("deg")), "id")
      .select(col("id").as("v"), col("nb"), col("deg"))
    val wedge = mid.select(col("v"), col("nb").as("a"), col("deg"))
      .join(mid.select(col("v"), col("nb").as("b")), "v")
      .filter(col("a") < col("b"))
    val scored = wedge
      .join(u, Seq("a", "b"), "left_anti") // non-adjacent pairs only
      .groupBy(col("a"), col("b"))
      .agg(
        count(lit(1)).as("n_common"),
        sum((lit(1.0) / log(col("deg").cast("double"))).cast(dec))
          .cast("double").as("score"))
    scored
      .orderBy(col("score").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the both-direction undirected edge list (each
    * edge contributes (deg_u, deg_v) and (deg_v, deg_u), the standard
    * undirected convention). Sums of integer products route through
    * DECIMAL(38,0) (exact, order-free); the final covariance/variance
    * arithmetic then acts on identical doubles in both engines.
    *
    * @return one row: (m_ends, assortativity) with m_ends = 2·|E|
    */
  def assortativity(edges: DataFrame, ids: DataFrame): DataFrame = {
    val dg = degrees(edges, ids).localCheckpoint()
    val pairs = undBoth(edges)
      .join(dg.select(col("id"), col("deg").as("dx")), "id")
      .join(dg.select(col("id").as("nb"), col("deg").as("dy")), "nb")
      .select(col("dx"), col("dy"))
    val dec = DecimalType(38, 0)
    val mo = pairs.agg(
      count(lit(1)).as("m_ends"),
      sum(col("dx").cast(dec)).cast("double").as("sx"),
      sum(col("dy").cast(dec)).cast("double").as("sy"),
      sum((col("dx") * col("dy")).cast(dec)).cast("double").as("sxy"),
      sum((col("dx") * col("dx")).cast(dec)).cast("double").as("sxx"),
      sum((col("dy") * col("dy")).cast(dec)).cast("double").as("syy"))
    mo.select(
      col("m_ends"),
      ((col("sxy") / col("m_ends") -
        (col("sx") / col("m_ends")) * (col("sy") / col("m_ends"))) /
        (sqrt(col("sxx") / col("m_ends") -
          (col("sx") / col("m_ends")) * (col("sx") / col("m_ends"))) *
          sqrt(col("syy") / col("m_ends") -
            (col("sy") / col("m_ends")) * (col("sy") / col("m_ends")))))
        .as("assortativity"))
  }

  /** Per-community CONDUCTANCE over the undirected view (Kannan,
    * Vempala & Vetta 2004; the sweep-cut objective of local spectral
    * clustering): φ(c) = cut(c) / min(vol(c), vol(V)−vol(c)) with
    * vol = degree mass and cut = edges crossing the boundary — the
    * cut-quality audit next to modularity (modularity rewards density
    * vs a null model; conductance certifies the BOUNDARY is thin, the
    * property that makes a partition safe for partition-local
    * processing). Universe members missing from `comm` are singletons
    * under the non-colliding key −(id+1): always negative, so it can
    * never merge into a genuine (non-negative) community label that
    * happens to share a missing node's numeric id. All counts integer;
    * ONE division per community row; empty-volume communities report
    * φ = 0.
    *
    * Scale: two linear joins (edge⋈assignment, degree⋈assignment) and
    * one community-keyed aggregation — nothing pairwise.
    */
  def conductance(
      edges: DataFrame,
      ids: DataFrame,
      comm: DataFrame // (id, community)
  ): DataFrame =
    conductanceFrom(und(edges).localCheckpoint(), degrees(edges, ids), comm)

  /** [[conductance]] off a shared [[WedgeStats]] artifact (only the
    * undirected view + degrees are read — conductance never intersects
    * neighborhoods, but the family shares ONE materialization of the
    * graph it audits).
    */
  def conductance(stats: WedgeStats, comm: DataFrame): DataFrame =
    conductanceFrom(stats.u, stats.dg, comm)

  private def conductanceFrom(
      u: DataFrame,
      dg: DataFrame,
      comm: DataFrame
  ): DataFrame = {
    val cm = dg
      .select(col("id"))
      .join(
        comm.select(col("id").cast("long").as("id"),
          col("community").cast("long").as("community")),
        Seq("id"), "left")
      // the -(id+1) singleton key for assignment-missing nodes is only
      // collision-free when genuine ids and labels are non-negative; a
      // negative label could collide with (or invert into) the singleton
      // key space, so fail loudly instead of mis-keying
      .filter(assert_true(
        col("id") >= 0 && (col("community").isNull || col("community") >= 0),
        lit("conductance: ids and community labels must be non-negative " +
          "(the -(id+1) singleton key space would collide)")).isNull)
      .select(col("id"),
        coalesce(col("community"), -col("id") - 1).as("community"))
    val vol = dg
      .join(cm, "id")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("vol"))
    val crossing = u
      .join(cm.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(cm.select(col("id").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") =!= col("cb"))
    val cut = crossing.select(col("ca").as("community"))
      .unionAll(crossing.select(col("cb").as("community")))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("cut"))
    val tot = dg.agg(sum(col("deg")).as("tvol"))
    vol
      .join(cut, Seq("community"), "left")
      .crossJoin(tot)
      .select(
        col("community"), col("n_nodes"), col("vol"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        round(
          when(least(col("vol"), col("tvol") - col("vol")) > 0,
            coalesce(col("cut"), lit(0L)).cast("double")
              / least(col("vol"), col("tvol") - col("vol")))
            .otherwise(lit(0.0)), 6).as("conductance"))
  }

  /** SCAN structural clustering (Xu, Yuruk, Feng & Schweiger, KDD 2007)
    * over the undirected view: the role census separating community
    * mass from bridges from noise BEFORE a curation run trusts
    * graph-derived selections. Structural similarity of an edge (u,v)
    * is σ = |Γ(u)∩Γ(v)| / √(|Γ(u)|·|Γ(v)|) with CLOSED neighborhoods
    * (for an edge, |Γ(u)∩Γ(v)| = shared open neighbors + 2); an edge
    * with σ ≥ ε is an ε-edge; a node whose closed ε-neighborhood
    * (itself + its ε-edge neighbors) reaches μ is a CORE; clusters are
    * the connected components of the core–core ε-edge graph; a
    * non-core ε-neighbor of a core joins as BORDER (deterministic
    * variant: the MIN cluster rep among its adjacent ε-cores — the
    * paper leaves this to traversal order); every remaining node is a
    * HUB when its plain neighbors hold members of ≥ 2 distinct
    * clusters, else an OUTLIER.
    *
    * Exactness: σ ≥ ε compares as integers — with ε² = epsSqNum/epsSqDen,
    * epsSqDen·(c+2)² ≥ epsSqNum·(da+1)·(db+1) — so every decision is
    * exact and the whole census hash-checks. Scale: the shared-neighbor
    * count is ONE equi-keyed wedge join (fan-out Σ_edge min-deg, bounded
    * by the kNN graph's bounded degree), built by [[wedgeStats]]; the
    * census then collects the degree table (≤ 200k nodes,
    * [[LocalGraph.MaxAuditNodes]]) and the two edge tables (≤ 2M edges
    * each, [[LocalGraph.MaxAuditEdges]]) and finishes on the driver, so a
    * graph above either cap fails by name — SCAN is an audit-scale
    * census.
    *
    * Returns one row per universe id: (id, deg, role, cluster) with
    * cluster NULL for hubs/outliers.
    */
  def scan(
      edges: DataFrame,
      ids: DataFrame,
      epsSqNum: Long = 49L,
      epsSqDen: Long = 100L,
      mu: Int = 3
  ): DataFrame =
    scan(wedgeStats(edges, ids), epsSqNum, epsSqDen, mu)

  /** The SCAN/triangle tier's shared wedge artifact over ONE graph: the
    * undirected edge list, the universe degree table, and the per-edge
    * shared-open-neighbor count with endpoint degrees. The wedge join
    * that produces `cn` is the tier's dominant shuffle, and every
    * structural-similarity decision — σ ≥ ε at ANY ε, per-edge triangle
    * support, per-node triangle counts — is a FILTER or a linear
    * aggregation over these counts, so the family computes this once
    * (localCheckpoint-materialized) and shares it (the memoized-cut-table
    * discipline): knn_graph_scan, the 3-ε scan curve, eval_scan_agreement
    * and knn_graph_triangles all read the same artifact instead of each
    * re-paying the wedge shuffle.
    */
  final case class WedgeStats(
      u: DataFrame, // (a, b) undirected, a < b, deduped
      dg: DataFrame, // (id, deg) over the universe, isolated nodes deg 0
      cn: DataFrame // (a, b, c, da, db): c = |N(a) ∩ N(b)| open neighbors
  )

  def wedgeStats(edges: DataFrame, ids: DataFrame): WedgeStats = {
    val u = und(edges).localCheckpoint()
    val ub = u.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(u.select(col("b").as("id"), col("a").as("nb")))
    val dg = ids
      .select(col("id").cast("long").as("id"))
      .join(ub.groupBy(col("id")).agg(count(lit(1)).as("deg")), Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
      .localCheckpoint()
    // shared open neighbors per undirected edge: one equi-keyed wedge join
    val cnRaw = u
      .join(ub.select(col("id").as("a"), col("nb").as("w")), Seq("a"))
      .join(ub.select(col("id").as("b"), col("nb").as("w")), Seq("b", "w"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
    val cn = u
      .join(dg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(dg.select(col("id").as("b"), col("deg").as("db")), "b")
      .join(cnRaw, Seq("a", "b"), "left")
      .select(
        col("a"), col("b"), coalesce(col("c"), lit(0L)).as("c"),
        col("da"), col("db"))
      .localCheckpoint()
    WedgeStats(u, dg, cn)
  }

  /** SCAN over a prebuilt [[WedgeStats]] artifact — the ε/μ decision is a
    * pure integer filter over the shared counts.
    *
    * Finishes on the driver: `stats.dg` is collected once under
    * [[LocalGraph.MaxAuditNodes]] (200k nodes) and `stats.u` and
    * `stats.cn` once each under [[LocalGraph.MaxAuditEdges]], each a
    * named error above its cap, so a call runs three jobs whatever the
    * number of clusters, components or ε settings. ε-edges, cores, core
    * components (union-find with min-id roots, [[Dedup.unionFind]]),
    * borders (the minimum adjacent core rep) and hubs (≥ 2 distinct reps
    * among plain neighbors) are then exact integer and set arithmetic,
    * row for row the relational census (AuditLocalSpec pins it), which
    * comes back as a local frame.
    */
  def scan(
      stats: WedgeStats,
      epsSqNum: Long,
      epsSqDen: Long,
      mu: Int
  ): DataFrame =
    scanCurve(stats, Seq(epsSqNum), epsSqDen, mu).head

  /** [[scan]] at every ε² = num/epsSqDen of `epsSqNums`, over ONE collect
    * of the three tables: three jobs however many ε settings, each
    * census then driver arithmetic. Returns one frame per setting, in
    * order, each row for row [[scan]] at that ε.
    */
  def scanCurve(
      stats: WedgeStats,
      epsSqNums: Seq[Long],
      epsSqDen: Long,
      mu: Int
  ): Seq[DataFrame] = {
    epsSqNums.foreach(n =>
      require(n > 0 && epsSqDen >= n, "scan: need 0 < eps^2 <= 1"))
    require(mu >= 2, s"scan: mu must be >= 2, got $mu")
    val dgRows = LocalGraph.collectCapped("scan: degree table",
      stats.dg.select(col("id"), col("deg")), LocalGraph.MaxAuditNodes)
    val uRows = LocalGraph.collectCapped("scan: undirected edges",
      stats.u.select(col("a"), col("b")), LocalGraph.MaxAuditEdges)
    val cnRows = LocalGraph.collectCapped("scan: wedge counts",
      stats.cn.select(col("a"), col("b"), col("c"), col("da"), col("db")),
      LocalGraph.MaxAuditEdges)
    epsSqNums.map(census(stats, dgRows, uRows, cnRows, _, epsSqDen, mu))
  }

  /** The SCAN census at one ε over the collected tables of [[scanCurve]]. */
  private def census(
      stats: WedgeStats,
      dgRows: Array[Row],
      uRows: Array[Row],
      cnRows: Array[Row],
      epsSqNum: Long,
      epsSqDen: Long,
      mu: Int
  ): DataFrame = {
    def opt(r: Row, i: Int): Option[Long] = Option.unless(r.isNullAt(i))(r.getLong(i))
    // σ ≥ ε in exact integers: epsSqDen·(c+2)² ≥ epsSqNum·(da+1)·(db+1);
    // a null count compares as null, which the filter drops
    import Math.{addExact, multiplyExact}
    val eps = cnRows.collect {
      case r if !r.isNullAt(2) && !r.isNullAt(3) && !r.isNullAt(4) && {
        val shared = addExact(r.getLong(2), 2L)
        multiplyExact(multiplyExact(epsSqDen, shared), shared) >= multiplyExact(
          multiplyExact(epsSqNum, addExact(r.getLong(3), 1L)), addExact(r.getLong(4), 1L))
      } => (opt(r, 0), opt(r, 1))
    }
    // both directions of a pair list as (id, nb)
    def both(pairs: Iterable[(Option[Long], Option[Long])]) =
      pairs.iterator.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    val ne = both(eps).flatMap(_._1).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
    val core = dgRows.iterator.flatMap(opt(_, 0))
      .filter(id => ne.getOrElse(id, 0L) + 1 >= mu).toSet
    val comp = Dedup.unionFind(eps.iterator.collect {
      case (Some(a), Some(b)) if core(a) && core(b) => (a, b)
    }).toMap
    val coreRep = core.iterator.map(id => id -> comp.getOrElse(id, id)).toMap
    val bord = both(eps).collect {
      case (Some(id), Some(nb)) if !core(id) && core(nb) => id -> coreRep(nb)
    }.toSeq.groupMapReduce(_._1)(_._2)(math.min)
    val memb = coreRep ++ bord
    val ncl = both(uRows.map(r => (opt(r, 0), opt(r, 1)))).collect {
      case (Some(id), Some(nb)) if memb.contains(nb) => id -> memb(nb)
    }.toSeq.groupMapReduce(_._1)(p => Set(p._2))(_ ++ _)
    // a core id held by m universe rows joins its m rep rows: m² rows
    val mult = dgRows.iterator.flatMap(opt(_, 0)).filter(core).toSeq
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val out = dgRows.iterator.flatMap { r =>
      val deg = r.get(1)
      opt(r, 0) match {
        case Some(id) if core(id) =>
          Iterator.fill(mult(id))(Row(id, deg, "core", coreRep(id)))
        case Some(id) if bord.contains(id) => Iterator(Row(id, deg, "border", bord(id)))
        case Some(id) if ncl.get(id).exists(_.size >= 2) => Iterator(Row(id, deg, "hub", null))
        case id => Iterator(Row(id.map(Long.box).orNull, deg, "outlier", null))
      }
    }.toSeq
    stats.dg.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(stats.dg.schema("id"), stats.dg.schema("deg"),
        StructField("role", StringType, nullable = false),
        StructField("cluster", LongType))))
  }
}
