package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorExpressions.l2SqFast

/** NN-Descent (Dong et al. 2011, "Efficient k-nearest neighbor graph
  * construction for generic similarity measures") as iterated relational
  * algebra: start from a deterministic graph, then repeatedly propose each
  * node's neighbors-of-neighbors as candidates and keep the best k. The
  * kNN graph is the substrate every graph-ANN index (HNSW, NSG, Vamana)
  * builds on — constructing it WITHOUT an N² distance pass is its own
  * corpus-scale workload.
  *
  * Spark shape per iteration (all deterministic, no RNG):
  *   1. undirect the graph (B(v) ∪ R(v), the paper's neighbor union) —
  *      one distinct on (src, dst);
  *   2. candidate generation: self-join on the SHARED middle node
  *      (a→b ⋈ b→c ⇒ a is proposed c) — the one real shuffle, keyed on b.
  *      Per-node candidates are bounded by (2k)², never by N;
  *   3. score candidates with the codegen L2² over a two-sided vector
  *      join, union the current edges, collapse duplicates, and keep the
  *      best k per node with the bounded-heap [[bestPer]] aggregate (ties
  *      (dist, id) — total order, so every iteration is reproducible).
  *
  * Convergence follows the paper: each round propagates neighborhood
  * information one hop, and on metric data a handful of rounds reaches
  * high recall (NNDescentSpec gates monotone improvement and the final
  * floor against the exact graph). At corpus scale the candidate volume
  * is the knob: `rho` is the paper's §2.3 sample rate — each directed
  * neighbor-list entry enters the candidate self-join with probability
  * ρ, decided by a DETERMINISTIC per-(edge, round) md5 coin (no RNG,
  * engine-portable, rerun-identical), so per-node proposals shrink to
  * ~(2kρ)² while the current graph edges are always retained (sampling
  * gates proposals only — an edge skipped this round is re-eligible
  * next round under a fresh coin, the paper's incremental flavor).
  * ρ = 1 bypasses the coin entirely and is plan-identical to the exact
  * variant — the right default below ~10⁷ nodes/shard; the paper finds
  * ρ = 0.5 costs little recall at half the candidate volume.
  *
  * The init graph is pseudo-random but HASH-derived (rank space:
  * md5(id:j:init) mod n — ranks from [[Packing.distributedRank]], no
  * contiguity assumption): the paper's random initialization needs
  * DIVERSITY (a locality-biased init like a ring propagates information
  * only ±k·2^t ranks per round and converges in log(n/k) rounds instead
  * of O(1)), and the hash delivers it deterministically and
  * engine-portably — no RNG, identical across engines and reruns.
  * Hash self-collisions are filtered and duplicates collapsed, so init
  * degree may dip below k; the first refinement round refills it.
  */
object NNDescent {

  /** Approximate kNN graph after `iterations` refinement rounds.
    * Input: (id long, vec array<double>). Output: (src, dst, dist, rnk),
    * k rows per source node, rnk 1..k by (dist, id).
    */
  /** `truncateLineage = false` skips the per-round localCheckpoint so the
    * returned frame's executed plan shows the full round shape — ONLY for
    * plan inspection (PlanSpec); real use keeps the default or the plan
    * tree grows ~3^iterations.
    */
  def knnGraph(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iterations: Int,
      truncateLineage: Boolean = true,
      rho: Double = 1.0
  ): DataFrame = {
    require(iterations >= 1, "knnGraph needs at least one refinement round")
    require(rho > 0.0 && rho <= 1.0, s"sample rate must be in (0, 1], got $rho")
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))

    // hash init in id-RANK space: rank(dst) = md5(src:j:init) mod n,
    // mapped back to ids by joining the rank table (no contiguity
    // assumption; corpus stays distributed)
    val ranked = Packing
      .distributedRank(v.select(col("id")), Seq(col("id")), "r")
    // one scalar — same bounded-driver-state budget as distributedRank's
    // own prefix collect; keeps the init plan free of count-row joins
    val n = ranked.count()
    val init = ranked
      .select(col("id"), col("r"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .select(
        col("id").as("src"), col("r"),
        pmod(
          Dedup.md5Long(concat(
            col("id").cast("string"), lit(":"),
            col("j").cast("string"), lit(":init"))),
          lit(n)).as("rd"))
      .filter(col("rd") =!= col("r")) // no self edges
      .select(col("src"), col("rd"))
      .distinct()
      .join(
        ranked.select(col("r").as("rd"), col("id").as("dst")), "rd")
      .select(col("src"), col("dst"))

    var g = score(init, v)
    var it = 0
    while (it < iterations) {
      val undFull = g
        .select(col("src"), col("dst"))
        .unionAll(g.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      // ρ-sampling (Dong et al. §2.3): gate each directed entry into the
      // candidate join by a per-(edge, round) md5 coin — deterministic
      // counterpart of the paper's random neighbor sample. Only proposal
      // GENERATION is thinned; `merged` below still unions the full g
      val und =
        if (rho >= 1.0) undFull
        else undFull.filter(
          pmod(
            Dedup.md5Long(concat(
              col("src").cast("string"), lit(":"),
              col("dst").cast("string"), lit(s":nnd-rho:$it"))),
            lit(1000000L)) < lit((rho * 1000000L).toLong))
      // no distinct here: the (src,dst) groupBy below collapses duplicate
      // proposals anyway, and a pre-dedup would cost a full extra shuffle
      // of the expanded candidate set just to trim the (low-multiplicity)
      // shared-middle-node duplicates from the two vector joins
      val cand = und.as("x")
        .join(und.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      val merged = score(cand, v)
        .unionAll(g.select(col("src"), col("dst"), col("dist")))
        .groupBy(col("src"), col("dst"))
        .agg(min(col("dist")).as("dist"))
      g = bestPer(merged, Seq("src"), col("dist"), "dst", k)
        .withColumn("rnk", col("rnk").cast("long"))
      // the loop references g three times (two undirect arms + merge):
      // truncate the lineage each round or the plan tree grows 3^it
      if (truncateLineage) g = g.localCheckpoint()
      it += 1
    }
    g
  }

  /** Vamana robust prune (Subramanya et al. 2019, DiskANN) over a kNN
    * graph: per node, greedily keep the closest candidate and discard
    * every candidate it α-dominates, up to `maxDegree` — the
    * direction-diversity rule that turns a kNN graph (whose edges all
    * point into the nearest cluster) into a navigable index graph with
    * long-range shortcuts. The candidate pool is the node's out-edges ∪
    * reversed in-edges, so this single pass is the paper's
    * "prune(N_out(p) ∪ {q : p ∈ N_out(q)})" including the reverse-edge
    * degree repair.
    *
    * Distances are L2² throughout the engine, so the rule α·d(p*,v) ≤
    * d(p,v) is applied as α²·d²(p*,v) ≤ d²(p,v) — identical semantics.
    *
    * Scale: one groupBy on the node id; each group holds ≤ 2k candidate
    * (id, dist, vec) rows and the greedy is O(k²·D) local work — the
    * sequential dependence is per-node only, which is exactly the
    * mapGroups boundary. Nothing pairwise across nodes.
    */
  def robustPrune(
      graph: DataFrame, // src long, dst long, dist double (= d²(src,dst))
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      alpha: Double,
      maxDegree: Int
  ): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val a2 = alpha * alpha
    val v = vecs.select(
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("vec"))
    val und = graph
      .select(col("src"), col("dst"), col("dist"))
      .unionAll(
        graph.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
      .groupBy(col("src"), col("dst"))
      .agg(min(col("dist")).as("dist"))
    und
      .join(v.select(col("id").as("dst"), col("vec").as("dvec")), "dst")
      .select(col("src"), col("dst"), col("dist"), col("dvec"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (src, it) =>
        val cand = it
          .map { case (_, dst, dist, dv) => (dst, dist, dv.toArray) }
          .toArray
        java.util.Arrays.sort(cand, Ordering.by[(Long, Double, Array[Double]), (Double, Long)](t => (t._2, t._1)))
        val removed = new Array[Boolean](cand.length)
        val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < cand.length && kept.length < maxDegree) {
          if (!removed(i)) {
            val (di, disti, vi) = cand(i)
            kept += ((src, di, disti))
            var j = i + 1
            while (j < cand.length) {
              if (!removed(j)) {
                val vj = cand(j)._3
                var s = 0.0
                var d = 0
                while (d < vi.length) {
                  val x = vi(d) - vj(d); s += x * x; d += 1
                }
                if (a2 * s <= cand(j)._2) removed(j) = true
              }
              j += 1
            }
          }
          i += 1
        }
        kept.iterator
      }
      .toDF("src", "dst", "dist")
  }

  /** Beam search over a navigable graph (the serving half of the DiskANN
    * story; Subramanya et al. 2019 §3): from a fixed entry node, each
    * round expands every node in a query's beam through the graph,
    * scores beam ∪ neighbors, and keeps the best `beam` by (dist, id) —
    * greedy best-first search restructured as a synchronized BFS-beam,
    * the one-layer case of the [[HnswReplay]] walk. Small-world graphs
    * reach their fixpoint in O(diameter) ≈ log N rounds — `rounds`
    * bounds it.
    *
    * The graph and its vectors are collected once into a broadcast
    * [[LocalGraph]] (capped at [[LocalGraph.MaxAuditNodes]] nodes) and
    * every query walks it in ONE mapPartitions pass, so the job count
    * does not grow with `rounds`. An edge to an id with no vector row is
    * skipped; `entryId` must be a vector id and every query as wide as
    * the vectors, or the call fails by name.
    *
    * Monotone by construction: the new beam is top-beam of (old beam ∪
    * expansions), so per-query best-k never regresses with more rounds
    * (spec-gated, with final recall against exact kNN).
    */
  def beamSearch(
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
    val local = LocalGraph.vectors("beamSearch", vecs, idCol, vecCol, graph, entryId)
    LocalGraph.perQuery(local, queries, qidCol, qvecCol) { (g, qid, qv) =>
      g.hits(qid, g.beam(g.l2(qv), g.entry, beam, rounds)._1.take(k))
    }.toDF("query_id", "neighbor_id", "dist", "rnk")
  }

  /** [[beamSearch]] in the DiskANN serving layout: the WALK scores only
    * PQ codes (~M bytes/node) through a per-query LUT — never a raw
    * vector — and the raw vectors are read once at the end, by an exact
    * rerank of the `beam` survivors (Subramanya et al. 2019 §3:
    * "compressed vectors guide the search, full-precision vectors
    * re-rank"); the shape of [[HnswReplay.searchReplayAdc]] without the
    * greedy descent. The code table must cover every vector id, or the
    * call fails by name.
    *
    * ADC distances are approximate, so the walk can locally deviate from
    * the raw-vector walk; the exact rerank restores precision on
    * whatever the compressed beam retained (recall floor spec-gated in
    * NNDescentSpec, alongside the raw path's).
    */
  def beamSearchCompressed(
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
    val local = LocalGraph.vectors(
      "beamSearchCompressed", vecs, idCol, vecCol, graph, entryId)
    walkCompressed(local,
      LocalGraph.codesByIndex("beamSearchCompressed", local.value,
        codes.select(col("id"), col("code")), model),
      model, queries, qidCol, qvecCol, k, beam, rounds)
  }

  /** [[beamSearchCompressed]] over ONE corpus frame that carries each
    * node's vector (`vecCol`) and PQ code (`codeCol`): the nodes, vectors
    * and codes are collected in one pass instead of two. */
  def beamSearchCoded(
      graph: DataFrame, // src long, dst long
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codeCol: String,
      model: PQModel,
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
    val (local, codes) = LocalGraph.vectorsWithCodes(
      "beamSearchCompressed", corpus, idCol, vecCol, codeCol, graph, entryId, model)
    walkCompressed(local, codes, model, queries, qidCol, qvecCol, k, beam, rounds)
  }

  /** The ADC-scored walk and exact rerank of the compressed searches. */
  private def walkCompressed(
      local: Broadcast[LocalGraph],
      codes: Array[Array[Short]],
      model: PQModel,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      beam: Int,
      rounds: Int
  ): DataFrame = {
    val codesBc = queries.sparkSession.sparkContext.broadcast(codes)
    LocalGraph.perQuery(local, queries, qidCol, qvecCol) { (g, qid, qv) =>
      val lut = model.adcLut(qv)
      val cds = codesBc.value
      val walked = g.beam(i => model.adcFromLut(lut, cds(i)), g.entry, beam, rounds)._1
      // exact rerank: the ONLY raw-vector read, over the beam survivors
      g.hits(qid, g.rank(walked.map(_._1), g.l2(qv), k))
    }.toDF("query_id", "neighbor_id", "dist", "rnk")
  }

  /** Recall of an approximate kNN graph against the exact one (both as
    * (src, dst) edge sets restricted to rnk <= k): |approx ∩ exact| /
    * |exact|.
    */
  def graphRecall(approx: DataFrame, exact: DataFrame): Double = {
    val a = approx.select(col("src"), col("dst"))
    val e = exact.select(col("src"), col("dst"))
    val hit = a.intersect(e).count()
    hit.toDouble / e.count()
  }

  private def score(pairs: DataFrame, v: DataFrame): DataFrame =
    pairs
      .join(v.select(col("id").as("src"), col("vec").as("sv")), "src")
      .join(v.select(col("id").as("dst"), col("vec").as("dv")), "dst")
      .select(
        col("src"), col("dst"), l2SqFast(col("sv"), col("dv")).as("dist"))
}
