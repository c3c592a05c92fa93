package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

/** A graph walked in memory: id-sorted node ids, adjacency by node index
  * per layer, and an optional flat vector matrix. It is collected to the
  * driver once and broadcast, so every walk over it (the HNSW replay,
  * the NN-Descent beam searches, BFS and Brandes) is ONE narrow
  * mapPartitions pass over its queries or sources — a partition-local
  * walk, then one merge (the REPOSE shape) — instead of a round of joins
  * per hop that spends its time scheduling kilobyte frontiers.
  *
  * Collecting the graph makes every build audit-scale by contract:
  * above [[LocalGraph.MaxAuditNodes]] nodes it fails by name.
  *
  * The kernels are bit-exact local spellings of the relational walks:
  * distances are the same ascending-index double sums as L2SqExpr (and
  * [[PQModel.adcLut]] those of PQLutExpr / PQAdcLutExpr), ranking is the (d, id) order of
  * row_number over (d, id) or the bounded-heap top-k, and the Brandes
  * dependency terms are cast and summed with Spark's own Decimal. The
  * test-side twins in HnswReplayRelational and GraphWalkRelational pin
  * each caller equal to its join-loop spelling.
  */
private[operators] final class LocalGraph(
    val ids: Array[Long], // ascending, distinct
    val adj: Array[Array[Array[Int]]], // adj(layer)(i): neighbor indexes, ascending
    val flat: Array[Double], // n*d vectors in id order; empty without vectors
    val d: Int,
    val entry: Int // walk entry index, -1 for a graph without one
) extends Serializable {

  def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Exact L2² from `qv` to node i — the ascending-index sum of
    * [[graft.functions.L2SqExpr]]; the caller has checked the width. */
  def l2(qv: Array[Double]): Int => Double = i => {
    val off = i * d
    var s = 0.0
    var t = 0
    while (t < d) { val df = qv(t) - flat(off + t); s += df * df; t += 1 }
    s
  }

  /** Greedy descent from the top layer to 1: per round argmin by (d, id)
    * over {cur} ∪ neighbors_l(cur) — `min(struct(d, id))` locally. */
  def greedy(dist: Int => Double, rounds: Int): Int = {
    var cur = entry
    var l = adj.length - 1
    while (l >= 1) {
      var r = 0
      while (r < rounds) {
        var bestI = cur
        var bestD = dist(cur)
        val nbs = adj(l)(cur)
        var j = 0
        while (j < nbs.length) {
          val nb = nbs(j)
          val dd = dist(nb)
          if (dd < bestD || (dd == bestD && ids(nb) < ids(bestI))) {
            bestI = nb; bestD = dd
          }
          j += 1
        }
        cur = bestI
        r += 1
      }
      l -= 1
    }
    cur
  }

  /** One beam expansion: beam ∪ layer-0 neighbors, deduped. Order is
    * irrelevant — every consumer re-sorts by the total (d, id) order. */
  private def expand(beam: Array[Int]): Array[Int] = {
    val set = new java.util.HashSet[Integer]()
    var i = 0
    while (i < beam.length) {
      val b = beam(i)
      set.add(b)
      val nbs = adj(0)(b)
      var j = 0
      while (j < nbs.length) { set.add(nbs(j)); j += 1 }
      i += 1
    }
    val out = new Array[Int](set.size)
    val it = set.iterator
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    out
  }

  /** A query's ranked (node index, dist) as (query_id, neighbor_id,
    * dist, rnk) rows, rnk 1.. in order. */
  def hits(qid: Long, ranked: Array[(Int, Double)]): Iterator[(Long, Long, Double, Long)] =
    ranked.iterator.zipWithIndex.map { case ((i, d), pos) => (qid, ids(i), d, (pos + 1).toLong) }

  /** Score + rank by (d, id) ascending, cut at `cut`. */
  def rank(cand: Array[Int], score: Int => Double, cut: Int): Array[(Int, Double)] =
    // java.lang.Double.compare, not (<, ==): the primitive comparators
    // are not a total order when a distance is NaN (TimSort can throw
    // "Comparison method violates its general contract"), and compare's
    // NaN-last ordering matches how Spark's sort and top-k order NaN
    cand.map(i => (i, score(i)))
      .sortWith { case ((i1, d1), (i2, d2)) =>
        val c = java.lang.Double.compare(d1, d2)
        c < 0 || (c == 0 && ids(i1) < ids(i2))
      }
      .take(cut)

  /** Synchronized layer-0 ef-beam from `start`, scoring each node once.
    * Returns the LAST round's ranked survivors (≤ ef entries,
    * (d, id)-ascending — rnk is the array position + 1) and every node
    * any round scored (beam ∪ neighbors per round) with its distance, in
    * first-scored order — the cumulative visited set W.
    */
  def beam(
      dist: Int => Double,
      start: Int,
      ef: Int,
      rounds: Int
  ): (Array[(Int, Double)], java.util.LinkedHashMap[Integer, java.lang.Double]) = {
    val seen = new java.util.LinkedHashMap[Integer, java.lang.Double]()
    def memo(i: Int): Double = {
      val c = seen.get(Integer.valueOf(i))
      if (c != null) c.doubleValue()
      else {
        val v = dist(i)
        seen.put(Integer.valueOf(i), java.lang.Double.valueOf(v)); v
      }
    }
    var cur = Array(start)
    var last = Array.empty[(Int, Double)]
    var r = 0
    while (r < rounds) {
      last = rank(expand(cur), memo, ef)
      cur = last.map(_._1)
      r += 1
    }
    (last, seen)
  }

  /** BFS over layer 0 from node `s`: level t holds the nodes first
    * reached at hop t, t ≤ rounds; `hop` is each node's level, -1 when
    * unreached. */
  def levels(s: Int, rounds: Int): (Array[Array[Int]], Array[Int]) = {
    val hop = Array.fill(ids.length)(-1)
    hop(s) = 0
    val out = Array.newBuilder[Array[Int]]
    var cur = Array(s)
    out += cur
    var t = 1
    while (t <= rounds && cur.nonEmpty) {
      val next = Array.newBuilder[Int]
      for (v <- cur; w <- adj(0)(v) if hop(w) < 0) { hop(w) = t; next += w }
      cur = next.result()
      if (cur.nonEmpty) out += cur
      t += 1
    }
    (out.result(), hop)
  }

  /** Brandes' dependency δ_s(v) of every node v ≠ s within `rounds` hops
    * of `s`. Forward: σ(w) = Σ σ(v) over hop-(t−1) neighbors v (integer).
    * Backward: δ(v) = Σ_w (σv/σw)(1+δw) over hop-(t+1) neighbors w, each
    * term cast to DECIMAL(38,20) (ROUND_HALF_UP) and summed as Decimal,
    * exactly as Spark's `sum(cast(term as decimal(38,20)))`; δ = 0 at the
    * horizon and for a node with no successor.
    */
  def dependencies(s: Int, rounds: Int): Iterator[(Long, Double)] = {
    val (lv, hop) = levels(s, rounds)
    val sig = new Array[Long](ids.length)
    sig(s) = 1L
    for (t <- 1 until lv.length; w <- lv(t); v <- adj(0)(w) if hop(v) == t - 1)
      sig(w) += sig(v)
    val dl = new Array[Double](ids.length)
    for (t <- lv.length - 2 to 1 by -1; v <- lv(t)) {
      var acc: Decimal = null
      for (w <- adj(0)(v) if hop(w) == t + 1) {
        val term = Decimal((sig(v).toDouble / sig(w).toDouble) * (1.0 + dl(w)))
        require(term.changePrecision(38, 20), s"dependency term $term overflows DECIMAL(38,20)")
        acc = if (acc == null) term else acc + term
      }
      dl(v) = if (acc == null) 0.0 else acc.toDouble
    }
    lv.iterator.drop(1).flatMap(_.iterator.map(v => (ids(v), dl(v))))
  }
}

private[operators] object LocalGraph {

  /** Node cap of every in-memory graph: the build collects the graph to
    * the driver and broadcasts it, so it is an AUDIT-scale component by
    * contract — the same bounded-audit discipline as
    * [[Dedup.auditSample]]. 200k nodes ≈ 100 MB of vectors at d=64.
    * Production ANN is [[DistributedHnsw]] / [[IvfIndex]].
    */
  val MaxAuditNodes = 200000

  /** Edge cap of a driver-side audit over an edge list: ten undirected
    * edges per node at [[MaxAuditNodes]], what the undirected view of a
    * k ≤ 10 kNN graph holds. */
  val MaxAuditEdges = 10 * MaxAuditNodes

  /** `df`'s rows on the driver, or a named error above `cap` rows. ONE
    * job on top of `df`'s own stages: a single-partition `limit(cap + 1)`
    * probe, so the driver never holds more than cap + 1 rows. */
  def collectCapped(what: String, df: DataFrame, cap: Int): Array[Row] = {
    val rows = df.coalesce(1).limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what: more than $cap rows exceed the cap of a driver-side audit")
    rows
  }

  /** The HNSW replay index's nodes (id, vec, level), collected once:
    * the node matrix with no edges yet, and each node's level by index.
    * Entry: the max-level node, ties to the smallest id. The edge build
    * scores against this matrix, and [[layered]] adds its edges. */
  def layeredNodes(base: DataFrame): (LocalGraph, Array[Int]) = {
    val rows = base.select(col("id"), col("vec"), col("level")).collect()
    val levelOf = rows.iterator.map(r => r.getLong(0) -> r.getInt(2)).toMap
    val g = assemble(
      LayeredWhat,
      rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)),
      HnswReplay.MaxLevel + 1,
      Iterator.empty,
      strict = true,
      ids => if (ids.isEmpty) -1 else ids.indices.maxBy(i => levelOf(ids(i))))
    (g, g.ids.map(levelOf))
  }

  /** The HNSW replay index: `nodes` from [[layeredNodes]] plus edges
    * (layer, src, dst) — an edge naming an absent id or layer fails by
    * name. */
  def layered(nodes: LocalGraph, edges: DataFrame): Broadcast[LocalGraph] = {
    val adj = adjacency(LayeredWhat, nodes.ids, nodes.adj.length,
      edges.select(col("layer"), col("src"), col("dst")).collect()
        .iterator.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))),
      strict = true)
    broadcast(edges, new LocalGraph(nodes.ids, adj, nodes.flat, nodes.d, nodes.entry))
  }

  private val LayeredWhat = "LayeredIndex.local"

  /** A one-layer vector graph: nodes `vecs` (idCol, vecCol), edges
    * `graph` (src, dst). An edge to or from an id with no vector row is
    * skipped, as the relational walk's inner join drops it. The walk
    * starts at `entryId`, which must be a vector id. */
  def vectors(
      what: String,
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      graph: DataFrame,
      entryId: Long
  ): Broadcast[LocalGraph] =
    vectorGraph(what, vecs,
      vecs.select(col(idCol).cast("long"), col(vecCol).cast("array<double>")).collect(),
      graph, entryId)

  /** [[vectors]] over a node table that also carries each node's PQ code
    * in `codeCol`, and [[codesByIndex]] of those codes: the nodes,
    * vectors and codes come from ONE collect of `vecs`. */
  def vectorsWithCodes(
      what: String,
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      codeCol: String,
      graph: DataFrame,
      entryId: Long,
      model: PQModel
  ): (Broadcast[LocalGraph], Array[Array[Short]]) = {
    val rows = vecs
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"), col(codeCol))
      .collect()
    val g = vectorGraph(what, vecs, rows, graph, entryId)
    (g, codesOf(what, g.value, rows, 2, model))
  }

  /** The graph of [[vectors]] over collected (id, vec, …) node rows. */
  private def vectorGraph(
      what: String,
      vecs: DataFrame,
      rows: Array[Row],
      graph: DataFrame,
      entryId: Long
  ): Broadcast[LocalGraph] = {
    val nodes = rows
      .collect { case r if !r.isNullAt(0) => // a null id joins nothing
        (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray)
      }
    broadcast(vecs, assemble(
      what, nodes, 1,
      graph.select(col("src").cast("long"), col("dst").cast("long")).collect()
        .iterator.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (0, r.getLong(0), r.getLong(1))),
      strict = false,
      { ids =>
        val e = java.util.Arrays.binarySearch(ids, entryId)
        require(e >= 0, s"$what: entryId $entryId is not an id in the vector table")
        e
      }))
  }

  /** The undirected view of `edges` (src, dst) with self-loops and null
    * endpoints dropped — the node set is every endpoint; no vectors. */
  def undirected(what: String, edges: DataFrame): Broadcast[LocalGraph] = {
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long")).collect()
      .collect { case r if !r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) != r.getLong(1) =>
        (r.getLong(0), r.getLong(1))
      }
    broadcast(edges, assemble(
      what,
      (pairs.map(_._1) ++ pairs.map(_._2)).distinct.map(id => (id, null: Array[Double])),
      1,
      pairs.iterator.flatMap { case (a, b) => Iterator((0, a, b), (0, b, a)) },
      strict = true,
      _ => -1))
  }

  private def broadcast(df: DataFrame, g: LocalGraph): Broadcast[LocalGraph] =
    df.sparkSession.sparkContext.broadcast(g)

  /** Sorts and checks the nodes (cap, one vector per id, one width) and
    * indexes the edges. `strict` fails on an edge naming an absent id or
    * layer; otherwise such an edge is skipped. */
  private def assemble(
      what: String,
      nodes: Array[(Long, Array[Double])], // vector null without vectors
      layers: Int,
      edges: Iterator[(Int, Long, Long)],
      strict: Boolean,
      entry: Array[Long] => Int // the walk entry's index, given the sorted ids
  ): LocalGraph = {
    val sorted = nodes.sortBy(_._1)
    val keep = sorted.indices.filter { i =>
      i == 0 || sorted(i)._1 != sorted(i - 1)._1 || {
        require(java.util.Arrays.equals(sorted(i)._2, sorted(i - 1)._2),
          s"$what: id ${sorted(i)._1} has two different vectors")
        false
      }
    }
    val n = keep.length
    require(n <= MaxAuditNodes,
      s"$what: $n nodes exceed the $MaxAuditNodes-node cap of an in-memory graph walk")
    val ids = keep.map(sorted(_)._1).toArray
    val vecs = keep.map(sorted(_)._2)
    val first = vecs.indexWhere(_ != null)
    val d = if (first < 0) 0 else vecs(first).length
    val flat = new Array[Double](n * d)
    if (first >= 0) for (i <- 0 until n) {
      val v = vecs(i)
      require(v != null && v.length == d,
        s"$what: id ${ids(i)} has width ${if (v == null) "null" else v.length}, " +
          s"id ${ids(first)} has width $d")
      System.arraycopy(v, 0, flat, i * d, d)
    }
    new LocalGraph(ids, adjacency(what, ids, layers, edges, strict), flat, d, entry(ids))
  }

  /** Adjacency by layer and node index over the sorted `ids`. */
  private def adjacency(
      what: String,
      ids: Array[Long],
      layers: Int,
      edges: Iterator[(Int, Long, Long)],
      strict: Boolean
  ): Array[Array[Array[Int]]] = {
    val bufs = Array.fill(layers, ids.length)(null: scala.collection.mutable.ArrayBuilder.ofInt)
    edges.foreach { case (l, s, t) =>
      val si = java.util.Arrays.binarySearch(ids, s)
      val ti = java.util.Arrays.binarySearch(ids, t)
      if (l >= 0 && l < layers && si >= 0 && ti >= 0) {
        if (bufs(l)(si) == null) bufs(l)(si) = new scala.collection.mutable.ArrayBuilder.ofInt
        bufs(l)(si) += ti
      } else require(!strict,
        s"$what: edge (layer=$l, src=$s, dst=$t) references a layer outside " +
          s"0..${layers - 1} or an id absent from the node table")
    }
    bufs.map(_.map(b => if (b == null) Array.emptyIntArray else b.result().sorted.distinct))
  }

  /** `walk` over every query in ONE narrow mapPartitions pass against the
    * broadcast graph. A query whose width differs from the indexed
    * vectors' fails by name: the kernels score exactly `d` dimensions. */
  def perQuery[T <: Product: TypeTag](
      graph: Broadcast[LocalGraph],
      queries: DataFrame,
      qidCol: String,
      qvecCol: String
  )(walk: (LocalGraph, Long, Array[Double]) => Iterator[T]): Dataset[T] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val g = graph.value
        it.flatMap { case (qid, qv) =>
          require(qv != null && qv.length == g.d,
            s"query $qid has width ${if (qv == null) "null" else qv.length}, " +
              s"the indexed vectors have width ${g.d}")
          walk(g, qid, qv)
        }
      }
  }

  /** Each node's PQ code by node index. Full coverage is part of the
    * contract: the relational walk's inner join against the code table
    * drops a codeless node, which a per-node scorer cannot express. A
    * code whose id is not a node is never walked. Every code value is
    * checked to lie in 0 until K here, once, so the walks' unchecked
    * [[PQModel.adcFromLut]] never reads another subspace's LUT cell. */
  def codesByIndex(
      what: String,
      g: LocalGraph,
      codes: DataFrame, // (id, code)
      model: PQModel
  ): Array[Array[Short]] =
    codesOf(what, g,
      codes.select(col(codes.columns(0)).cast("long"), col(codes.columns(1))).collect(),
      1, model)

  /** [[codesByIndex]] over collected rows: the id at 0, the code at `at`. */
  private def codesOf(
      what: String,
      g: LocalGraph,
      rows: Array[Row],
      at: Int,
      model: PQModel
  ): Array[Array[Short]] = {
    require(model.d == g.d, s"$what: PQ model width ${model.d} != vector width ${g.d}")
    val m = model.m
    val out = new Array[Array[Short]](g.ids.length)
    rows.foreach { r =>
      val i = if (r.isNullAt(0)) -1 else g.indexOf(r.getLong(0))
      if (i >= 0 && !r.isNullAt(at)) out(i) = r.getSeq[Short](at).toArray
    }
    val bad = out.indexWhere(c => c == null || c.length != m)
    require(bad < 0,
      s"$what: node id=${g.ids(math.max(bad, 0))} has no PQ code of length $m — " +
        "the code table must cover every index id")
    for (i <- out.indices; mi <- 0 until m) {
      val c = out(i)(mi)
      require(c >= 0 && c < model.k,
        s"$what: node id=${g.ids(i)} has code $c out of range for k=${model.k} (subspace $mi)")
    }
    out
  }
}
