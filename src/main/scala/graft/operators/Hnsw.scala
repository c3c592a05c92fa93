package graft.operators

import scala.collection.mutable
import scala.util.Random

/** HNSW parameters (ref: py/hnsw.py:155-173 constructor defaults —
  * M_max = M, M_max0 = 2·M, ef_search default 200, m_L = 1/ln M,
  * keep_pruned_connections on).
  *
  * `referenceLevelFormula`: the reference draws levels as
  * `floor(-log(U * m_L))` (py/hnsw.py:353) — the multiplication sits inside
  * the log, unlike the paper's `floor(-ln(U) · m_L)`. Default is the paper
  * formula; the flag restores the reference's variant (SURVEY.md §1.5.4).
  *
  * `referenceMMax0`: the reference computes the per-insert connection
  * budget as `M_max0 if l == 0 else M_max` — keyed on the NEW ELEMENT's
  * drawn level `l` (py/hnsw.py:371) — and uses that one value as the
  * select count, the overfull test, and the trim target on every layer it
  * connects. The paper (Alg 1 line 10/17) selects `M` neighbors and caps
  * each LAYER at `M_max` (`M_max0` on layer 0). Default is the paper
  * semantics; the flag restores the reference's variant (SURVEY.md §1.5.5).
  */
final case class HnswParams(
    m: Int = 16,
    mMax: Int = -1, // <=0 -> m
    efConstruction: Int = 100,
    efSearch: Int = 200,
    keepPrunedConnections: Boolean = true,
    referenceLevelFormula: Boolean = false,
    referenceMMax0: Boolean = false,
    /** Draw insert levels from the engine's md5 coin over the GLOBAL id
      * (supplied by the caller via `insert(v, levelCoin)`) instead of the
      * JVM `Random(seed)` stream. Makes the level assignment
      * engine-portable and SQL-replayable (the kmeans_*_det discipline);
      * the sequential heap walk that picks edges stays seeded-stochastic
      * either way. Default false = reference behavior (py/hnsw.py:353's
      * global-RNG draw, made reproducible by the explicit seed).
      */
    deterministicLevels: Boolean = false
) {
  def mMaxEff: Int = if (mMax > 0) mMax else m
  def mMax0: Int = 2 * mMaxEff
  def mL: Double = 1.0 / math.log(m.toDouble)
}

/** The greedy beam search shared by the build-time index and the
  * read-only shard searcher (ref: py/hnsw.py:240-277): visited set,
  * candidate min-heap C, bounded working set W of size ef; stop when the
  * nearest candidate is farther than the furthest result. Returns
  * ascending (dist, id) — always sorted, the strictly-more-defined
  * behavior (SURVEY.md §1.5.3).
  */
private[operators] object HnswTraversal {
  import scala.collection.mutable

  /** One layer's beam. `allow` (null = every id) is the attribute filter
    * of the hnswlib filter-function semantics: the walk routes THROUGH
    * every node — disallowed nodes still expand, otherwise a selective
    * predicate disconnects the graph — but only allowed nodes enter `W`.
    * With every id allowed this is EXACTLY the reference loop: while `W`
    * is under `ef` nothing has been evicted, so the popped candidate is
    * always ≤ the furthest of `W` and the `work.size >= ef` guard on the
    * break can never fire earlier than the reference's — spec-gated by an
    * exact-equality test and by the build's edge fingerprints.
    */
  def searchLayer(
      dist: Int => Double,
      neighbors: Int => Iterable[Int],
      ep: Int,
      ef: Int,
      allow: Int => Boolean = null
  ): IndexedSeq[(Double, Int)] = {
    val visited = mutable.HashSet(ep)
    val minOrd: Ordering[(Double, Int)] =
      Ordering.by[(Double, Int), (Double, Int)](x => (-x._1, -x._2))
    val maxOrd: Ordering[(Double, Int)] = Ordering.by(x => (x._1, -x._2))
    val cand = mutable.PriorityQueue.empty[(Double, Int)](minOrd) // nearest-first
    val work = mutable.PriorityQueue.empty[(Double, Int)](maxOrd) // furthest-first
    val d0 = dist(ep)
    cand.enqueue((d0, ep))
    if (allow == null || allow(ep)) work.enqueue((d0, ep))
    var done = false
    while (cand.nonEmpty && !done) {
      val (dc, c) = cand.dequeue()
      if (work.size >= ef && dc > work.head._1) done = true // ref: py/hnsw.py:260-261
      else {
        for (e <- neighbors(c) if visited.add(e)) {
          val de = dist(e)
          if (work.size < ef || de < work.head._1) { // ref: py/hnsw.py:271
            cand.enqueue((de, e))
            if (allow == null || allow(e)) {
              work.enqueue((de, e))
              if (work.size > ef) work.dequeue() // ref: py/hnsw.py:275-276
            }
          }
        }
      }
    }
    work.toIndexedSeq.sortBy(x => (x._1, x._2))
  }
}

/** Partition-local HNSW index: sequential build + greedy search, the
  * reference algorithm re-expressed in Scala (ref: py/hnsw.py — Graph
  * 9-117, SearchLayer 240-277, SelectNeighbors 279-320, Insert 337-392,
  * KNNSearch 394-410). Distances are squared L2 throughout; the overfull-
  * neighbor cap applies per *layer* (M_max0 on layer 0), the paper
  * semantics rather than the reference's new-element-level keying
  * (SURVEY.md §1.5.5).
  *
  * With a [[VectorCompression]] codec attached, build-time distances are
  * code-to-code (symmetric) and query-time distances raw-to-code
  * (asymmetric) — ref: py/hnsw.py:184-189, py/vector_compression.py:62.
  *
  * This class is single-threaded by design: Spark parallelism comes from
  * running one index per shard inside `mapPartitions`
  * ([[DistributedHnsw]]), never from sharing one graph across threads.
  */
final class HnswIndex(
    val params: HnswParams,
    seed: Long,
    val compression: Option[VectorCompression] = None
) {

  private val rng = new Random(seed)
  private val raw = mutable.ArrayBuffer[Array[Double]]()
  private val codes = mutable.ArrayBuffer[Array[Short]]()
  /** Per-node drawn level, in insertion order — the build metadata that
    * [[DistributedHnsw]] surfaces as the index's levels table (and, under
    * `deterministicLevels`, the hash-checkable half of the build).
    */
  private val nodeLevels = mutable.ArrayBuffer[Int]()
  /** Layered adjacency state (ref: py/hnsw.py:9-117). */
  val graph = new LayeredGraph
  var entryPoint: Int = 0
  /** The first inserted vector's width — the only query width [[search]]
    * accepts. */
  private var width = -1

  def size: Int = if (compression.isDefined) codes.length else raw.length
  def height: Int = graph.height

  // E7 graph introspection delegates (ref: py/hnsw.py:15-106)
  def levelOf(i: Int): Int = nodeLevels(i)
  def layerNodeCount(l: Int): Int = graph.layerNodeCount(l)
  def layerAdjCount(l: Int, node: Int): Int = graph.layerAdjCount(l, node)
  def isLayerEmpty(l: Int): Boolean = graph.isLayerEmpty(l)
  def neighbors(l: Int, node: Int): Iterable[Int] = graph.neighbors(l, node)

  private def distIds(a: Int, b: Int): Double = compression match {
    case Some(c) => c.distance(codes(a), codes(b))
    case None    => KMeansLocal.l2Sq(raw(a), raw(b))
  }

  private def distQ(q: Array[Double], id: Int): Double = compression match {
    case Some(c) => c.queryDistance(q, codes(id))
    case None    => KMeansLocal.l2Sq(q, raw(id))
  }

  /** Beam search on one layer via the shared kernel. */
  private def searchLayer(
      dist: Int => Double,
      ep: Int,
      ef: Int,
      layer: Int
  ): IndexedSeq[(Double, Int)] =
    HnswTraversal.searchLayer(dist, neighbors(layer, _), ep, ef)

  /** Heuristic neighbor selection (ref: py/hnsw.py:279-320, paper Alg 4):
    * pop candidates nearest-first; admit e only if it is closer to q than
    * to every already-selected neighbor; optionally backfill from the
    * pruned list (py/hnsw.py:317-318). Order-dependent by construction —
    * the exact pop order is preserved.
    */
  private def selectNeighbors(
      candidates: Seq[(Double, Int)],
      m: Int
  ): Seq[Int] = {
    val queue = candidates.sortBy(x => (x._1, x._2))
    val result = mutable.ArrayBuffer[Int]()
    val pruned = mutable.ArrayBuffer[(Double, Int)]()
    var i = 0
    while (i < queue.length && result.length < m) {
      val (d, e) = queue(i)
      if (result.forall(r => distIds(e, r) > d)) result += e
      else pruned += ((d, e))
      i += 1
    }
    if (params.keepPrunedConnections) {
      var j = 0
      while (j < pruned.length && result.length < m) {
        result += pruned(j)._2
        j += 1
      }
    }
    result.toSeq
  }

  private def levelFor(u: Double): Int = {
    val l =
      if (params.referenceLevelFormula)
        math.floor(-math.log(u * params.mL)) // ref: py/hnsw.py:353
      else math.floor(-math.log(u) * params.mL) // paper formula
    math.max(0, l.toInt)
  }

  /** Insert one vector (ref: py/hnsw.py:337-392). Returns the assigned
    * dense id (= insertion position, py/hnsw.py:344). `levelCoin`, when
    * non-NaN, replaces the RNG draw for this insert's level — the
    * [[HnswParams.deterministicLevels]] path, where the caller supplies
    * the md5-uniform over the node's global id.
    */
  def insert(v: Array[Double], levelCoin: Double = Double.NaN): Int = {
    val idx = size
    compression match {
      case Some(c) => codes += c.encode(v)
      case None    => raw += v
    }
    val u =
      if (java.lang.Double.isNaN(levelCoin)) rng.nextDouble() else levelCoin
    val l = levelFor(u)
    nodeLevels += l
    val prevTop = graph.height - 1 // height before this insert
    graph.ensureLayers(l)
    graph.addNode(0, idx)
    if (idx == 0) { // first insert short-circuits (ref: py/hnsw.py:358-359)
      entryPoint = 0
      width = v.length
      return idx
    }
    val dist = (id: Int) => distIds(idx, id)
    var ep = entryPoint
    // phase 1: greedy descent with ef=1 (ref: py/hnsw.py:365-367)
    var lc = prevTop
    while (lc > l) {
      ep = searchLayer(dist, ep, 1, lc).head._2
      lc -= 1
    }
    // phase 2: connect on layers min(prevTop, l)..0 (ref: py/hnsw.py:369-388)
    // reference mode: ONE budget per insert, keyed on the new element's
    // level (py/hnsw.py:371), used as select count AND trim cap everywhere
    val refBudget = if (l == 0) params.mMax0 else params.mMaxEff
    lc = math.min(prevTop, l)
    while (lc >= 0) {
      val w = searchLayer(dist, ep, params.efConstruction, lc)
      val selectN = if (params.referenceMMax0) refBudget else params.m
      val nbs = selectNeighbors(w, selectN)
      nbs.foreach(graph.addEdge(lc, idx, _))
      val cap =
        if (params.referenceMMax0) refBudget // ref: py/hnsw.py:371
        else if (lc == 0) params.mMax0 // paper: per-layer keying
        else params.mMaxEff
      nbs.foreach { n =>
        if (graph.layerAdjCount(lc, n) > cap) {
          val cands = graph.neighbors(lc, n).toSeq.map(x => (distIds(n, x), x))
          graph.updateConnections(lc, n, selectNeighbors(cands, cap)) // ref: py/hnsw.py:322-335
        }
      }
      ep = w.head._2
      lc -= 1
    }
    if (l > prevTop) entryPoint = idx // ref: py/hnsw.py:390-391
    idx
  }

  /** k-NN search (ref: py/hnsw.py:394-410): descend L..1 with ef=1, then
    * beam layer 0 with ef_search, take topK ascending (dist, id).
    */
  def search(
      q: Array[Double],
      topK: Int,
      efSearch: Int = -1
  ): IndexedSeq[(Double, Int)] = {
    if (size == 0) return IndexedSeq.empty
    require(q.length == width,
      s"query has width ${q.length}, the indexed vectors have width $width")
    val ef = math.max(if (efSearch > 0) efSearch else params.efSearch, topK)
    val dist = (id: Int) => distQ(q, id)
    var ep = entryPoint
    var lc = graph.height - 1
    while (lc > 0) {
      ep = searchLayer(dist, ep, 1, lc).head._2
      lc -= 1
    }
    searchLayer(dist, ep, ef, 0).take(topK)
  }
}
