package graft.operators

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset}
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
  * search replay itself is |Q|-bounded joins against the edge tables
  * and would serve fine over a corpus-scale index. The production build
  * and search stay [[DistributedHnsw]].
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

  /** Node cap for the idealized edge build: it broadcasts the layer-node
    * matrix (an exact all-kNN is quadratic by nature), so it is an
    * AUDIT-scale component by contract — the same bounded-audit
    * discipline as [[Dedup.auditSample]] / eval_dedup_blocking's exact
    * side. 200k nodes ≈ 100 MB at d=64. Production ANN is
    * [[DistributedHnsw]] / [[IvfIndex]].
    */
  val MaxAuditNodes = 200000

  /** Idealized per-layer edges in ONE pass: broadcast the (id, level,
    * vec) matrix, then each node computes its distance row once and
    * selects top-m (top-m0 at layer 0) per layer it occupies, ties
    * (dist, id)-ascending. Distance is the same ascending-index
    * sequential sum as L2SqExpr / the oracle's list_sum, so ranks are
    * bit-reproducible across engines. Returns (layer, src, dst).
    */
  private def idealEdges(base: DataFrame, m: Int, m0: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val rows = base.select(col("id"), col("vec"), col("level"))
      .as[(Long, Seq[Double], Int)]
      .collect()
      .sortBy(_._1)
    require(rows.length <= MaxAuditNodes,
      s"idealEdges is the audit-scale path: ${rows.length} nodes > cap $MaxAuditNodes")
    require(rows.nonEmpty, "idealEdges on empty input")
    val n = rows.length
    val d = rows(0)._2.length
    val ids = rows.map(_._1)
    val lvls = rows.map(_._3)
    val flat = new Array[Double](n * d)
    var i = 0
    while (i < n) {
      val v = rows(i)._2
      var t = 0
      while (t < d) { flat(i * d + t) = v(t); t += 1 }
      i += 1
    }
    val bc = spark.sparkContext.broadcast((ids, lvls, flat, d))
    base.select(col("id"), col("vec"), col("level"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        val (ids, lvls, flat, d) = bc.value
        val n = ids.length
        it.flatMap { case (sid, svecSeq, slvl) =>
          val sv = svecSeq.toArray
          val dist = new Array[Double](n)
          var j = 0
          while (j < n) {
            var s = 0.0
            var t = 0
            val off = j * d
            while (t < d) { val df = sv(t) - flat(off + t); s += df * df; t += 1 }
            dist(j) = s
            j += 1
          }
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
    * `local` is the same artifact as one broadcast value (ids, flat
    * vector matrix, per-layer adjacency) — legal at this component's
    * declared audit scale (the edge build already collects and
    * broadcasts the full matrix under [[MaxAuditNodes]]), and it turns
    * every |Q|-bounded search walk into ONE narrow mapPartitions pass
    * instead of 10+ rounds of tiny joins/windows (guide §1.2 step 1:
    * fix the distributed algorithm before anything else — the replay
    * walks were paying per-round scheduling/shuffle machinery on
    * kilobyte frontiers).
    */
  final case class LayeredIndex(base: DataFrame, edges: DataFrame) {
    @transient lazy val local
        : org.apache.spark.broadcast.Broadcast[ReplayLocalIndex] = {
      val spark = base.sparkSession
      val rows = base.select(col("id"), col("vec"), col("level"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
        .sortBy(_._1)
      val n = rows.length
      // mirror idealEdges' audit gate: buildLayered-produced indexes are
      // bounded by construction, but a hand-assembled LayeredIndex must
      // not silently collect an unbounded corpus to the driver
      require(n <= MaxAuditNodes,
        s"LayeredIndex.local: $n base rows exceed the $MaxAuditNodes-node audit bound")
      val d = if (n == 0) 0 else rows(0)._2.length
      val ids = rows.map(_._1)
      val flat = new Array[Double](n * d)
      var i = 0
      while (i < n) {
        System.arraycopy(rows(i)._2, 0, flat, i * d, d); i += 1
      }
      // entry: max level, tie → smallest id (ids ascending ⇒ first max)
      var entryIdx = 0
      var bestLvl = Int.MinValue
      i = 0
      while (i < n) {
        if (rows(i)._3 > bestLvl) { bestLvl = rows(i)._3; entryIdx = i }
        i += 1
      }
      val bufs = Array.fill(MaxLevel + 1, n)(
        null: scala.collection.mutable.ArrayBuffer[Int])
      edges.select(col("layer"), col("src"), col("dst")).collect().foreach {
        r =>
          val l = r.getInt(0)
          val s = java.util.Arrays.binarySearch(ids, r.getLong(1))
          val t = java.util.Arrays.binarySearch(ids, r.getLong(2))
          // fail with the offending row, not an opaque AIOOBE, when an
          // edge references an id absent from base or an out-of-range
          // layer (possible only for hand-assembled LayeredIndex values)
          require(l >= 0 && l <= MaxLevel && s >= 0 && t >= 0,
            s"LayeredIndex.local: edge (layer=$l, src=${r.getLong(1)}, " +
              s"dst=${r.getLong(2)}) references a layer > $MaxLevel or an " +
              "id absent from base")
          if (bufs(l)(s) == null)
            bufs(l)(s) = scala.collection.mutable.ArrayBuffer.empty[Int]
          bufs(l)(s) += t
      }
      val adj = bufs.map(_.map(b => if (b == null) Array.empty[Int] else b.toArray))
      spark.sparkContext.broadcast(new ReplayLocalIndex(ids, flat, d, adj, entryIdx))
    }
  }

  /** Broadcast-local spelling of [[LayeredIndex]]: id-sorted vector
    * matrix plus per-layer adjacency by node index. Immutable,
    * audit-bounded (≤ [[MaxAuditNodes]] nodes by the edge build's own
    * require).
    */
  final class ReplayLocalIndex(
      val ids: Array[Long],
      val flat: Array[Double], // n*d, id-ascending
      val d: Int,
      val adj: Array[Array[Array[Int]]], // adj(layer)(idx) = neighbor idxs
      val entryIdx: Int
  ) extends Serializable

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
    LayeredIndex(base, idealEdges(base, m, m0).localCheckpoint())
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
    perQuery(idx, queries, qidCol, qvecCol) { (li, qid, qv) =>
      val dist = l2Of(li, qv)
      val start = greedyLocal(li, dist, greedyRounds)
      efs.iterator.flatMap { ef =>
        beamLocal(li, dist, start, ef, beamRounds)._1
          .iterator.take(k).zipWithIndex.map { case ((i, d), pos) =>
            (qid, li.ids(i), d, (pos + 1).toLong, ef.toLong)
          }
      }
    }.toDF("query_id", "neighbor_id", "dist", "rnk", "ef")
  }

  /** Attribute-filtered search replay — the hnswlib filter contract
    * ([[DistributedHnsw.searchFiltered]] / LocalGraphSearcher.rawFiltered:
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
    perQuery(idx, qs, "qid", "qv") { (li, qid, qv) =>
      val dist = l2Of(li, qv)
      val seen = beamLocal(
        li, dist, greedyLocal(li, dist, greedyRounds), ef, beamRounds)._2
      seen.entrySet.iterator.asScala.map { e =>
        (qid, li.ids(e.getKey), e.getValue.doubleValue)
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
    val li0 = idx.local.value // driver-side: map cid → node index
    val codesByIdx = new Array[Array[Short]](li0.ids.length)
    codes.select(col("cid").cast("long"), col("code")).collect().foreach { r =>
      val i = java.util.Arrays.binarySearch(li0.ids, r.getLong(0))
      if (i >= 0) codesByIdx(i) = r.getSeq[Short](1).toArray
    }
    // full coverage is part of the contract: the relational spelling's
    // inner join against the code table drops a codeless node from the
    // walk, which a per-node scorer cannot express — requiring coverage
    // keeps the spec-pinned equality meaningful instead of silently
    // choosing one semantics
    val missingCode = codesByIdx.indexWhere(_ == null)
    require(missingCode < 0,
      s"searchReplayAdc: node id=${li0.ids(math.max(missingCode, 0))} has " +
        "no PQ code — the code table must cover every index id")
    val codesBc = queries.sparkSession.sparkContext.broadcast(codesByIdx)
    val (flatCb, m, kCb, dp) = (model.flatCodebook, model.m, model.k, model.dp)
    perQuery(idx, queries, qidCol, qvecCol) { (li, qid, qv) =>
      val lut = lutLocal(flatCb, m, kCb, dp, qv)
      val cds = codesBc.value
      val adc = (i: Int) => adcLocal(lut, kCb, cds(i))
      val beam = beamLocal(
        li, adc, greedyLocal(li, adc, greedyRounds), ef, beamRounds)._1
      // exact rerank of the ef survivors — the only raw-vector read
      rankLocal(li, beam.map(_._1), l2Of(li, qv), k)
        .iterator.zipWithIndex.map { case ((i, d), pos) =>
          (qid, li.ids(i), d, (pos + 1).toLong)
        }
    }.toDF("query_id", "neighbor_id", "dist", "rnk")
  }

  // ---- local walk kernels -------------------------------------------------
  // Bit-exact local spellings of the relational walk stages: distances are
  // the same ascending-index double sum as L2SqExpr / PQLutExpr /
  // PQAdcLutExpr, argmin and ranking the same (d, id) lexicographic order
  // as min(struct(d, cid)) / row_number over (d, cid). Every public search
  // above is spec-pinned equal to its twin in the test-side
  // HnswReplayRelational object.

  /** The walk contract of every search: at beamRounds = 0 the local walks
    * have no layer-0 round to rank while the relational twins NPE — the
    * equality contract only covers >= 1, so both spellings reject the
    * unsupported configuration identically.
    */
  private def requireWalk(k: Int, ef: Int, beamRounds: Int): Unit = {
    require(k <= ef, s"k=$k must be <= ef=$ef")
    require(beamRounds >= 1, s"beamRounds must be >= 1, got $beamRounds")
  }

  /** `walk` over every query in ONE narrow mapPartitions pass against the
    * broadcast index. */
  private def perQuery[T <: Product: TypeTag](
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String
  )(walk: (ReplayLocalIndex, Long, Array[Double]) => Iterator[T]): Dataset[T] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = idx.local
    queries
      .select(col(qidCol).cast("long"), col(qvecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val li = bc.value
        it.flatMap { case (qid, qv) => walk(li, qid, qv) }
      }
  }

  /** Same ascending-index sum as [[graft.functions.L2SqExpr]]. */
  private def l2Local(
      flat: Array[Double], off: Int, d: Int, qv: Array[Double]): Double = {
    val n = math.min(qv.length, d)
    var s = 0.0
    var i = 0
    while (i < n) { val df = qv(i) - flat(off + i); s += df * df; i += 1 }
    s
  }

  /** Exact L2² from `qv` to node i. */
  private def l2Of(li: ReplayLocalIndex, qv: Array[Double]): Int => Double =
    i => l2Local(li.flat, i * li.d, li.d, qv)

  /** Greedy descent MaxLevel..1: per round argmin by (d, id) over
    * {cur} ∪ neighbors_l(cur) — `min(struct(d, cid))` locally.
    */
  private def greedyLocal(
      li: ReplayLocalIndex, dist: Int => Double, greedyRounds: Int): Int = {
    var cur = li.entryIdx
    var l = MaxLevel
    while (l >= 1) {
      var r = 0
      while (r < greedyRounds) {
        var bestI = cur
        var bestD = dist(cur)
        val nbs = li.adj(l)(cur)
        var j = 0
        while (j < nbs.length) {
          val nb = nbs(j)
          val dd = dist(nb)
          if (dd < bestD || (dd == bestD && li.ids(nb) < li.ids(bestI))) {
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

  /** One beam expansion: beam ∪ layer-0 neighbors, deduped (the
    * collect_set). Order is irrelevant — every consumer re-sorts by the
    * total (d, id) order.
    */
  private def expandLocal(li: ReplayLocalIndex, beam: Array[Int]): Array[Int] = {
    val set = new java.util.HashSet[Integer]()
    var i = 0
    while (i < beam.length) {
      val b = beam(i)
      set.add(b)
      val nbs = li.adj(0)(b)
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

  /** Score + rank by (d, id) ascending, cut at `cut` — the
    * row_number-over-(d, cid) window locally.
    */
  private def rankLocal(
      li: ReplayLocalIndex,
      cand: Array[Int],
      score: Int => Double,
      cut: Int): Array[(Int, Double)] = {
    val scored = cand.map(i => (i, score(i)))
    // java.lang.Double.compare, not (<, ==): the primitive comparators
    // are not a total order when a distance is NaN (TimSort can throw
    // "Comparison method violates its general contract"), and compare's
    // NaN-last ordering matches how the relational twins' window sort
    // orders NaN in Spark
    scored
      .sortWith { case ((i1, d1), (i2, d2)) =>
        val c = java.lang.Double.compare(d1, d2)
        c < 0 || (c == 0 && li.ids(i1) < li.ids(i2))
      }
      .take(cut)
  }

  /** Synchronized layer-0 ef-beam from `start`, scoring each node once.
    * Returns the LAST round's ranked survivors (≤ ef entries,
    * (d, id)-ascending — rnk is the array position + 1) and every node
    * any round scored (beam ∪ neighbors per round) with its distance, in
    * first-scored order — the cumulative visited set W.
    */
  private def beamLocal(
      li: ReplayLocalIndex,
      dist: Int => Double,
      start: Int,
      ef: Int,
      beamRounds: Int
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
    var beam = Array(start)
    var last = Array.empty[(Int, Double)]
    var r = 0
    while (r < beamRounds) {
      last = rankLocal(li, expandLocal(li, beam), memo, ef)
      beam = last.map(_._1)
      r += 1
    }
    (last, seen)
  }

  /** Same loop order as [[graft.functions.PQLutExpr]]. */
  private def lutLocal(
      flat: Array[Double], m: Int, k: Int, dp: Int,
      qv: Array[Double]): Array[Double] = {
    require(qv.length == m * dp,
      s"query vector length ${qv.length} != ${m * dp}")
    val out = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      val off = mi * dp
      var ki = 0
      while (ki < k) {
        val coff = (mi * k + ki) * dp
        var s = 0.0
        var j = 0
        while (j < dp) {
          val d = qv(off + j) - flat(coff + j); s += d * d; j += 1
        }
        out(mi * k + ki) = s
        ki += 1
      }
      mi += 1
    }
    out
  }

  /** Same m-ordered LUT sum as [[graft.functions.PQAdcLutExpr]]. */
  private def adcLocal(lut: Array[Double], k: Int, code: Array[Short]): Double = {
    var s = 0.0
    var mi = 0
    while (mi < code.length) { s += lut(mi * k + code(mi)); mi += 1 }
    s
  }
}
