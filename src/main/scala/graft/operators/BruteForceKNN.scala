package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.bestPer
import graft.functions.VectorExpressions._

/** Exact k-nearest-neighbor search by full scan — the correctness oracle
  * (ref: py/bruteforce.py:11-19 `RunSearch`).
  *
  * Shape: similarity (theta) join `queries × base` with the distance as a
  * codegen'd array expression, then top-k per query. The query side is
  * broadcast — at 100 TB the base table is the big side and streams through
  * executors partition-by-partition while every executor holds the (small)
  * query batch; no shuffle of the base data at all.
  *
  * The per-query top-k is the bounded-heap aggregate
  * ([[graft.functions.TopKAgg]]): each partition reduces to k rows per
  * query *before* the shuffle (partial aggregation), so shuffle volume is
  * O(|Q|·k·partitions) instead of the O(|Q|·|B|) a rank window would sort.
  * The rank-window formulation lives in src/test (`BruteForceWindow`),
  * where VectorFunctionsSpec checks heap == window.
  *
  * Results are `(query_id, neighbor_id, dist, rnk)` ascending by
  * `(dist, neighbor_id)` — squared L2, stable tie-break on id, matching the
  * reference's stable sort (ref: py/bruteforce.py:17).
  */
object BruteForceKNN {

  /** Exact top-k similarity join by squared L2 (bounded-heap aggregate). */
  def knn(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    bestPer(base.join(broadcast(queries)), Seq(qidCol),
      l2SqFast(col(qvecCol), col(bvecCol)), bidCol, k)
  }

  /** Same, by cosine similarity descending (ties broken by ascending id) —
    * the heap keeps the k smallest of -sim. Norms are per-row invariants,
    * computed once per side before the join.
    */
  def knnCosine(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    val qn = queries.withColumn("qnorm", sqrt(dotFast(col(qvecCol), col(qvecCol))))
    val bn = base.withColumn("bnorm", sqrt(dotFast(col(bvecCol), col(bvecCol))))
    bestPer(bn.join(broadcast(qn)), Seq(qidCol),
      -(dotFast(col(qvecCol), col(bvecCol)) / (col("qnorm") * col("bnorm"))),
      bidCol, k)
      .select(col(qidCol), col(bidCol), (-col("dist")).as("sim"), col("rnk"))
  }

  /** Same, by inner product descending (MIPS — the retrieval similarity
    * for unnormalized learned embeddings; ties broken by ascending id).
    * The heap keeps the k smallest of -dot. Unlike L2/cosine this is not
    * a metric (no triangle inequality), which is exactly why it needs its
    * own entry point rather than a normalize-then-L2 rewrite.
    */
  def knnDot(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    bestPer(base.join(broadcast(queries)), Seq(qidCol),
      -dotFast(col(qvecCol), col(bvecCol)), bidCol, k)
      .select(col(qidCol), col(bidCol), (-col("dist")).as("dot"), col("rnk"))
  }

  /** Radius (range) search: every (query, neighbor) pair within squared-L2
    * `radiusSq`. Same broadcast-queries similarity-join shape as [[knn]],
    * but selection is a filter, not a top-k — result size is data-dependent,
    * so there is no heap and no aggregation at all: pairs stream straight
    * out of the codegen'd distance filter with zero shuffles.
    */
  def rangeSearch(
      queries: DataFrame,
      base: DataFrame,
      radiusSq: Double,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame =
    base
      .join(broadcast(queries))
      .withColumn("dist", l2SqFast(col(qvecCol), col(bvecCol)))
      .filter(col("dist") <= radiusSq)
      .select(col(qidCol), col(bidCol), col("dist"))

  /** Attribute-constrained (filtered) exact kNN: for each query, the k
    * nearest base vectors WHOSE KEY EQUALS THE QUERY'S KEY — the
    * "filtered ANN" query shape (search only within a category / tenant /
    * shard). The equality predicate is declared as a JOIN KEY, so Spark
    * executes a broadcast HASH join on the key instead of the
    * nested-loop-over-all-pairs of [[knn]]: the codegen'd distance
    * expression only ever evaluates same-key pairs, and selective keys cut
    * the distance work by the key's fan-out, not post-hoc. Base is still
    * never shuffled; the bounded heap still reduces each partition to k
    * rows per query before the exchange.
    */
  def knnConstrained(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      qkeyCol: String = "qkey",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv",
      bkeyCol: String = "bkey"
  ): DataFrame = {
    bestPer(base.join(broadcast(queries), col(qkeyCol) === col(bkeyCol)),
      Seq(qidCol), l2SqFast(col(qvecCol), col(bvecCol)), bidCol, k)
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * 1998): shortlist the `kCand` nearest exactly, then greedily pick `k`
    * results maximizing `λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)` with
    * `rel = −dist` and `sim = −L2²` — relevance traded against redundancy,
    * the standard de-duplicating rerank over a retrieval shortlist.
    *
    * Shape at scale: the corpus-sized work is [[knn]] (broadcast queries,
    * partial heap agg); the greedy selection is quadratic only in `kCand`
    * and runs per query group inside `flatMapGroups` — the shuffle is
    * |Q|·kCand shortlist rows, never corpus data. Fully deterministic
    * (ties break on ascending id), so the whole rerank sits under a
    * recursive-CTE DuckDB oracle.
    */
  def knnMmr(
      queries: DataFrame,
      base: DataFrame,
      kCand: Int,
      k: Int,
      lambda: Double = 0.5,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val l = lambda
    val cands = knn(queries, base, kCand, qidCol, qvecCol, bidCol, bvecCol)
      .join(base.select(col(bidCol), col(bvecCol)), bidCol)
      .select(
        col(qidCol).cast("long"),
        col(bidCol).cast("long"),
        col("dist"),
        col(bvecCol).cast("array<double>")
      )
    cands
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rows = it
          .map { case (_, id, d, v) => (id, d, v.toArray) }
          .toArray
          .sortBy(r => (r._2, r._1)) // (dist, id): head = most relevant
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        val remaining = scala.collection.mutable.ArrayBuffer(rows: _*)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        while (selected.length < k && remaining.nonEmpty) {
          val pick =
            if (selected.isEmpty) 0
            else {
              var best = -1
              var bestScore = Double.NegativeInfinity
              var i = 0
              while (i < remaining.length) {
                val (id, d, v) = remaining(i)
                // same float-op order as the oracle: max of negated pair
                // distances, then l·(−d) − (1−l)·maxSim
                var maxSim = Double.NegativeInfinity
                var j = 0
                while (j < selected.length) {
                  val s = -KMeansLocal.l2Sq(v, selected(j)._2)
                  if (s > maxSim) maxSim = s
                  j += 1
                }
                val score = l * (-d) - (1 - l) * maxSim
                // ties break on ascending id: remaining is (dist, id)-
                // sorted, not id-sorted, so compare explicitly
                if (score > bestScore ||
                    (score == bestScore && (best < 0 || id < remaining(best)._1))) {
                  bestScore = score
                  best = i
                }
                i += 1
              }
              best
            }
          val (id, _, v) = remaining.remove(pick)
          selected += ((id, v))
          out += ((qid, id, selected.length.toLong))
        }
        out.iterator
      }
      .toDF(qidCol, bidCol, "mmr_rnk")
  }

  /** The (query blocks, base blocks) grid of [[knnShuffled]], 4 × 8 = 32
    * independent join tasks. One grid for every caller: no caller names
    * a block count. */
  val ShuffledGrid: (Int, Int) = (4, 8)

  /** Exact kNN for LARGE query batches — the both-sides-big regime where
    * [[knn]]'s broadcast of the query batch no longer fits an executor.
    * Classic 2-D block grid ([[ShuffledGrid]]): queries hash into
    * `qBlocks` groups, base into `bBlocks`, each side replicated across the
    * other's axis, and the equi-join on the composite (qblk, bblk) key
    * creates qBlocks·bBlocks independent tasks each holding |Q|/qBlocks
    * queries × |B|/bBlocks base rows. Shuffle volume is |B|·qBlocks +
    * |Q|·bBlocks, and NOTHING broadcasts except the two block-id tables;
    * per-task memory is a block of each side, not a whole side. The
    * bounded heap still reduces every task to k rows per query before the
    * merge exchange, so the second shuffle stays O(|Q|·k·blocks).
    *
    * Identical results to [[knn]] (spec-gated): same distance expression,
    * same heap, same tie-breaks — only the data placement differs.
    */
  def knnShuffled(
      queries: DataFrame,
      base: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    val (qBlocks, bBlocks) = ShuffledGrid
    // axis replication is an explode of a literal int array — a Generate
    // node, no join and no broadcast anywhere in the plan
    val qrep = queries
      .withColumn("qblk", pmod(hash(col(qidCol)), lit(qBlocks)))
      .withColumn("bblk", explode(typedLit((0 until bBlocks).toList)))
    val brep = base
      .withColumn("bblk", pmod(hash(col(bidCol)), lit(bBlocks)))
      .withColumn("qblk", explode(typedLit((0 until qBlocks).toList)))
    bestPer(brep.join(qrep.hint("shuffle_hash"), Seq("qblk", "bblk")),
      Seq(qidCol), l2SqFast(col(qvecCol), col(bvecCol)), bidCol, k)
  }

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020):
    * query and document are each a BAG of token vectors, and the pair
    * score is MaxSim — `Σ_{qt∈Q} max_{dt∈D} qt·dt` (each query token
    * matches its best document token; descending score, ties on
    * ascending id). This is the multi-vector retrieval shape that single
    * vector kNN cannot express: relevance is per-token alignment, not
    * one pooled dot product.
    *
    * Shape at scale: identical placement to [[knn]] — the (small) query
    * batch broadcasts, the corpus streams partition-by-partition, and the
    * bounded heap reduces every partition to k rows per query before the
    * one exchange. The MaxSim kernel itself is pure nested HOF algebra
    * (`aggregate` over query tokens of `array_max` over `transform` of
    * the codegen dot), so the token loops run inside whole-stage codegen
    * against the in-memory arrays — no explode, no (doc, token) row
    * blow-up through a shuffle, no UDF.
    *
    * Inputs are `array<array<double>>` token-vector columns; dot order
    * matches the engine convention (left-to-right double accumulation),
    * so the whole score sits under a DuckDB list-lambda oracle. The
    * kernel is the fused native [[graft.functions.MaxSimExpr]] (one
    * primitive loop nest per pair, no per-pair scores array) —
    * bit-identical to the HOF formulation, VectorFunctionsSpec-pinned.
    */
  def knnMaxSim(
      queries: DataFrame,
      docs: DataFrame,
      k: Int,
      qidCol: String = "query_id",
      qtoksCol: String = "qtoks",
      didCol: String = "doc_id",
      dtoksCol: String = "dtoks"
  ): DataFrame = {
    bestPer(docs.join(broadcast(queries)), Seq(qidCol),
      -maxSimFast(col(qtoksCol), col(dtoksCol)), didCol, k)
      .select(col(qidCol), col(didCol), (-col("dist")).as("score"), col("rnk"))
  }

  /** Retrieve-then-rerank: pooled-vector shortlist, late-interaction
    * rerank — the canonical two-stage serving pipeline (a cheap
    * single-vector stage bounds the candidate set; the expensive
    * per-token MaxSim runs only on |Q|·kShort rows). `queries` carries
    * BOTH representations (pooled `qvecCol` + token bag `qtoksCol`);
    * `docs` likewise. Results are the MaxSim top-k OF THE SHORTLIST —
    * at scale the shortlist is the |Q|·kShort-row small side, so the
    * rerank join broadcasts it against the doc token table and the
    * corpus-sized work stays in stage 1.
    */
  def knnMaxSimRerank(
      queries: DataFrame, // (qid, qv, qtoks)
      docs: DataFrame, // (did, bv, dtoks)
      kShort: Int,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      qtoksCol: String = "qtoks",
      didCol: String = "doc_id",
      bvecCol: String = "bv",
      dtoksCol: String = "dtoks"
  ): DataFrame = {
    val shortlist = knn(
      queries.select(col(qidCol), col(qvecCol)),
      docs.select(col(didCol).as("nid"), col(bvecCol)),
      kShort, qidCol, qvecCol, "nid", bvecCol
    ).select(col(qidCol), col("nid"))
    val pairs = docs
      .select(col(didCol), col(dtoksCol))
      .join(broadcast(shortlist), col(didCol) === col("nid"))
      .join(broadcast(queries.select(col(qidCol).as("qq"), col(qtoksCol))),
        col("qq") === col(qidCol))
    bestPer(pairs, Seq(qidCol), -maxSimFast(col(qtoksCol), col(dtoksCol)), didCol, k)
      .select(col(qidCol), col(didCol), (-col("dist")).as("score"), col("rnk"))
  }

  /** Matryoshka (MRL) two-stage retrieval: a coarse exact kNN over the
    * FIRST `dPrefix` dimensions bounds the candidates, then the full-dim
    * distance reranks only the shortlist — the serving pattern for
    * matryoshka-trained embeddings (Kusupati et al. 2022), where prefixes
    * of the vector are themselves valid lower-capacity embeddings. At
    * scale the prefix slice is a stored narrow column, so stage 1 streams
    * `dPrefix/d` of the corpus bytes and stage 2 touches |Q|·kShort rows;
    * both stages keep the broadcast-queries + bounded-heap shape of
    * [[knn]]. Output = full-dim top-k OF THE SHORTLIST, ties on ascending
    * id in both stages (deterministic, oracle-able end to end).
    */
  def knnMrl(
      queries: DataFrame, // (qid, qv)  full-dim
      base: DataFrame, // (bid, bv)  full-dim
      dPrefix: Int,
      kShort: Int,
      k: Int,
      qidCol: String = "query_id",
      qvecCol: String = "qv",
      bidCol: String = "neighbor_id",
      bvecCol: String = "bv"
  ): DataFrame = {
    require(dPrefix >= 1, s"dPrefix must be >= 1, got $dPrefix")
    require(kShort >= k, s"kShort ($kShort) must be >= k ($k)")
    val shortlist = knn(
      queries.select(col(qidCol), slice(col(qvecCol), 1, dPrefix).as(qvecCol)),
      base.select(col(bidCol).as("nid"), slice(col(bvecCol), 1, dPrefix).as(bvecCol)),
      kShort, qidCol, qvecCol, "nid", bvecCol
    ).select(col(qidCol), col("nid"))
    val pairs = base
      .join(broadcast(shortlist), col(bidCol) === col("nid"))
      .join(broadcast(queries.select(col(qidCol).as("qq"), col(qvecCol))),
        col("qq") === col(qidCol))
    bestPer(pairs, Seq(qidCol), l2SqFast(col(qvecCol), col(bvecCol)), bidCol, k)
  }
}
