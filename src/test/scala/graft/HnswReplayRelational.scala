package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{PQModel, ProductQuantizer}
import graft.operators.HnswReplay.{LayeredIndex, MaxLevel}

/** Reference twins of the [[graft.operators.HnswReplay]] searches: the
  * original iterative-join spelling of each walk (one Spark join, window
  * or aggregate per round), kept only for HnswReplaySpec, which pins each
  * local-walk search equal to its twin bit-for-bit.
  */
object HnswReplayRelational {

  /** The original iterative-join spelling, kept as the reference twin
    * for the local-walk equality spec (HnswReplaySpec pins
    * local == relational bit-for-bit on the test corpus).
    */
  def searchReplayRelational(
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame = {
    val qs = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
    val cur = greedyDescent(idx, qs, greedyRounds)
    layer0Beam(idx, qs, cur, k, ef, beamRounds)
  }

  /** Reference twin of HnswReplay.replayEfCurve (see
    * searchReplayRelational). */
  def replayEfCurveRelational(
      idx: LayeredIndex,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      efs: Seq[Int],
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame = {
    val qs = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
    val cur = greedyDescent(idx, qs, greedyRounds).localCheckpoint()
    efs
      .map(ef =>
        layer0Beam(idx, qs, cur, k, ef, beamRounds)
          .withColumn("ef", lit(ef.toLong)))
      .reduce(_.unionByName(_))
  }

  /** Reference twin of HnswReplay.visitedLayer0 (see
    * searchReplayRelational). */
  def visitedLayer0Relational(
      idx: LayeredIndex,
      qs: DataFrame, // (qid, qv)
      ef: Int,
      greedyRounds: Int,
      beamRounds: Int
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    val cur = greedyDescent(idx, qs, greedyRounds)
    val edges0 = layerEdges(idx, 0)
    val vecsOf = idx.base.select(col("id").as("cid"), col("vec"))
    var beam = cur.select(col("qid"), col("cur").as("cid"))
    var visited: DataFrame = null
    for (_ <- 1 to beamRounds) {
      val expanded = beam
        .join(edges0, col("cid") === col("src"), "left")
        .select(col("qid"),
          explode(array(col("cid"), col("dst"))).as("cid2"))
        .filter(col("cid2").isNotNull)
        .groupBy(col("qid"))
        .agg(collect_set(col("cid2")).as("cs"))
        .select(col("qid"), explode(col("cs")).as("cid"))
      // materialized per round: BOTH the next beam and the cumulative
      // visited union read this frame — without the checkpoint the
      // union's branches each re-execute the full prior-round lineage
      // (no cross-branch CSE), an O(rounds²) recompute
      val scored = expanded
        .join(qs, "qid")
        .join(vecsOf, "cid")
        .withColumn("d", l2SqFast(col("qv"), col("vec")))
        .select(col("qid"), col("cid"), col("d"))
        .localCheckpoint()
      visited = if (visited == null) scored else visited.unionByName(scored)
      beam = scored
        .withColumn("rn",
          row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))))
        .filter(col("rn") <= ef)
        .select(col("qid"), col("cid"))
    }
    // d is a pure function of (qid, cid): duplicates are identical rows
    visited.dropDuplicates("qid", "cid")
  }

  /** Reference twin of HnswReplay.searchReplayAdc (see
    * searchReplayRelational). */
  def searchReplayAdcRelational(
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
    import graft.functions.VectorExpressions.l2SqFast
    require(k <= ef, s"k=$k must be <= ef=$ef")
    // the same walk contract as the local searches
    require(beamRounds >= 1, s"beamRounds must be >= 1, got $beamRounds")
    val qs = queries
      .select(col(qidCol).cast("long").as("qid"), col(qvecCol).as("qv"))
      .withColumn("lut", ProductQuantizer.lutCol(model, col("qv")))
      .localCheckpoint() // |Q| rows × M·K doubles, scored every round
    val cds = codes.select(col("cid").cast("long").as("cid"), col("code"))
    def adcScore(cand: DataFrame): DataFrame = // (qid, cid) -> + d
      cand
        .join(qs.select(col("qid"), col("lut")), "qid")
        .join(cds, "cid")
        .withColumn("d",
          ProductQuantizer.adcFromLutCol(model, col("lut"), col("code")))
        .select(col("qid"), col("cid"), col("d"))
    val entry = idx.base
      .orderBy(col("level").desc, col("id"))
      .limit(1)
      .select(col("id").as("cur"))
    var cur = qs.select(col("qid")).crossJoin(broadcast(entry))
    for (l <- MaxLevel to 1 by -1; _ <- 1 to greedyRounds) {
      val cand = cur
        .join(layerEdges(idx, l), col("cur") === col("src"), "left")
        .select(col("qid"), explode(array(col("cur"), col("dst"))).as("cid"))
        .filter(col("cid").isNotNull)
      cur = adcScore(cand)
        .groupBy(col("qid"))
        .agg(min(struct(col("d"), col("cid"))).as("best"))
        .select(col("qid"), col("best").getField("cid").as("cur"))
    }
    val edges0 = layerEdges(idx, 0)
    var beam = cur.select(col("qid"), col("cur").as("cid"))
    for (_ <- 1 to beamRounds) {
      val expanded = beam
        .join(edges0, col("cid") === col("src"), "left")
        .select(col("qid"), explode(array(col("cid"), col("dst"))).as("cid2"))
        .filter(col("cid2").isNotNull)
        .groupBy(col("qid"))
        .agg(collect_set(col("cid2")).as("cs"))
        .select(col("qid"), explode(col("cs")).as("cid"))
      beam = adcScore(expanded)
        .withColumn("rn",
          row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))))
        .filter(col("rn") <= ef)
        .select(col("qid"), col("cid"))
    }
    // exact rerank: the only raw-vector read, |Q|·ef rows
    beam
      .join(qs.select(col("qid"), col("qv")), "qid")
      .join(idx.base.select(col("id").as("cid"), col("vec")), "cid")
      .withColumn("d", l2SqFast(col("qv"), col("vec")))
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

  /** Greedy descent, MaxLevel..1: per round the next position is the
    * (dist, id)-argmin over {cur} ∪ neighbors(cur) at that layer.
    * Returns (qid, cur).
    */
  def greedyDescent(
      idx: LayeredIndex,
      qs: DataFrame, // (qid, qv)
      greedyRounds: Int
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    val entry = idx.base
      .orderBy(col("level").desc, col("id"))
      .limit(1)
      .select(col("id").as("cur"))
    val vecsOf = idx.base.select(col("id").as("cid"), col("vec"))
    var cur = qs.select(col("qid")).crossJoin(broadcast(entry))
    for (l <- MaxLevel to 1 by -1; _ <- 1 to greedyRounds) {
      // no dedup shuffle: the (d, cid)-argmin is duplicate-insensitive
      val cand = cur
        .join(layerEdges(idx, l), col("cur") === col("src"), "left")
        .select(col("qid"),
          explode(array(col("cur"), col("dst"))).as("cid"))
        .filter(col("cid").isNotNull)
      cur = cand
        .join(qs, "qid")
        .join(vecsOf, "cid")
        .withColumn("d", l2SqFast(col("qv"), col("vec")))
        .groupBy(col("qid"))
        .agg(min(struct(col("d"), col("cid"))).as("best"))
        .select(col("qid"), col("best").getField("cid").as("cur"))
    }
    cur
  }

  /** Layer-0 synchronized beam of width ef for beamRounds rounds; the
    * final top-k is the LAST round's own (d, cid) ranking cut at k —
    * re-ranking the ef survivors would reproduce rn exactly, so the
    * last round is fused instead of re-joined. Returns
    * (query_id, neighbor_id, dist, rnk).
    */
  def layer0Beam(
      idx: LayeredIndex,
      qs: DataFrame, // (qid, qv)
      cur: DataFrame, // (qid, cur) from greedyDescent
      k: Int,
      ef: Int,
      beamRounds: Int
  ): DataFrame = {
    import graft.functions.VectorExpressions.l2SqFast
    require(k <= ef, s"k=$k must be <= ef=$ef")
    // the same walk contract as the local searches
    require(beamRounds >= 1, s"beamRounds must be >= 1, got $beamRounds")
    val edges0 = layerEdges(idx, 0)
    val vecsOf = idx.base.select(col("id").as("cid"), col("vec"))
    var beam = cur.select(col("qid"), col("cur").as("cid"))
    var lastScored: DataFrame = null
    for (_ <- 1 to beamRounds) {
      // dedup via collect_set on the SAME qid key every stage uses: the
      // frontier is hash-partitioned by qid once at the top of the
      // search, and broadcast edge/query/vector joins preserve it, so
      // neither this agg nor the ranking window below inserts an
      // exchange — the whole multi-round search runs off ONE shuffle
      val expanded = beam
        .join(edges0, col("cid") === col("src"), "left")
        .select(col("qid"),
          explode(array(col("cid"), col("dst"))).as("cid2"))
        .filter(col("cid2").isNotNull)
        .groupBy(col("qid"))
        .agg(collect_set(col("cid2")).as("cs"))
        .select(col("qid"), explode(col("cs")).as("cid"))
      lastScored = expanded
        .join(qs, "qid")
        .join(vecsOf, "cid")
        .withColumn("d", l2SqFast(col("qv"), col("vec")))
        .withColumn("rn",
          row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("d"), col("cid"))))
        .filter(col("rn") <= ef)
      beam = lastScored.select(col("qid"), col("cid"))
    }

    lastScored
      .filter(col("rn") <= k)
      .select(
        col("qid").as("query_id"),
        col("cid").as("neighbor_id"),
        col("d").as("dist"),
        col("rn").cast("long").as("rnk"))
  }

  def layerEdges(idx: LayeredIndex, l: Int): DataFrame =
    idx.edges.filter(col("layer") === l).select(col("src"), col("dst"))
}
