package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg.{bestPer, topK}
import graft.functions.VectorExpressions._

/** SRP-LSH approximate top-k cosine search — the FIFTH ANN index family
  * next to IVF, sharded HNSW, kNN-graph walks, and the RP-tree forest:
  * stateless hyperplane bucketing (Charikar 2002), the one index whose
  * "build" is a single map-only scan (no training, no graph, no tree —
  * each vector's banded sign signature IS its index entry), which makes
  * it the cheapest index to maintain under churn.
  *
  * Search: a query probes each band with its exact signature plus every
  * 1-bit flip (Lv et al. 2007 multi-probe — most of the recall extra
  * hash tables would buy, without replicating the index); candidates
  * are bucket collisions only, then an exact-cosine rerank over the
  * bounded candidate set via the bounded-heap top-k aggregate. Shares
  * [[Dedup]]'s signature kernel verbatim, so the dedup family and the
  * search family bucket identically by construction.
  *
  * Scale shape: index = one corpus scan emitting `bands` rows per
  * vector; search = an equi-join on (band, signature) — shuffle keyed
  * on bounded-cardinality buckets, volume = collisions, never |Q|·|B| —
  * then the rerank join touches only candidate ids. Per-partition
  * partial top-k bounds the final shuffle at O(|Q|·k·partitions). A
  * query colliding with nothing returns < k rows (no silent full-scan
  * fallback — the recall/candidate trade is the operator's contract,
  * audited by eval_dedup_blocking on the shared kernel).
  */
object LshKnn {

  private def flipAt(s: org.apache.spark.sql.Column, p: Int, r: Int) =
    concat(
      substring(s, 1, p - 1),
      when(substring(s, p, 1) === "1", lit("0")).otherwise(lit("1")),
      substring(s, p + 1, r - p))

  /** All probe signatures within Hamming distance `radius` (0, 1 or 2)
    * of a band signature — the probe-radius knob (more flips = more
    * buckets examined = higher recall, candidate volume bounded by
    * (1 + r + C(r,2)) × the exact-band collisions).
    */
  private def probesFor(
      sig: org.apache.spark.sql.Column,
      rowsPerBand: Int,
      radius: Int): Seq[org.apache.spark.sql.Column] =
    probesForTagged(sig, rowsPerBand, radius).map(_._1)

  /** [[probesFor]] with each probe signature tagged by its flip count —
    * the smallest radius that examines the bucket. Radius sets are
    * cumulative (radius r = all flips ≤ r), so one widest-radius probe
    * table serves every narrower radius by a `flips <= r` gate.
    */
  private def probesForTagged(
      sig: org.apache.spark.sql.Column,
      rowsPerBand: Int,
      radius: Int): Seq[(org.apache.spark.sql.Column, Int)] = {
    require(radius >= 0 && radius <= 2, s"probe radius 0..2, got $radius")
    val r = rowsPerBand
    Seq((sig, 0)) ++
      (if (radius >= 1) (1 to r).map(p => (flipAt(sig, p, r), 1)) else Nil) ++
      (if (radius >= 2)
         for { p <- 1 to r; q <- (p + 1) to r }
           yield (flipAt(flipAt(sig, p, r), q, r), 2)
       else Nil)
  }

  /** The measured recall-vs-probe-radius operating curve — completing
    * the tuning-knob symmetry with IVF's nprobe curve, HNSW's ef curve
    * and the RP-tree spill curve: one shared exact-cosine truth, ONE
    * flip-tagged probe pass at the widest radius whose min-flip
    * candidate table serves every narrower radius as a gated heap,
    * exact rerank paid once for the whole curve, decimal-exact mean
    * Recall@k per radius. Probe work is probe-table-sized
    * (|Q|·bands·probes), never corpus-sized; the signature tables are
    * built once.
    */
  def probeRecallCurve(
      base: DataFrame,
      bidCol: String,
      bvecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      radii: Seq[Int],
      numPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = -1
  ): DataFrame = {
    import graft.queries.Q.davg
    require(radii.nonEmpty, "need at least one probe radius")
    val rpb = numPlanes / bands
    val bsigs = Dedup
      .srpBandSigs(base, bidCol, bvecCol, numPlanes, bands, dim)
      .select(col("id").as("bid"), col("band"), col("sig"))
      .localCheckpoint() // probed once, at the widest radius
    val qsigs = Dedup
      .srpBandSigs(queries, qidCol, qvecCol, numPlanes, bands, dim)
      .select(col("id").as("qid"), col("band"), col("sig"))
      .localCheckpoint()
    // ONE probe table at the widest radius, each probe tagged with its
    // flip count; a candidate's requirement is the MIN flips over its
    // bucket matches, so each radius is a `req <= rad` null-gated heap
    // over one scored candidate table (TopKAgg skips nulls) — the former
    // per-radius union re-scored a radius-0 collision once per setting.
    val maxRad = radii.max
    val probes = qsigs.select(
      col("qid"), col("band"),
      explode(array(probesForTagged(col("sig"), rpb, maxRad).map {
        case (c, f) => struct(c.as("sig"), lit(f.toLong).as("flips"))
      }: _*)).as("pr"))
      .select(col("qid"), col("band"),
        col("pr.sig").as("sig"), col("pr.flips").as("flips"))
    val cand = probes
      .join(bsigs, Seq("band", "sig"))
      .groupBy(col("qid"), col("bid"))
      .agg(min(col("flips")).as("req"))
    val bv = base.select(
      col(bidCol).as("bid"),
      col(bvecCol).cast("array<double>").as("bv"))
      .withColumn("bnorm", sqrt(dotFast(col("bv"), col("bv"))))
    val qv = queries.select(
      col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("qv"))
      .withColumn("qnorm", sqrt(dotFast(col("qv"), col("qv"))))
    val heapCols = radii.map(rad =>
      topK(when(col("req") <= rad, col("negsim")), col("bid"), k)
        .as(s"tk$rad"))
    val approx = cand
      .join(bv, "bid")
      .join(broadcast(qv), "qid")
      .select(col("qid"), col("bid"), col("req"),
        (-(dotFast(col("qv"), col("bv")) / (col("qnorm") * col("bnorm"))))
          .as("negsim"))
      .groupBy(col("qid"))
      .agg(heapCols.head, heapCols.tail: _*)
      .select(
        col("qid"),
        explode(array(radii.map(rad =>
          struct(lit(rad.toLong).as("radius"),
            col(s"tk$rad.id").as("ids"))): _*)).as("x"))
      .select(col("x.radius").as("radius"), col("qid"),
        explode(col("x.ids")).as("id"))
    val truth = BruteForceKNN
      .knnCosine(
        queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv")),
        base.select(col(bidCol).as("neighbor_id"), col(bvecCol).as("bv")),
        k, qidCol = "qid", qvecCol = "qv")
      .select(col("qid"), col("neighbor_id").as("id"))
    approx
      .join(truth.withColumn("hit", lit(1L)), Seq("qid", "id"), "left")
      .groupBy(col("radius"), col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0L))) / k.toDouble).as("recall"))
      .groupBy(col("radius"))
      .agg(count(lit(1)).as("n_queries"), davg(col("recall")).as("mean_recall"))
  }

  def knnLsh(
      base: DataFrame,
      bidCol: String,
      bvecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      numPlanes: Int = 16,
      bands: Int = 4,
      dim: Int = -1,
      multiProbe: Boolean = true
  ): DataFrame = {
    require(k >= 1, s"knnLsh: k must be >= 1, got $k")
    val bsigs = Dedup
      .srpBandSigs(base, bidCol, bvecCol, numPlanes, bands, dim)
      .select(col("id").as("bid"), col("band"), col("sig"))
    val qsigs = Dedup.srpBandSigs(queries, qidCol, qvecCol, numPlanes, bands, dim)
    val qprobes =
      (if (multiProbe) Dedup.withSigProbes(qsigs, numPlanes / bands)
       else qsigs.withColumn("psig", col("sig")))
        .select(col("id").as("qid"), col("band"), col("psig").as("sig"))
    val cand = qprobes
      .join(bsigs, Seq("band", "sig"))
      .select(col("qid"), col("bid"))
      .distinct()
    val bv = base.select(
      col(bidCol).as("bid"),
      col(bvecCol).cast("array<double>").as("bv"))
      .withColumn("bnorm", sqrt(dotFast(col("bv"), col("bv"))))
    val qv = queries.select(
      col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("qv"))
      .withColumn("qnorm", sqrt(dotFast(col("qv"), col("qv"))))
    bestPer(cand.join(bv, "bid").join(broadcast(qv), "qid"), Seq("qid"),
      -(dotFast(col("qv"), col("bv")) / (col("qnorm") * col("bnorm"))),
      "bid", k)
      .select(
        col("qid").as("query_id"),
        col("bid").as("neighbor_id"),
        (-col("dist")).as("sim"),
        col("rnk"))
  }
}
