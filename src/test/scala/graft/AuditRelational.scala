package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Dedup
import graft.operators.GraphAudit.WedgeStats

/** Reference twins of the two evaluation audits that now finish on the
  * driver: [[graft.operators.ClusterEval.agreement]] (ARI/NMI) and
  * [[graft.operators.GraphAudit.scan]] over a WedgeStats artifact (the
  * SCAN role census). Each is the original all-relational spelling — a
  * plan of aggregates, cross joins and localCheckpoints — kept only for
  * AuditLocalSpec, which pins each driver-side operator equal to its twin
  * row for row and bit for bit.
  */
object AuditRelational {

  private val dec = DecimalType(38, 20)
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** External agreement of an assignment against ground-truth labels:
    * one row (n, ari, nmi).
    *
    * ARI = (Σij C(nij,2) − E) / ((Σi C(ai,2) + Σj C(bj,2))/2 − E) with
    * E = Σi C(ai,2)·Σj C(bj,2) / C(n,2) — all exact longs until the two
    * final divisions. NMI = MI / sqrt(H(U)·H(V)) with each entropy/MI
    * term ln-computed on exact integer ratios and decimal-routed.
    */
  def agreementRelational(
      assign: DataFrame, // (id, cluster)
      truth: DataFrame // (id, label)
  ): DataFrame = {
    val j = assign
      .select(col("id"), col("cluster").cast("long").as("u"))
      .join(truth.select(col("id"), col("label").cast("long").as("v")), "id")
      .localCheckpoint()
    val cont = j.groupBy(col("u"), col("v")).agg(count(lit(1)).as("nij"))
      .localCheckpoint()
    val au = cont.groupBy(col("u")).agg(sum(col("nij")).as("ai"))
    val bv = cont.groupBy(col("v")).agg(sum(col("nij")).as("bj"))
    val nDf = j.agg(count(lit(1)).as("n"))
    def c2(x: Column): Column = (x * (x - 1) / 2).cast("long")
    val sums = cont.agg(sum(c2(col("nij"))).as("sij"))
      .crossJoin(au.agg(sum(c2(col("ai"))).as("sa")))
      .crossJoin(bv.agg(sum(c2(col("bj"))).as("sb")))
      .crossJoin(nDf)
    // MI/entropy terms: exact integers into ln, decimal-routed sums
    val mi = cont
      .join(au, "u").join(bv, "v")
      .crossJoin(broadcast(nDf))
      .agg(dsum(
        (col("nij").cast("double") / col("n")) *
          log(col("n").cast("double") * col("nij") /
            (col("ai").cast("double") * col("bj")))).as("mi"))
    val hu = au.crossJoin(broadcast(nDf))
      .agg(dsum(-(col("ai").cast("double") / col("n")) *
        log(col("ai").cast("double") / col("n"))).as("hu"))
    val hv = bv.crossJoin(broadcast(nDf))
      .agg(dsum(-(col("bj").cast("double") / col("n")) *
        log(col("bj").cast("double") / col("n"))).as("hv"))
    sums
      .crossJoin(mi).crossJoin(hu).crossJoin(hv)
      .select(
        col("n"),
        {
          // ARI = (sij - E) / ((sa+sb)/2 - E) with E = sa*sb/C(n,2).
          // Degenerate partitions (all-singletons or one-cluster on both
          // sides) make the denominator 0; convention (matching sklearn):
          // 1.0 when the index equals its expectation (identical trivial
          // partitions), else 0.0.
          val e = col("sa").cast("double") * col("sb") / c2(col("n"))
          val num = col("sij").cast("double") - e
          val den = (col("sa") + col("sb")).cast("double") / 2.0 - e
          when(den === 0.0, when(num === 0.0, lit(1.0)).otherwise(lit(0.0)))
            .otherwise(num / den)
            .as("ari")
        },
        when(col("hu") > 0 && col("hv") > 0,
          col("mi") / sqrt(col("hu") * col("hv")))
          .otherwise(lit(0.0)).as("nmi"))
  }

  /** SCAN over a prebuilt [[WedgeStats]] artifact — the ε/μ decision is a
    * pure integer filter over the shared counts.
    */
  def scanRelational(
      stats: WedgeStats,
      epsSqNum: Long,
      epsSqDen: Long,
      mu: Int
  ): DataFrame = {
    require(epsSqNum > 0 && epsSqDen >= epsSqNum, "scan: need 0 < eps^2 <= 1")
    require(mu >= 2, s"scan: mu must be >= 2, got $mu")
    val ub = stats.u.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(stats.u.select(col("b").as("id"), col("a").as("nb")))
    val dg = stats.dg
    val eps = stats.cn
      .filter(
        lit(epsSqDen) * (col("c") + 2) * (col("c") + 2)
          >= lit(epsSqNum) * (col("da") + 1) * (col("db") + 1))
      .select(col("a"), col("b"))
      .localCheckpoint()
    val epsb = eps.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(eps.select(col("b").as("id"), col("a").as("nb")))
    val core = dg
      .join(epsb.groupBy(col("id")).agg(count(lit(1)).as("ne")), Seq("id"), "left")
      .filter(coalesce(col("ne"), lit(0L)) + 1 >= mu)
      .select(col("id"))
      .localCheckpoint()
    val epsc = eps
      .join(core.select(col("id").as("a")), "a")
      .join(core.select(col("id").as("b")), "b")
    val comps = Dedup.connectedComponents(epsc.select(col("a"), col("b")), "a", "b")
    val coreRep = core
      .join(
        comps.select(col("doc_id").as("id"), col("rep_id")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep_id"), col("id")).as("rep"))
      .localCheckpoint()
    val bord = epsb
      .join(coreRep.select(col("id").as("nb"), col("rep")), "nb")
      .join(core, Seq("id"), "left_anti")
      .groupBy(col("id"))
      .agg(min(col("rep")).as("rep"))
    val memb = coreRep.unionAll(bord).localCheckpoint()
    val hubq = ub
      .join(memb.select(col("id").as("nb"), col("rep")), "nb")
      .groupBy(col("id"))
      .agg(countDistinct(col("rep")).as("ncl"))
    dg
      .join(coreRep.select(col("id"), col("rep").as("crep")), Seq("id"), "left")
      .join(bord.select(col("id"), col("rep").as("brep")), Seq("id"), "left")
      .join(hubq, Seq("id"), "left")
      .select(
        col("id"), col("deg"),
        when(col("crep").isNotNull, lit("core"))
          .when(col("brep").isNotNull, lit("border"))
          .when(coalesce(col("ncl"), lit(0L)) >= 2, lit("hub"))
          .otherwise(lit("outlier")).as("role"),
        when(col("crep").isNotNull, col("crep"))
          .when(col("brep").isNotNull, col("brep"))
          .otherwise(lit(null).cast("long")).as("cluster"))
  }
}
