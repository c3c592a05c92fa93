package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, LongType, StructField, StructType}

/** Clustering evaluation — the measurements a selection/curation stack
  * publishes before trusting a clustering (SemDeDup blocking, topic
  * balance, curriculum buckets): external agreement against a ground
  * truth (Adjusted Rand Index, Hubert–Arabie 1985; Normalized Mutual
  * Information, Strehl–Ghosh 2002) and internal geometry
  * (Calinski–Harabasz 1974 variance ratio; Davies–Bouldin 1979
  * separation). Engine-portable by the house discipline: agreement is
  * pure integer combinatorics divided once; every order-dependent float
  * accumulation (entropy terms, distance sums, the k DB terms) routes
  * through DECIMAL(38,20) so both engines add exact decimals and divide
  * identical doubles.
  *
  * Scale: agreement is one aggregation, then driver arithmetic over
  * ≤ min(n, k·L) rows (the (cluster, label) contingency table); the
  * indexes are one per-point distance scan against broadcast centroids
  * and k-row centroid geometry — nothing pairwise in the corpus.
  */
object ClusterEval {

  private val dec = DecimalType(38, 20)
  private def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** External agreement of an assignment against ground-truth labels:
    * one row (n, ari, nmi).
    *
    * ARI = (Σij C(nij,2) − E) / ((Σi C(ai,2) + Σj C(bj,2))/2 − E) with
    * E = Σi C(ai,2)·Σj C(bj,2) / C(n,2) — all exact longs until the two
    * final divisions. NMI = MI / sqrt(H(U)·H(V)) with each entropy/MI
    * term ln-computed on exact integer ratios and decimal-routed.
    *
    * One aggregation (assign ⋈ truth → count per (cluster, label)) runs in
    * Spark; its ≤ min(n, k·L) cells are collected under
    * [[LocalGraph.MaxAuditNodes]] (a named error above it) and the rest
    * is driver arithmetic spelled exactly as Spark evaluates the
    * relational formula: C(x,2) as a long product halved in double and
    * truncated, `StrictMath.log` (what Spark's `log` calls), each entropy
    * and MI term cast to DECIMAL(38,20) and summed as Spark's Decimal, and
    * Spark's null and divide-by-zero rules — so both spellings agree bit
    * for bit (AuditLocalSpec pins it). Returns a one-row local frame.
    */
  def agreement(
      assign: DataFrame, // (id, cluster)
      truth: DataFrame // (id, label)
  ): DataFrame = {
    val spark = assign.sparkSession
    // the contingency table, one cell per (cluster, label) incl. null keys
    val cells = LocalGraph.collectCapped("agreement: contingency cells",
      assign.select(col("id"), col("cluster").cast("long").as("u"))
        .join(truth.select(col("id"), col("label").cast("long").as("v")), "id")
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("nij")),
      LocalGraph.MaxAuditNodes)
      .map(r => (Option.unless(r.isNullAt(0))(r.getLong(0)),
        Option.unless(r.isNullAt(1))(r.getLong(1)), r.getLong(2)))
    val n = cells.iterator.map(_._3).sum
    // Spark's arithmetic, term for term: a null operand makes a null, a
    // zero divisor raises DIVIDE_BY_ZERO under ANSI (else null), `log`
    // is null at or below 0, and every Σ is null over no input
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    def div(a: Double, b: Double): Option[Double] =
      if (b != 0) Some(a / b)
      else if (ansi) throw new ArithmeticException(
        s"agreement: [DIVIDE_BY_ZERO] Division by zero at n = $n")
      else None
    def ln(x: Double): Option[Double] = Option.when(x > 0)(StrictMath.log(x))
    def c2(x: Long): Long = (Math.multiplyExact(x, x - 1).toDouble / 2).toLong
    def lsum(xs: Iterable[Long]): Option[Long] = xs.reduceOption(Math.addExact(_: Long, _: Long))
    def decSum(terms: Iterable[Option[Double]]): Option[Double] =
      terms.flatten.map { t =>
        val d = Decimal(t)
        require(d.changePrecision(38, 20), s"agreement: term $t overflows DECIMAL(38,20)")
        d
      }.reduceOption(_ + _).map(_.toDouble)
    val au = cells.groupMapReduce(_._1)(_._3)(_ + _)
    val bv = cells.groupMapReduce(_._2)(_._3)(_ + _)
    val (sij, sa, sb) = (lsum(cells.map(c => c2(c._3))), lsum(au.values.map(c2)),
      lsum(bv.values.map(c2)))
    // MI/entropy terms: exact integers into ln, decimal-routed sums; the
    // MI cells are those whose cluster and label are both non-null
    val mi = decSum(cells.collect { case (Some(u), Some(v), nij) =>
      ln(n.toDouble * nij / (au(Some(u)).toDouble * bv(Some(v)))).map(nij.toDouble / n * _)
    })
    def entropy(margin: Iterable[Long]) =
      decSum(margin.map(a => ln(a.toDouble / n).map(-(a.toDouble / n) * _)))
    val (hu, hv) = (entropy(au.values), entropy(bv.values))
    // ARI = (sij - E) / ((sa+sb)/2 - E) with E = sa*sb/C(n,2). Degenerate
    // partitions (all-singletons or one-cluster on both sides) make the
    // denominator 0; convention (matching sklearn): 1.0 when the index
    // equals its expectation (identical trivial partitions), else 0.0.
    val e = for (a <- sa; b <- sb; r <- div(a.toDouble * b, c2(n).toDouble)) yield r
    val num = for (s <- sij; x <- e) yield s.toDouble - x
    val den = for (a <- sa; b <- sb; x <- e) yield Math.addExact(a, b).toDouble / 2.0 - x
    val ari = den match {
      case Some(d) if d == 0.0 => Some(if (num.exists(_ == 0.0)) 1.0 else 0.0)
      case Some(d) => num.flatMap(div(_, d))
      case None => None
    }
    val nmi = (hu, hv) match {
      case (Some(a), Some(b)) if a > 0 && b > 0 => mi.flatMap(div(_, math.sqrt(a * b)))
      case _ => Some(0.0)
    }
    def boxed(x: Option[Double]): Any = x.map(Double.box).orNull
    spark.createDataFrame(
      java.util.List.of(Row(n, boxed(ari), boxed(nmi))),
      StructType(Seq(
        StructField("n", LongType, nullable = false),
        StructField("ari", DoubleType),
        StructField("nmi", DoubleType))))
  }

  /** Centroids as a broadcastable (ck, cvec) frame. */
  private def centDf(
      spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("ck", "cvec")
  }

  /** Per-cluster census under an assignment: (cluster, n_pts, wss,
    * mean_dist) — within-cluster squared error and mean Euclidean
    * distance to the centroid, both decimal-routed.
    */
  def perCluster(
      points: DataFrame, // (id, v)
      assign: DataFrame, // (id, cluster)
      centroids: Array[Array[Double]]
  ): DataFrame = {
    val spark = points.sparkSession
    val withD = points
      .join(assign.select(col("id"), col("cluster").cast("long").as("ck")), "id")
      .join(broadcast(centDf(spark, centroids)), "ck")
      .withColumn("d2",
        graft.functions.VectorExpressions.l2SqFast(col("v"), col("cvec")))
    withD
      .groupBy(col("ck").as("cluster"))
      .agg(
        count(lit(1)).as("n_pts"),
        dsum(col("d2")).as("wss"),
        (dsum(sqrt(col("d2"))) / count(lit(1))).as("mean_dist"))
  }

  /** Internal indexes for the same assignment: one row
    * (n, wss, bss, ch, db).
    *
    * CH = (B/(k−1)) / (W/(n−k)) with W = Σ‖x−c(x)‖², B = Σ_j n_j‖c_j−μ‖²
    * (μ = the decimal-exact corpus mean); DB = (Σ_i max_{j≠i}
    * (s_i+s_j)/d_ij) / k with s_i the mean distance to centroid i and
    * d_ij the centroid distance — the k max-terms decimal-routed before
    * their sum.
    */
  def indexes(
      points: DataFrame, // (id, v)
      assign: DataFrame, // (id, cluster)
      centroids: Array[Array[Double]],
      dim: Int
  ): DataFrame = {
    val spark = points.sparkSession
    val k = centroids.length
    val per = perCluster(points, assign, centroids).localCheckpoint()
    // decimal-exact corpus mean, one map-side-combined pass
    val mu = points
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg((sum(col("x").cast(DecimalType(38, 30))).cast("double")
        / count(lit(1))).as("m"))
      .orderBy(col("pos"))
      .collect().map(_.getDouble(1))
    require(mu.length == dim, s"corpus mean has ${mu.length} dims, want $dim")
    val cents = centDf(spark, centroids)
      .withColumn("bs",
        graft.functions.VectorExpressions
          .l2SqFast(col("cvec"), typedLit(mu.toSeq)))
    val totals = per.agg(
      sum(col("n_pts")).as("n"),
      dsum(col("wss")).as("w"))
    val b = per
      .join(cents.select(col("ck").as("cluster"), col("bs")), "cluster")
      .agg(dsum(col("n_pts") * col("bs")).as("b"))
    // DB: k×k centroid geometry (tiny), max per row exact, k terms routed
    val sI = per.select(col("cluster").as("i"), col("mean_dist").as("si"))
    val sJ = per.select(col("cluster").as("j"), col("mean_dist").as("sj"))
    val dij = cents.select(col("ck").as("i"), col("cvec").as("ci"))
      .crossJoin(cents.select(col("ck").as("j"), col("cvec").as("cj")))
      .filter(col("i") =!= col("j"))
      .withColumn("dij",
        sqrt(graft.functions.VectorExpressions.l2SqFast(col("ci"), col("cj"))))
    val db = dij
      .join(sI, "i").join(sJ, "j")
      .groupBy(col("i"))
      .agg(max((col("si") + col("sj")) / col("dij")).as("r"))
      .agg((dsum(col("r")) / k).as("db"))
    totals.crossJoin(b).crossJoin(db)
      .select(
        col("n"),
        col("w").as("wss"),
        col("b").as("bss"),
        ((col("b") / (k - 1)) / (col("w") / (col("n") - k))).as("ch"),
        col("db"))
  }

  /** Embedding-space ISOTROPY census (Ethayarajh 2019; Mu & Viswanath
    * 2018): the exact mean pairwise cosine over all ordered pairs of
    * the L2-normalized table, computed WITHOUT pairs as
    * (‖Σu‖² − Σ‖u‖²) / (N(N−1)). Anisotropic (common-direction-
    * dominated) embeddings break cosine ANN and SemDeDup thresholds —
    * the one-row health check before trusting them. Returns
    * (n, d, mean_cos, mean_norm).
    *
    * Exactness: each normalized component cross-row-sums through
    * DECIMAL(38,30) (the centroid is order-free); in-row norm/square
    * sums are sequential ascending-index folds, the engine-portable
    * convention. Scale: one posexplode + one d-row component
    * aggregation — never a pair.
    *
    * Zero vectors are EXCLUDED (nrm > 0 filter) — they have no
    * direction, so u = x/‖x‖ would be NaN and silently poison the
    * census; the reported n counts only the unit-normalizable rows.
    */
  def isotropy(df: DataFrame, vecCol: String): DataFrame = {
    val dec30 = DecimalType(38, 30)
    val emb = df
      .select(col(vecCol).as("v"))
      .withColumn("nrm",
        sqrt(expr("aggregate(v, cast(0.0 as double), (a, x) -> a + x * x)")))
      .filter(col("nrm") > 0)
      .withColumn("u", expr("transform(v, x -> x / nrm)"))
    val comps = emb
      .select(posexplode(col("u")).as(Seq("t", "ut")))
      .groupBy(col("t"))
      .agg(sum(col("ut").cast(dec30)).cast("double").as("s"))
    val s2 = comps.agg(
      expr("aggregate(array_sort(collect_list(struct(t, s)))," +
        " cast(0.0 as double), (acc, x) -> acc + x.s * x.s)").as("s2"),
      count(lit(1)).as("d"))
    val scal = emb.agg(
      count(lit(1)).as("n"),
      (sum(col("nrm").cast(dec)).cast("double") / count(lit(1)))
        .as("mean_norm"),
      sum(expr("aggregate(u, cast(0.0 as double), (a, x) -> a + x * x)")
        .cast(dec30)).cast("double").as("q"))
    scal.crossJoin(s2)
      .select(
        col("n"), col("d"),
        round((col("s2") - col("q")) / (col("n") * (col("n") - 1)), 6)
          .as("mean_cos"),
        round(col("mean_norm"), 6).as("mean_norm"))
  }

  /** Reliability diagram of a [0,1] score against a binary label —
    * the calibration audit next to [[rocAuc]]'s ranking audit (a score
    * can rank perfectly and still be mis-calibrated; threshold-based
    * filtering trusts the VALUE): `bins` equal-width score bins, per
    * bin the count, positives, decimal-routed mean score, observed
    * positive rate and the signed gap (frac_pos − mean_score). ECE is
    * Σ (n_b/N)·|gap_b| — one weighted sum over the returned rows.
    * Bin index = floor(score·bins) clamped to bins−1: an integer
    * decision off the score, exact on any engine. One groupBy, ≤ bins
    * rows out.
    */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      posCol: String,
      bins: Int = 10
  ): DataFrame = {
    require(bins >= 2, s"calibrationBins: need >= 2 bins, got $bins")
    df.select(
        least(floor(col(scoreCol) * bins).cast("long"), lit(bins - 1L))
          .as("bin"),
        col(scoreCol).as("score"),
        when(col(posCol).cast("boolean"), 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("pos")).as("n_pos"),
        (sum(col("score").cast(DecimalType(30, 6))).cast("double")
          / count(lit(1))).as("mean_score"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        round(col("mean_score"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"),
        round(col("n_pos").cast("double") / col("n") - col("mean_score"), 6)
          .as("gap"))
  }

  /** Exact ROC-AUC of a ranking score against a binary label — the
    * Mann–Whitney rank statistic with AVERAGE ranks for tied scores
    * (the standard tie treatment, Hanley–McNeil 1982):
    * AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2) / (n⁺·n⁻). The whole statistic
    * stays in integers: per tie group the doubled average 1-based rank
    * is (rmin + rmax + 2) off a 0-based global rank, so the positives'
    * doubled rank sum S2 = Σ_g p_g·(rmin_g + rmax_g + 2) is an exact
    * long, and AUC = (S2 − n⁺(n⁺+1)) / (2·n⁺·n⁻) is ONE division of
    * exact integers — order-free, engine-portable, no float ranking
    * hazard. Degenerate label sides (n⁺ = 0 or n⁻ = 0) report the
    * uninformative 0.5.
    *
    * Scale: the global rank comes from [[Packing.distributedRank]]
    * (range partitions + driver prefix sum — never a one-partition
    * window over the corpus); the tie-group table is ≤ one row per
    * distinct score.
    *
    * Returns one row: (npos, nneg, n_groups, auc).
    */
  def rocAuc(df: DataFrame, scoreCol: String, posCol: String): DataFrame = {
    val j = df.select(
      col(scoreCol).as("sr"),
      col(posCol).cast("boolean").as("posb"),
      monotonically_increasing_id().as("tie"))
    // the within-group order is irrelevant (only rmin/rmax per score
    // group survive), so any total order works as the rank tie-break
    val ranked = Packing.distributedRank(j, Seq(col("sr"), col("tie")), "r")
    ranked
      .groupBy(col("sr"))
      .agg(
        min(col("r")).as("rmin"), max(col("r")).as("rmax"),
        sum(when(col("posb"), 1L).otherwise(0L)).as("p"),
        count(lit(1)).as("n"))
      .agg(
        sum(col("p")).as("npos"),
        sum(col("n") - col("p")).as("nneg"),
        count(lit(1)).as("n_groups"),
        sum(col("p") * (col("rmin") + col("rmax") + 2)).as("s2"))
      .select(
        col("npos"), col("nneg"), col("n_groups"),
        round(
          when(col("npos") > 0 && col("nneg") > 0,
            (col("s2") - col("npos") * (col("npos") + 1)).cast("double")
              / (lit(2.0) * col("npos") * col("nneg")))
            .otherwise(lit(0.5)), 6).as("auc"))
  }
}
